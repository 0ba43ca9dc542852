package graft.tools

import graft.{Bench, GraftConf, Json, QueryListener, SparkEntry}
import graft.QueryListener.{Batch, StageRow}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Single-query profiler: runs one registry query cold, then warm,
  * through [[graft.Bench.consume]] on the bench session and prints, per
  * run, the row count, wall, shuffle-write MB, the driver
  * phases (registry build, then analysis / optimization / planning from
  * the query's `QueryPlanningTracker`, then execution), the
  * generated-class compiles and their compile ms, one line per
  * streaming micro-batch the build ran (its `durationMs` map) and one
  * line per `graft.plans` operator that declares SQL metrics (`op
  * <node> k=v ...`, e.g. BucketAdmitJoin's pairs evaluated and admitted
  * rows) and one line per completed stage (submission instant `start_s`
  * relative to the run's start, wall, task and CPU time, input/shuffle
  * records, shuffle-write and spill MB, shuffle-write time, stage
  * name). A stage's `start_s + wall_s` is the run's time up to that
  * stage's end, driver time between stages included — the floor of an
  * iterative operator, whose rounds run inside the registry build.
  * Then the final adaptive plan in formatted form, one exchange line
  * (shuffle exchanges, their canonical forms, ReusedExchange nodes)
  * and a one-line JSON record.
  *
  * The build phase is the registry closure alone; analysis runs inside
  * it (a DataFrame analyzes eagerly), so the analysis ms is part of the
  * build wall. Optimization includes whatever a
  * [[graft.plans.DeferredBuild]] leaf runs when the optimizer builds it
  * (Butterfly's sizing ladder). Planning is forced before execution, so
  * `exec` is the execution alone.
  *
  * Args: `<query> [dir] [key=value ...]`. The second argument is the
  * table dir unless it holds a `=`; every `key=value` is set as a
  * session conf before the first run — e.g.
  * `spark.sql.adaptive.enabled=false` reads the non-adaptive exchange
  * layout, `spark.sql.shuffle.partitions=32` a wider shuffle.
  *
  * {{{ SPARK_GRAFT_CPUS=4 tools/runmain.sh graft.tools.Profile td_incremental_dedup <dir> spark.sql.shuffle.partitions=32 }}}
  */
object Profile extends AdaptiveSparkPlanHelper {

  /** `sec` = build + plan + exec; `phasesMs` = the tracker's analysis,
    * optimization and planning durations; `startMs` = the epoch ms the
    * run began; `ops` = each `graft.plans` operator's metrics. */
  final case class Run(rows: Long, sec: Double, shuffleMb: Double,
      buildSec: Double, phasesMs: Map[String, Long], execSec: Double,
      codegenClasses: Long, codegenMs: Long, batches: Seq[Batch],
      stages: Seq[StageRow], startMs: Long,
      ops: Seq[(String, Map[String, Long])])

  final case class Report(cold: Run, warm: Run, exchanges: String,
      json: String)

  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1000000)

  private val phaseNames = Seq("analysis", "optimization", "planning")

  /** SQL metric id → (pre-order position, node) over `plan`, its query
    * stages and subqueries. A stage is named by the topmost operator it
    * updated (AQE submits stages from a thread pool, whose call site
    * names the pool); one that updated none keeps its call site. */
  private def metricOwners(plan: SparkPlan): Map[Long, (Int, String)] =
    collectWithSubqueries(plan) {
      case p if !p.isInstanceOf[WholeStageCodegenExec] &&
        !p.isInstanceOf[InputAdapter] => p
    }.zipWithIndex.flatMap { case (p, i) =>
      p.metrics.values.map(_.id -> (i, p.simpleString(8).take(60)))
    }.groupMapReduce(_._1)(_._2)((a, b) => if (a._1 <= b._1) a else b)

  private val header =
    f"${"stage"}%5s ${"start_s"}%7s ${"wall_s"}%7s ${"task_s"}%8s " +
      f"${"cpu_s"}%8s ${"tasks"}%6s ${"in_rec"}%11s ${"sh_read"}%11s " +
      f"${"sh_write"}%11s ${"sw_MB"}%8s ${"spill_MB"}%9s ${"swrite_s"}%9s  name"

  private def line(s: StageRow, startMs: Long): String =
    f"${s.id}%5d ${(s.submitMs - startMs) / 1e3}%7.2f " +
      f"${s.wallMs / 1e3}%7.2f ${s.taskMs / 1e3}%8.1f ${s.cpuMs / 1e3}%8.1f " +
      f"${s.tasks}%6d ${s.inRec}%11d ${s.shReadRec}%11d ${s.shWriteRec}%11d " +
      f"${s.shWriteBytes / 1e6}%8.3f ${s.spillBytes / 1e6}%9.1f " +
      f"${s.shWriteMs / 1e3}%9.1f  ${s.name}"

  /** `(query, dir, confs)` from `<query> [dir] [key=value ...]`. */
  def parseArgs(args: Seq[String]): (String, String, Seq[(String, String)]) = {
    val name = args.headOption.getOrElse(throw new IllegalArgumentException(
      "usage: Profile <query> [dir] [key=value ...]"))
    val (dir, rest) = args.drop(1) match {
      case d +: more if !d.contains('=') => (d, more)
      case more => ("/root/testdata/sf0.1", more)
    }
    val confs = rest.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => (k, v)
        case _ => throw new IllegalArgumentException(
          s"conf argument '$kv' is not key=value")
      }
    }
    (name, dir, confs)
  }

  /** Profile registry query `name` on `dir` in `spark`, writing the
    * report lines to `out`. Each run is read from group "" of a
    * [[QueryListener]] (every job, stage and micro-batch while the run
    * is live) after a bus drain. A streaming query the run started
    * must have reported terminated by then: a stream posts that event
    * before `awaitTermination` or `stop` returns, and the registry
    * waits on one of them, so a stream still live fails the run. */
  def run(spark: SparkSession, name: String, dir: String,
      out: String => Unit = println): Report = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name; known: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    val meter = QueryListener.attach(spark)
    try {
      def once(tag: String) = {
        meter.drain(); meter.take("")
        val (c0, ms0) = codegen()
        val t0 = System.nanoTime()
        val e0 = System.currentTimeMillis()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val plan = df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = Bench.consume(df)
        val t3 = System.nanoTime()
        val (c1, ms1) = codegen()
        meter.drain()
        if (meter.liveStreams > 0) throw new IllegalStateException(
          s"${meter.liveStreams} streaming queries never reported terminated")
        val got = meter.take("")
        val mb = got.shuffleBytes / 1e6
        val phases = df.queryExecution.tracker.phases
          .collect { case (p, s) if phaseNames.contains(p) => p -> s.durationMs }
        val owners = metricOwners(plan)
        val named = got.stages.map { row =>
          row.accums.flatMap(owners.get).minByOption(_._1)
            .fold(row)(o => row.copy(name = o._2))
        }
        val ops = collectWithSubqueries(plan) {
          case p if p.getClass.getName.startsWith("graft.plans.") &&
            p.metrics.nonEmpty =>
            p.nodeName -> p.metrics.map { case (k, m) => k -> m.value }
        }
        val r = Run(rows, (t3 - t0) / 1e9, mb, (t1 - t0) / 1e9, phases,
          (t3 - t2) / 1e9, c1 - c0, ms1 - ms0, got.batches,
          named.sortBy(-_.taskMs), e0, ops)
        out(f"[profile] $tag $name rows=$rows wall=${r.sec}%.2f s " +
          f"shuffle_mb=$mb%.6f stages=${r.stages.size} " +
          f"build=${r.buildSec}%.2f s " +
          phaseNames.map(p => s"$p=${phases.getOrElse(p, 0L)}").mkString(" ") +
          f" ms exec=${r.execSec}%.2f s codegen=${r.codegenClasses} " +
          s"classes/${r.codegenMs} ms batches=${r.batches.size}")
        r.batches.foreach(b => out(s"[profile] $tag batch ${b.query} " +
          s"#${b.id} rows=${b.rows} " + b.durationMs.toSeq.sorted
            .map { case (k, v) => s"$k=$v" }.mkString("durationMs={", ", ", "}")))
        ops.foreach { case (node, ms) => out(s"[profile] $tag op $node " +
          ms.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")) }
        out(header)
        r.stages.foreach(s => out(line(s, e0)))
        (r, df)
      }
      val (cold, _) = once("cold")
      val (warm, df) = once("warm")
      val plan = df.queryExecution.executedPlan
      out(df.queryExecution.explainString(FormattedMode))
      val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
      val reused = collect(plan) { case r: ReusedExchangeExec => r }.size
      val exchanges = s"[profile] $name: ${shuffles.size} exchanges, " +
        s"${shuffles.groupBy(_.canonicalized).size} canonical forms, " +
        s"$reused ReusedExchange nodes"
      out(exchanges)
      val json = s"""{"query":${Json.str(name)},""" +
        f""""cold_sec":${cold.sec}%.3f,"cold_shuffle_mb":${cold.shuffleMb}%.6f,""" +
        f""""warm_sec":${warm.sec}%.3f,"warm_shuffle_mb":${warm.shuffleMb}%.6f,""" +
        s""""sf":${Json.str(dir)}}"""
      Report(cold, warm, exchanges, json)
    } finally meter.detach()
  }

  def main(args: Array[String]): Unit = {
    val (name, dir, confs) = parseArgs(args.toSeq)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val report = try {
      confs.foreach { case (k, v) =>
        println(s"[profile] conf $k=$v")
        spark.conf.set(k, v)
      }
      GraftConf.nonDefaults(spark) // a bad or undeclared key fails here
      spark.range(1000000).selectExpr("sum(id)").collect() // session warm-up
      run(spark, name, dir)
    } finally spark.stop()
    println(report.json)
  }
}
