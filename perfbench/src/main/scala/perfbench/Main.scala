package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Run-record JSON, next to the program's string escaper `graft.Json.str`. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${graft.Json.str(k)}:$v" }.mkString("{", ",", "}")
}

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1`
  * plus the checkout layout the launcher (`run.py`) passes in. Prints
  * the result object as the last line of stdout and writes the full run
  * record (stamp, per-iteration timings, spans) to `--record`. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, expected: String,
      record: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("expected"),
      need("record"))
  }

  /** Input rows, scaled down so a run fits the benchmark's time budget;
    * at these sizes the pipelines' per-job overhead dominates (see
    * NOTES.md). */
  val CallsRows = 24000
  val GdsRows = 150000

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** The committed `{"query": rows}` table. */
  private def readExpected(path: String): Map[String, Long] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).properties.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap

  /** Untimed, before each iteration: collect the heap (garbage left by
    * the previous iteration neither pauses the next one nor counts in
    * its peak) and let the JIT finish the compilations the previous
    * iteration queued (they would otherwise compete for cores with the
    * next one): wait until compile time stops growing for 250 ms,
    * at most 3 s. */
  private def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val until = System.nanoTime() + 3000000000L
    var last = jit.getTotalCompilationTime
    var quietSince = System.nanoTime()
    while (System.nanoTime() - quietSince < 250000000L && System.nanoTime() < until) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val gc = new GcPeak
    gc.install()
    val w: Workload = o.workload match {
      case "calls_pipeline" => new CallsPipeline(o.seed, CallsRows, o.work)
      case "contacts_prepare" => new ContactsPrepare(o.seed, GdsRows, o.work)
      case "engine_panel" =>
        new EnginePanel(o.seed, o.data, readExpected(o.expected))
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(Paths.get(o.work))
    val spark = w.session()
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // set-up, JVM start to the first timed call: session, inputs, warm-up
    val prepT0 = System.nanoTime()
    w.prepare(spark)
    val prepareS = (System.nanoTime() - prepT0) / 1e9
    val warmT0 = System.nanoTime()
    w.warmup(spark)
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // tracing: listeners are attached only around traced iterations
    val stage = new StageListener
    val stream = new StreamListener
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val qeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = qes.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qe)
    }
    val tracer = new Tracer(false,
      name => { sc.setJobGroup(StageListener.Prefix + name, name); stage.active = name },
      {
        case Some(p) => sc.setJobGroup(StageListener.Prefix + p, p); stage.active = p
        case None => sc.clearJobGroup(); stage.active = ""
      })
    def attach(on: Boolean): Unit = {
      org.apache.spark.PerfbenchBus.drain(sc)
      if (on) {
        sc.addSparkListener(stage); spark.streams.addListener(stream)
        spark.listenerManager.register(qeListener)
      } else {
        sc.removeSparkListener(stage); spark.streams.removeListener(stream)
        spark.listenerManager.unregister(qeListener)
      }
    }

    final case class Done(i: Int, traced: Boolean, seconds: Double, it: Iter,
        layer: Map[String, Double])
    val runs = scala.collection.mutable.ArrayBuffer.empty[Done]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    // iteration 0 is the cold one; in a traced run it is traced, then
    // untraced and traced iterations alternate (the untraced ones give
    // the overhead baseline)
    def tracedIter(i: Int) = o.trace && i % 2 == 0
    val minIters = if (o.trace) 3 else w.minIterations
    var last = 0.0
    while (i < minIters || (elapsed + last <= o.seconds && i < 200)) {
      val traced = tracedIter(i)
      if (o.trace) attach(traced)
      tracer.enabled = traced
      settle()
      gc.armed = true
      qes.clear()
      val stage0 = stage.counters.snapshot
      val stream0 = stream.counters.snapshot
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val s0 = System.nanoTime()
      val it = tracer.iteration(i)(w.iterate(spark, i, tracer))
      val secs = (System.nanoTime() - s0) / 1e9
      gc.armed = false
      it.runChecks()
      w.after(spark)
      val layer =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.PerfbenchBus.drain(sc)
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          Layers.of(w.name, tracer.spansOf(i),
            Counters.delta(stage.counters.snapshot, stage0),
            Counters.delta(stream.counters.snapshot, stream0),
            (qes.asScala.toSeq ++ it.plans).distinct, it,
            compiles, CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3)
        }
      runs += Done(i, traced, secs, it, layer)
      last = secs
      i += 1
    }
    if (o.trace) attach(false)
    val measuredS = elapsed
    val done = runs.toSeq

    val attempted = done.map(_.it.attempted).sum
    val failed = done.map(_.it.failed).sum
    val failures = done.flatMap(d => d.it.failures.map(f => s"iteration ${d.i}: $f"))
    val cold = done.head
    val warm = done.tail.filterNot(_.traced)
    val warmS = median(warm.map(_.seconds))
    val callNames = cold.it.calls.keys.toSeq
    def warmCall(c: String) = median(warm.flatMap(_.it.calls.get(c)))
    val geo = geomean(callNames.map(warmCall))
    val rows = w.rowsPerIteration(cold.it)

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("cold_s", cold.seconds, "s"),
      ("warm_s", warmS, "s"),
      ("rows_per_s", rows / warmS, "1/s"),
      ("query_geomean_s", geo, "s"))

    val perLayer: Seq[(String, Double, String)] =
      if (!o.trace) Nil
      else {
        val tracedWarm = done.tail.filter(_.traced)
        val keys = Layers.names(EnginePanel.panel)
        val special: Map[String, Double] = EnginePanel.panel.flatMap { q =>
          Seq(s"query.$q.cold_s" -> cold.it.calls.getOrElse(q, 0.0),
            s"query.$q.warm_s" -> (if (cold.it.calls.contains(q)) warmCall(q) else 0.0))
        }.toMap ++ Map(
          "trace.overhead_s" -> (median(tracedWarm.map(_.seconds)) - warmS),
          "peak_heap_mb" -> gc.peakMb,
          "failed_frac" -> failed.toDouble / math.max(1, attempted))
        keys.map { case (k, unit) =>
          val v = special.getOrElse(k,
            if (Layers.coldOnly(k)) cold.layer.getOrElse(k, 0.0)
            else median(tracedWarm.map(_.layer.getOrElse(k, 0.0))))
          (k, v, unit)
        }
      }

    // --- the run record -------------------------------------------------
    val stamp = Seq(
      "workload" -> graft.Json.str(w.name),
      "seed" -> o.seed.toString,
      "seconds" -> Json.num(o.seconds),
      "trace" -> o.trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
      "spark_version" -> graft.Json.str(spark.version),
      "java_version" -> graft.Json.str(System.getProperty("java.version")),
      "git_commit" -> Option(System.getProperty("perfbench.commit"))
        .filter(_.nonEmpty).map(graft.Json.str).getOrElse("null"),
      "source_digest" -> graft.Json.str(System.getProperty("perfbench.digest", "")),
      "input_rows" -> w.inputRows.toString,
      "input_bytes" -> w.inputBytes.toString,
      "graft_confs" -> Json.obj(spark.conf.getAll.toSeq.sorted
        .filter(_._1.startsWith("spark.graft.")).map { case (k, v) => k -> graft.Json.str(v) }))
    val metricsJson = (ms: Seq[(String, Double, String)]) => Json.obj(ms.map {
      case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> graft.Json.str(u)))
    })
    val record = Json.obj(Seq(
      "stamp" -> Json.obj(stamp),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "prepare_s" -> Json.num(prepareS), "warmup_s" -> Json.num(warmupS),
        "wall_s" -> Json.num(setupS))),
      "measured_s" -> Json.num(measuredS),
      "iterations" -> done.map { d =>
        Json.obj(Seq("i" -> d.i.toString, "traced" -> d.traced.toString,
          "seconds" -> Json.num(d.seconds),
          "calls" -> Json.obj(d.it.calls.toSeq.map { case (k, v) => k -> Json.num(v) }),
          "rows" -> Json.obj(d.it.rows.toSeq.map { case (k, v) => k -> v.toString }),
          "layer" -> Json.obj(d.layer.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
      }.mkString("[", ",\n", "]"),
      "failures" -> failures.map(graft.Json.str).mkString("[", ",", "]"),
      "end_to_end" -> metricsJson(e2e),
      "per_layer" -> metricsJson(perLayer),
      "spans" -> Tracer.toJson(tracer.spans)))
    Files.createDirectories(Paths.get(o.record).getParent)
    Files.write(Paths.get(o.record), (record + "\n").getBytes("UTF-8"))

    val selfErr = done.filter(_.traced).map(d => Tracer.selfSumError(tracer.spansOf(d.i)))
    val traceOk = selfErr.forall(_ < 1e-6)
    if (!traceOk) System.err.println(s"perfbench: self times do not sum to the root: $selfErr")
    failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
    spark.stop()
    println(s"perfbench: record ${o.record}")
    println(Json.obj(Seq(
      "correct" -> (failed == 0 && traceOk).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metricsJson(if (o.trace) perLayer else e2e))))
  }
}
