package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Named counters, summed per key; `snapshot` + `delta` give the counts
  * of one iteration. */
final class Counters {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit =
    m.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def snapshot: Map[String, Double] =
    m.asScala.view.mapValues(_.sum()).toMap
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Stage and task metrics billed to the job group that launched them
  * (the `GroupedShuffleListener` pattern of `graft.Bench`): job start
  * maps each stage id to its group, so task and stage events that arrive
  * late still bill the right layer. The group is the innermost open
  * span; jobs launched off the driver thread (streaming micro-batches)
  * carry their own group and bill the span active when the job starts.
  * Keys are `<group>|<counter>`. */
final class StageListener extends SparkListener {
  val counters = new Counters
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, DoubleAdder]()
  @volatile var active = ""

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(StageListener.Prefix))
      .map(_.stripPrefix(StageListener.Prefix))
      .getOrElse(active)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    counters.add(s"$g|jobs", 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitted.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, active)
    def add(k: String, v: Double): Unit = counters.add(s"$g|$k", v)
    add("tasks", 1)
    if (e.taskInfo.failed || e.taskInfo.killed) add("failed_tasks", 1)
    Option(stageSubmitted.get(e.stageId)).foreach(t =>
      add("task_wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3))
    val m = e.taskMetrics
    if (m != null) {
      add("task_s", m.executorRunTime / 1e3)
      add("cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead) / 1e6)
      add("spill_mb", m.diskBytesSpilled / 1e6)
      stageTaskMs.computeIfAbsent(e.stageId, _ => new DoubleAdder)
        .add(m.executorRunTime.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val g = stageGroup.getOrDefault(s.stageId, active)
    def add(k: String, v: Double): Unit = counters.add(s"$g|$k", v)
    val wall = (for (a <- s.submissionTime; b <- s.completionTime)
      yield (b - a) / 1e3).getOrElse(0.0)
    add("stages", 1)
    if (s.numTasks == 1) add("single_task_stage_s", wall)
    // a stage whose RDD chain starts at a file scan re-reads its input
    if (s.rddInfos.exists(_.name == "FileScanRDD")) {
      add("scan_passes", 1)
      add("scan_tasks", s.numTasks)
      add("scan_wall_s", wall)
      add("scan_task_s", Option(stageTaskMs.get(s.stageId))
        .map(_.sum() / 1e3).getOrElse(0.0))
    }
    stageTaskMs.remove(s.stageId)
    stageSubmitted.remove(s.stageId)
  }
}

object StageListener {
  /** Job-group prefix marking groups set by the tracer. */
  val Prefix = "perfbench:"
}

/** Streaming progress totals: batches, trigger and phase times, state
  * store commit time and rows held in state at each query's last batch. */
final class StreamListener extends StreamingQueryListener {
  val counters = new Counters
  private val stateRows = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    counters.add("batches", 1)
    counters.add("trigger_s", ms("triggerExecution"))
    counters.add("add_batch_s", ms("addBatch"))
    counters.add("wal_commit_s", ms("walCommit"))
    counters.add("state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
    val rows = p.stateOperators.map(_.numRowsTotal).sum
    val prev = Option(stateRows.put(p.runId, rows)).map(_.longValue).getOrElse(0L)
    counters.add("state_rows", (rows - prev).toDouble)
  }
}

/** Work counters read from executed plans: for every verify step — a
  * filter, or a join whose condition the optimizer moved the filter
  * into — the rows entering it (the candidate pairs) and the rows it
  * kept. Metrics are deduplicated by accumulator id, so a plan reached
  * twice (a cached relation, a reused exchange) is counted once. */
object PlanCounters extends AdaptiveSparkPlanHelper {

  /** (kernel tag, substring of the expression that marks its verify). */
  val kernels: Seq[(String, String)] = Seq(
    "dedup" -> "array_intersect", // GraftFunctions.jaccard
    "fuzzy" -> "graft_lev_le") // GraftFunctions.levLe

  private def rowsOut(p: SparkPlan): Option[(Long, Long)] =
    p.metrics.get("numOutputRows").map(m => (m.id, m.value))

  /** What lies under a verify filter: the filters among its row-preserving
    * wrappers (projection, codegen boundaries), the expressions the
    * projections compute, and the operator below them that produced the
    * candidates. */
  private final case class Chain(filters: List[FilterExec],
      projected: List[NamedExpression], below: SparkPlan)

  private def chain(p: SparkPlan): Chain = p match {
    case f: FilterExec =>
      val c = chain(f.child); c.copy(filters = f :: c.filters)
    case x: ProjectExec =>
      val c = chain(x.child); c.copy(projected = x.projectList.toList ++ c.projected)
    case x: InputAdapter => chain(x.child)
    case x: WholeStageCodegenExec => chain(x.child)
    case other => Chain(Nil, Nil, other)
  }

  /** The verify a filter performs: marked in its predicate, or in a
    * projection under it that computes a column the predicate reads (the
    * fuzzy join filters on `dist >= 0` above the projection that computes
    * `dist` with `graft_lev_le`). */
  private def filterTag(f: FilterExec, c: Chain): Option[String] =
    tagOf(f.condition).orElse {
      val read = f.condition.references.map(_.exprId).toSet
      c.projected.collect { case a: Alias if read(a.exprId) => tagOf(a.child) }
        .flatten.headOption
    }

  private def walk(p: SparkPlan, f: SparkPlan => Unit): Unit =
    foreach(p) {
      case m: InMemoryTableScanExec =>
        f(m); walk(m.relation.cachedPlan, f)
      case other => f(other)
    }

  private def tagOf(pred: Expression): Option[String] = {
    val sql = pred.sql
    kernels.collectFirst { case (tag, mark) if sql.contains(mark) => tag }
  }

  /** `<tag>.in` / `<tag>.kept` row counts over `plans`. */
  def count(plans: Seq[SparkPlan]): Map[String, Double] = {
    val seen = scala.collection.mutable.Set.empty[Long]
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def record(tag: String, verify: SparkPlan, input: SparkPlan): Unit =
      for ((id, kept) <- rowsOut(verify) if seen.add(id)) {
        out(s"$tag.kept") += kept
        for ((bid, in) <- rowsOut(input) if seen.add(bid)) out(s"$tag.in") += in
      }
    plans.foreach(root => walk(root, {
      case f: FilterExec =>
        val c = chain(f.child)
        filterTag(f, c).foreach { tag =>
          // filters further down the same chain belong to this verify
          if (!rowsOut(f).exists(x => seen.contains(x._1)))
            c.filters.flatMap(rowsOut).foreach(x => seen.add(x._1))
          record(tag, f, c.below)
        }
      case j: BaseJoinExec =>
        // the rows probed into the join are the candidate pairs
        j.condition.flatMap(tagOf).foreach { tag =>
          val probe = j match {
            case h: HashJoin if h.buildSide == BuildLeft => h.right
            case other => other.left
          }
          record(tag, j, chain(probe).below)
        }
      case _ => ()
    }))
    out.toMap
  }
}

/** The largest heap occupancy right after any GC while armed: the
  * live-set high-water mark of the timed region. */
final class GcPeak {
  @volatile var armed = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ => ()
    }

  def peakMb: Double = peak / 1e6
}
