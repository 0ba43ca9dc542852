package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.BusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** The one listener behind every measurement: shuffle-write bytes, job
  * count, completed stages and streaming micro-batches, each billed to
  * the JOB GROUP that owns it, so per-query readings stop bleeding
  * across neighbors (VERDICT r9 #2: with one global counter a heavy
  * query's late task events landed in the NEXT query's delta,
  * rel_graph_butterfly read 128 MB in-sweep vs 85 MB single-query). Job
  * start events map stage ids to the group the driver thread set via
  * `setJobGroup`; task-end and stage-completed events then bill their
  * stage's group. Work outside any "bench:" group (warm-up, canary, a
  * caller that never sets one) bills "".
  *
  * Streaming progress reaches Spark listeners too: the session's
  * streaming bus forwards every query event to the context's listener
  * bus, where [[onOtherEvent]] reads it.
  *
  * Events arrive asynchronously; read only after [[drain]], which
  * returns once every event posted so far has been handled here. A
  * [[take]] then holds everything the group's work did up to that
  * point. Pinned in GroupedShuffleSpec. */
final class QueryListener private (sc: SparkContext) extends SparkListener {
  import QueryListener._

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val runGroup = new ConcurrentHashMap[UUID, String]()
  private val groups = new ConcurrentHashMap[String, Reading]()

  /** Streaming fallback: a streaming query's micro-batch jobs run on
    * the StreamExecution thread, which REPLACES the driver thread's
    * "bench:…" job group with its own runId — so group-only attribution
    * zeroed every st_ query's shuffle. Jobs whose group is not a bench
    * group bill the CURRENTLY ACTIVE query instead (set/cleared by the
    * driver loop around each query; "" outside any query). The
    * fallback is resolved at JOB START (for a stream's progress, at
    * QUERY START) and frozen, so later events still bill the query
    * whose run started the job. */
  @volatile private var activeFallback = ""
  def setActiveFallback(g: String): Unit = activeFallback = g

  private def bill(group: String, r: Reading): Unit =
    groups.merge(group, r, _ + _)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("bench:"))
      .getOrElse(activeFallback)
    e.stageIds.foreach(sid => stageGroup.put(sid, g))
    bill(g, Reading(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) bill(stageGroup.getOrDefault(e.stageId, ""),
      Reading(shuffleBytes = m.shuffleWriteMetrics.bytesWritten))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val wall = (for {
      a <- si.completionTime; b <- si.submissionTime
    } yield a - b).getOrElse(-1L)
    val row = StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(60),
      si.numTasks, wall, m.executorRunTime,
      m.executorCpuTime / 1000000, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.recordsWritten,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
      m.shuffleWriteMetrics.writeTime / 1000000, si.accumulables.keySet.toSet)
    bill(stageGroup.getOrDefault(si.stageId, ""), Reading(stages = Vector(row)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: QueryStartedEvent => runGroup.put(s.runId, activeFallback)
    case p: QueryProgressEvent =>
      val q = p.progress
      bill(runGroup.getOrDefault(q.runId, activeFallback), Reading(batches =
        Vector(Batch(Option(q.name).getOrElse(q.runId.toString), q.batchId,
          q.numInputRows, q.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap))))
    case t: QueryTerminatedEvent => runGroup.remove(t.runId)
    case _ => ()
  }

  /** Waits until every event posted so far has been handled. */
  def drain(): Unit = BusShim.drain(sc)

  /** Everything `group` did since its last take (or since attach), and
    * a fresh window for what it does next. */
  def take(group: String): Reading =
    Option(groups.remove(group)).getOrElse(Reading())

  /** Streaming queries seen starting and not yet seen terminating. */
  def liveStreams: Int = runGroup.size

  /** (result, seconds, reading) for one run of `f`, the reading taken
    * through group "" (every job and task) — the tools' one meter.
    * Explicit GC first: at multi-GB shuffle volumes accumulated heap
    * debt dominates run-to-run variance (52.6 vs 98 s observed for an
    * identical plan; the bench canary's min-after-GC discipline). */
  def timed[A](f: => A): (A, Double, Reading) = {
    System.gc()
    drain(); take("")
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    drain()
    (r, sec, take(""))
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object QueryListener {

  /** One completed stage attempt, from its aggregated task metrics,
    * with the accumulator ids its tasks updated. */
  final case class StageRow(id: Int, name: String, tasks: Int,
      wallMs: Long, taskMs: Long, cpuMs: Long, inRec: Long,
      shReadRec: Long, shWriteRec: Long, shWriteBytes: Long,
      spillBytes: Long, shWriteMs: Long, accums: Set[Long])

  /** One streaming micro-batch's progress. */
  final case class Batch(query: String, id: Long, rows: Long,
      durationMs: Map[String, Long])

  /** What one job group did within a [[QueryListener.take]] window. */
  final case class Reading(shuffleBytes: Long = 0L, jobs: Int = 0,
      stages: Vector[StageRow] = Vector.empty,
      batches: Vector[Batch] = Vector.empty) {
    def +(o: Reading): Reading = Reading(shuffleBytes + o.shuffleBytes,
      jobs + o.jobs, stages ++ o.stages, batches ++ o.batches)
  }

  /** A listener registered on `spark` until the caller detaches it (a
    * sweep, in `finally`) or the session stops (a one-rung JVM). */
  def attach(spark: SparkSession): QueryListener = {
    val l = new QueryListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    l
  }
}
