package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class ConnectedComponentsSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    // union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) =>
      val m = ns.min; ns.map(_ -> m)
    }.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.labels(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star contraction labels long chains, cycles, and stars correctly") {
    val chain = (1L until 40L).map(i => (i, i + 1)) // diameter 39
    val cycle = Seq((100L, 101L), (101L, 102L), (102L, 100L))
    val star = (201L to 210L).map(i => (200L, i))
    val dup = Seq((300L, 301L), (301L, 300L), (300L, 300L)) // dup + self-loop
    val edges = chain ++ cycle ++ star ++ dup
    assert(run(edges) == brute(edges))
  }

  test("star contraction == min-label propagation on random graphs") {
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = Seq.fill(250) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      val a = run(edges)
      val b = ConnectedComponents.labelPropagation(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, s"trial $trial diverged")
      assert(a == brute(edges), s"trial $trial wrong vs union-find")
    }
  }

  test("empty edge set yields empty labels") {
    assert(run(Nil).isEmpty)
  }

  /** Set runtime confs for the duration of `body`, restoring previous
    * values (or unsetting) afterwards — the shared session outlives each
    * test. */
  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val checkpointDir = graft.GraftConf.CheckpointDir.name

  test("per-node min plans as a salted two-phase aggregate") {
    val nbrs = Seq((1L, 2L), (1L, 3L), (4L, 2L)).toDF("u", "v")
    def hashAggs(salt: Int): Int =
      "HashAggregate".r
        .findAllIn(ConnectedComponents.perNodeMin(nbrs, salt)
          .queryExecution.executedPlan.toString)
        .length
    // salted: partial+final over (u, salt), then partial+final over u
    assert(hashAggs(8) == 4)
    // degraded single-phase form: one partial+final pair
    assert(hashAggs(0) == 2)
  }

  test("salt disabled (saltBuckets=0) still labels correctly") {
    withConf("spark.graft.cc.saltBuckets" -> "0") {
      val edges = (1L until 30L).map(i => (i, i + 1)) ++ Seq((50L, 51L))
      assert(run(edges) == brute(edges))
    }
  }

  test("hub node (degree 1e5) completes without a single-task straggler") {
    val hubDegree = 100000
    // one giant star at node 0 plus a chain so >1 round is needed
    val edges = (1 to hubDegree).map(i => (0L, i.toLong)) ++
      (200000L until 200010L).map(i => (i, i + 1))
    // record per-task shuffle-read rows; with the salted two-phase min,
    // AQE-broadcastable mins, and partial aggregation, no task should
    // ever pull the hub's whole neighborhood across the wire
    val maxTaskRecords = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          maxTaskRecords.getAndAccumulate(
            m.shuffleReadMetrics.recordsRead, math.max)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try withConf(
      // pin real distribution at fixture scale: no tiny-exchange coalescing
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8") {
      val got = run(edges)
      assert(got == brute(edges))
      // listener events are async — the bus fence delivers every one
      org.apache.spark.graft.BusShim.drain(spark.sparkContext)
      assert(maxTaskRecords.get() < hubDegree / 2,
        s"a task shuffle-read ${maxTaskRecords.get()} rows — hub landed on one reducer")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("reliable checkpoint mode matches default mode and writes files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ck")
    try {
      val edges = (1L until 40L).map(i => (i, i + 1)) // diameter 39, >1 round
      val expected = brute(edges)
      val got = withConf(checkpointDir -> dir.toString) {
        run(edges)
      }
      assert(got == expected)
      // reliable checkpoints actually landed on disk, and every round's
      // superseded one was released: what remains is round 0's (the
      // final labeling's `nodes` side still reads it) plus the latest.
      // Every round is reliable, so no intermediate round's dir may leak.
      import scala.jdk.CollectionConverters._
      val rddDirs = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("rdd-")).toSeq
      assert(rddDirs.nonEmpty, "no reliable checkpoint directories written")
      assert(rddDirs.size == 2,
        s"expected round-0 + latest checkpoint dirs only, got: $rddDirs")
      // one context checkpoint dir for the run, not one per round
      assert(java.nio.file.Files.list(dir).count() == 1)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("reliable mode roots every round at the checkpoint: source computed once") {
    // The restart-safety property behind reliable checkpointing: once the
    // round-0 checkpoint lands, NOTHING re-executes the (possibly
    // expensive) edge-producing pipeline — later rounds, the final
    // labeling's `nodes` side, and any recompute read checkpoint files or
    // cached blocks. A lineage bug here would re-run the source, which
    // the partition-compute counter detects.
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ck-src")
    try {
      CcSourceComputeCounter.n.set(0)
      import spark.implicits._
      val source = spark.createDataset(1L until 40L).repartition(1)
        .mapPartitions { it =>
          CcSourceComputeCounter.n.incrementAndGet()
          it.map(i => (i, i + 1))
        }.toDF("src", "dst")
      val got = withConf(checkpointDir -> dir.toString) {
        ConnectedComponents.labels(source)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(got == brute((1L until 40L).map(i => (i, i + 1))))
      assert(CcSourceComputeCounter.n.get() == 1,
        s"source pipeline computed ${CcSourceComputeCounter.n.get()} times — " +
          "rounds are not rooted at the reliable checkpoint")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}

/** JVM-wide partition-compute counter for the source-computed-once test
  * (local mode: executors share the test JVM, so a static is visible). */
object CcSourceComputeCounter {
  val n = new java.util.concurrent.atomic.AtomicInteger
}
