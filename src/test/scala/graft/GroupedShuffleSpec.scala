package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[GroupedShuffleListener]]'s attribution (VERDICT r9 #2): a
  * query's shuffle bytes bill the job group the driver thread set,
  * never a neighbor's — the round-9 single-counter listener let a heavy
  * query's late task events land in the NEXT query's delta
  * (rel_graph_butterfly: 128 MB in-sweep vs 85 MB single-query).
  */
class GroupedShuffleSpec extends AnyFunSuite with SparkTestSession {

  test("shuffle bytes bill the owning job group, not neighbors") {
    val listener = new GroupedShuffleListener
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("bench:shuffler", "shuffler")
      spark.range(200000)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").count().collect()
      spark.sparkContext.clearJobGroup()

      spark.sparkContext.setJobGroup("bench:mapper", "mapper")
      spark.range(1000).collect() // shuffle-free
      spark.sparkContext.clearJobGroup()

      assert(listener.settled("bench:shuffler") > 0L,
        "the aggregating query must bill its own group")
      assert(listener.settled("bench:mapper") === 0L,
        "a shuffle-free query must not inherit a neighbor's bytes")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("non-bench job groups bill the active fallback query") {
    // a streaming query's micro-batch thread replaces the driver's
    // "bench:…" group with its runId; the listener must route those
    // jobs to the active query instead of zeroing its shuffle
    val listener = new GroupedShuffleListener
    spark.sparkContext.addSparkListener(listener)
    try {
      listener.setActiveFallback("bench:streamish")
      // simulate the stream thread: a job group NOT prefixed "bench:"
      spark.sparkContext.setJobGroup("run-abc-123", "microbatch")
      spark.range(200000)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").count().collect()
      spark.sparkContext.clearJobGroup()
      listener.setActiveFallback("")

      assert(listener.settled("bench:streamish") > 0L,
        "a foreign-group job during a query must bill that query")
      assert(listener.settled("run-abc-123") === 0L,
        "the foreign group itself must not accumulate")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("without a bench group, group \"\" bills every task") {
    // the graph ladders, the probes and tools.Profile never set a
    // "bench:" job group; "" must then read what a global task-end
    // counter reads.
    // The counter is registered FIRST: the bus hands each event to its
    // listeners in registration order, so once `listener` has settled
    // the counter has seen every event too.
    val global = new java.util.concurrent.atomic.AtomicLong
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          global.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val listener = new GroupedShuffleListener
    spark.sparkContext.addSparkListener(counter)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(200000)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").count().collect()
      spark.sparkContext.setJobGroup("run-xyz", "foreign")
      spark.range(200000)
        .selectExpr("id % 997 AS k", "id AS v")
        .groupBy("k").count().collect()
      spark.sparkContext.clearJobGroup()
      val all = listener.settled("")
      assert(all > 0L && all === global.get)
      assert(listener.bytesFor("run-xyz") === 0L)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.sparkContext.removeSparkListener(counter)
    }
  }
}
