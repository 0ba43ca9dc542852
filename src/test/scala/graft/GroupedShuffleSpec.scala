package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[QueryListener]]'s attribution (VERDICT r9 #2): a query's
  * shuffle bytes, jobs and stages bill the job group the driver thread
  * set, never a neighbor's — the round-9 single-counter listener let a
  * heavy query's late task events land in the NEXT query's delta
  * (rel_graph_butterfly: 128 MB in-sweep vs 85 MB single-query) — and
  * one bus drain makes every reading complete.
  */
class GroupedShuffleSpec extends AnyFunSuite with SparkTestSession {

  private def aggregate(mod: Int): Unit =
    spark.range(200000)
      .selectExpr(s"id % $mod AS k", "id AS v")
      .groupBy("k").count().collect()

  test("shuffle bytes bill the owning job group, not neighbors") {
    val listener = QueryListener.attach(spark)
    try {
      spark.sparkContext.setJobGroup("bench:shuffler", "shuffler")
      aggregate(1000)
      spark.sparkContext.clearJobGroup()

      spark.sparkContext.setJobGroup("bench:mapper", "mapper")
      spark.range(1000).collect() // shuffle-free
      spark.sparkContext.clearJobGroup()

      listener.drain()
      assert(listener.take("bench:shuffler").shuffleBytes > 0L,
        "the aggregating query must bill its own group")
      assert(listener.take("bench:mapper").shuffleBytes === 0L,
        "a shuffle-free query must not inherit a neighbor's bytes")
    } finally listener.detach()
  }

  test("non-bench job groups bill the active fallback query") {
    // a streaming query's micro-batch thread replaces the driver's
    // "bench:…" group with its runId; the listener must route those
    // jobs to the active query instead of zeroing its shuffle
    val listener = QueryListener.attach(spark)
    try {
      listener.setActiveFallback("bench:streamish")
      // simulate the stream thread: a job group NOT prefixed "bench:"
      spark.sparkContext.setJobGroup("run-abc-123", "microbatch")
      aggregate(1000)
      spark.sparkContext.clearJobGroup()
      listener.drain()
      listener.setActiveFallback("")

      assert(listener.take("bench:streamish").shuffleBytes > 0L,
        "a foreign-group job during a query must bill that query")
      assert(listener.take("run-abc-123").shuffleBytes === 0L,
        "the foreign group itself must not accumulate")
    } finally listener.detach()
  }

  test("without a bench group, group \"\" bills every task") {
    // the graph ladders, the probes and tools.Profile never set a
    // "bench:" job group; "" must then read what a global task-end
    // counter reads. The counter is registered AFTER the listener: the
    // drain waits for every listener, so no registration order or
    // sleep is needed for both to be complete.
    val listener = QueryListener.attach(spark)
    val global = new java.util.concurrent.atomic.AtomicLong
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          global.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      aggregate(1000)
      spark.sparkContext.setJobGroup("run-xyz", "foreign")
      aggregate(997)
      spark.sparkContext.clearJobGroup()
      listener.drain()
      val all = listener.take("").shuffleBytes
      assert(all > 0L && all === global.get)
      assert(listener.take("run-xyz").shuffleBytes === 0L)
    } finally {
      listener.detach()
      spark.sparkContext.removeSparkListener(counter)
    }
  }

  test("one drain completes a group's job count and stage rows") {
    val listener = QueryListener.attach(spark)
    try {
      spark.sparkContext.setJobGroup("bench:twojobs", "two jobs")
      // adaptive execution runs the shuffle map stage as its own job,
      // then the result stage
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      aggregate(1000)
      spark.sparkContext.clearJobGroup()
      listener.drain()
      val r = listener.take("bench:twojobs")
      assert(r.jobs === 2, r)
      assert(r.shuffleBytes > 0L)
      assert(r.stages.map(_.shWriteBytes).sum === r.shuffleBytes, r.stages)
      assert(listener.take("bench:twojobs") == QueryListener.Reading(),
        "a take opens a fresh window")
    } finally listener.detach()
  }
}
