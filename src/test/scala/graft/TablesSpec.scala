package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Covers [[Tables.loadStream]] — the round-4 regression lived exactly
  * here: a literal single-file path makes FileStreamSource inject the
  * file as `basePath`, which PartitioningAwareFileIndex rejects. The
  * glob form must stream BOTH the driver layout (one file per table)
  * and the scale layout (a directory of part files).
  */
class TablesSpec extends AnyFunSuite with SparkTestSession {

  private def drain(df: org.apache.spark.sql.DataFrame, name: String) = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    spark.table(name)
  }

  test("loadStream streams the single-file driver layout with batch parity") {
    val dir = "/root/testdata/sf0.001"
    val batch = Tables.load(spark, dir, "events")
    val stream = Tables.loadStream(spark, dir, "events")
    assert(stream.isStreaming)
    assert(stream.schema == batch.schema) // incl. the nanos→µs ts dialect
    val streamed = drain(stream, "tables_ls_events")
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.agg(max("ts")).head().getTimestamp(0) ==
      batch.agg(max("ts")).head().getTimestamp(0))
  }

  test("loadStream streams a directory of part files (the scale layout)") {
    val stage = Files.createTempDirectory("tables-stream-").toString
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    batch.repartition(3).write.parquet(s"$stage/orders.parquet")
    val streamed = drain(
      Tables.loadStream(spark, stage, "orders"), "tables_ls_orders")
    assert(streamed.count() == batch.count() && batch.count() > 0)
  }

  // The driver regenerated testdata between rounds 6 and 7, flipping
  // events.ts from TIMESTAMP(NANOS) to timestamp[us] — a loader that
  // hard-codes one physical encoding lost 42 queries and 89 tests to the
  // flip. A 100 TB lake has mixed writers and file vintages; Tables.load
  // must normalize WHATEVER encoding the footer declares to the same
  // session-UTC TimestampType rows. Spark cannot author TIMESTAMP(NANOS),
  // but under `nanosAsLong` a true nanos column surfaces as raw LongType —
  // indistinguishable from an int64 column — so an int64-nanos fixture
  // exercises the identical loader branch.
  test("Tables.load normalizes every physical ts encoding to the same rows") {
    import spark.implicits._
    // three instants, expressed as epoch micros
    val micros = Seq(1704067200000000L, 1704070800000000L, 1704074400123456L)
    val expect = micros.map { u =>
      val t = new java.sql.Timestamp(u / 1000)
      t.setNanos(((u % 1000000) * 1000).toInt)
      t
    }

    val nanosDir = Files.createTempDirectory("ts-nanos-").toString
    micros.map(u => (1L, u * 1000L)).toDF("event_id", "ts")
      .write.parquet(s"$nanosDir/events.parquet")

    val ntzDir = Files.createTempDirectory("ts-ntz-").toString
    micros.map(u => (1L, java.time.LocalDateTime.ofEpochSecond(
        u / 1000000, ((u % 1000000) * 1000).toInt, java.time.ZoneOffset.UTC)))
      .toDF("event_id", "ts")
      .write.parquet(s"$ntzDir/events.parquet")

    val tzDir = Files.createTempDirectory("ts-tz-").toString
    micros.map(u => (1L, java.time.Instant.ofEpochSecond(
        u / 1000000, (u % 1000000) * 1000)))
      .toDF("event_id", "ts")
      .write.parquet(s"$tzDir/events.parquet")

    for (dir <- Seq(nanosDir, ntzDir, tzDir)) {
      val df = Tables.load(spark, dir, "events")
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"dir=$dir")
      val got = df.orderBy("ts").select("ts").as[java.sql.Timestamp].collect()
      assert(got.toSeq == expect, s"dir=$dir")
    }
  }

  // ADVICE r8: an int64 ts column is not necessarily nanos — a future
  // vintage could store seconds, millis, or micros, and a hard-coded
  // `div 1000` would silently shift every instant 1000×. The loader
  // sniffs the unit from the column's magnitude; each band below is the
  // SAME three instants in a different unit and must land on identical
  // rows. (Whole-second instants: the coarser units can't carry
  // sub-second precision.)
  test("int64 ts columns are unit-sniffed: seconds, millis, micros, nanos") {
    import spark.implicits._
    val seconds = Seq(1704067200L, 1704070800L, 1704074400L)
    val expect = seconds.map(s => new java.sql.Timestamp(s * 1000L))
    val units = Seq("seconds" -> 1L, "millis" -> 1000L,
      "micros" -> 1000000L, "nanos" -> 1000000000L)
    for ((unit, mult) <- units) {
      val dir = Files.createTempDirectory(s"ts-unit-$unit-").toString
      seconds.map(s => (1L, s * mult)).toDF("event_id", "ts")
        .write.parquet(s"$dir/events.parquet")
      val df = Tables.load(spark, dir, "events")
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"unit=$unit")
      val got = df.orderBy("ts").select("ts").as[java.sql.Timestamp].collect()
      assert(got.toSeq == expect, s"unit=$unit")
    }
  }

  test("sniffEpochUnit recovers the unit for any instant outside the near-epoch window") {
    // sweep 1900..2100 (skipping ~1966..1974 — the only window where a
    // nanos magnitude is indistinguishable from a later micros instant)
    // in every unit: the band choice must round-trip the unit exactly
    for (year <- (1900 to 1965) ++ (1975 to 2100); month <- Seq(1, 7)) {
      val sec = java.time.LocalDateTime.of(year, month, 15, 12, 34, 56)
        .toEpochSecond(java.time.ZoneOffset.UTC)
      def sniff(v: Long) = Tables.sniffEpochUnit(v, v, "ts", s"y$year")
      assert(sniff(sec) == "seconds", s"$year-$month seconds")
      assert(sniff(sec * 1000L) == "millis", s"$year-$month millis")
      assert(sniff(sec * 1000000L) == "micros", s"$year-$month micros")
      assert(sniff(sec * 1000000000L) == "nanos", s"$year-$month nanos")
    }
    // a mixed-magnitude column (max picks the nanos band, min converts
    // to year 1716 under it) fails loudly
    intercept[IllegalStateException] {
      Tables.sniffEpochUnit(-8000000000000000000L, 1704067200000000000L,
        "ts", "mixed")
    }
  }

  test("an implausible int64 ts column fails loudly, never silently shifts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ts-implausible-").toString
    // 5e16 lands in the micros band but converts to year ~3554 — a
    // mis-encoded column must throw, not produce shifted timestamps
    Seq((1L, 50000000000000000L)).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      Tables.load(spark, dir, "events").collect()
    }
    assert(e.getMessage.contains("refusing to guess"))
  }

  test("a streaming int64 ts frame without a batch stats side fails loudly") {
    // the unit sniff needs an aggregate, which a streaming frame cannot
    // run — calling normalizeTs on one without a stats side must be an
    // immediate, explicit error, not a silently-guessed unit
    import spark.implicits._
    val dir = Files.createTempDirectory("ts-nostats-").toString
    Seq((1L, 1704067200000000000L)).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val e = intercept[RuntimeException] {
      Tables.normalizeTs(
        spark.readStream.schema(raw.schema).parquet(s"$dir/{events.parquet}"))
    }
    assert(e.getMessage.contains("needs a batch stats side"))
  }

  test("a streaming int64 ts frame with an EMPTY stats side fails loudly") {
    // a growing-directory stream can legitimately start with an empty
    // batch side; baking in the (0,0) default would sniff 'seconds' and
    // silently multiply later-arriving micros/nanos by 1e6 (ADVICE r9)
    import spark.implicits._
    val dir = Files.createTempDirectory("ts-emptystats-").toString
    Seq((1L, 1704067200000000000L)).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val emptyStats = raw.filter("false")
    val stream =
      spark.readStream.schema(raw.schema).parquet(s"$dir/{events.parquet}")
    val e = intercept[IllegalStateException] {
      Tables.normalizeTs(stream, statsSide = Some(() => emptyStats), source = "empty")
    }
    assert(e.getMessage.contains("empty/all-null batch stats side"))
    // the (0,0) default stays valid for a BATCH frame with no rows:
    // nothing arrives later, so the baked unit is never applied
    val batchEmpty = Tables.normalizeTs(raw.filter("false"))
    assert(batchEmpty.collect().isEmpty)
  }

  test("rewriting a table re-sniffs the epoch unit (stats cache keys the file version)") {
    // the per-JVM stats cache must not pin a stale min/max across a
    // rewrite: a long-lived JVM whose path is replaced with a different
    // unit vintage must convert the FRESH data correctly (ADVICE r9)
    import spark.implicits._
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("ts-rewrite-").toString
    val instant = 1704067200L // 2024-01-01T00:00:00Z
    Seq((1L, instant)).toDF("event_id", "ts") // seconds vintage
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val first = Tables.load(spark, dir, "events")
      .select("ts").as[Timestamp].head()
    // rewrite the same path as a MICROS vintage with more rows (the
    // fingerprint keys on listing shape, not content)
    Seq((1L, instant * 1000000L), (2L, instant * 1000000L + 1000000L))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val second = Tables.load(spark, dir, "events")
      .orderBy("event_id").select("ts").as[Timestamp].collect()
    assert(first.toInstant.getEpochSecond == instant)
    assert(second.head.toInstant.getEpochSecond == instant,
      s"stale cached stats mis-sniffed the rewritten file: ${second.head}")
    assert(second.length == 2)
  }

  test("a repeat load of an unchanged table runs no job; a rewrite re-reads its schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("schema-memo-").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    // job groups of started jobs; a one-job fence group marks the end
    // of a measured body (listener events arrive in posting order)
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val (measured, fence) = ("tables-spec-load", "tables-spec-fence")
    def inGroup(g: String)(body: => Any): Unit = {
      spark.sparkContext.setJobGroup(g, g)
      try body finally spark.sparkContext.clearJobGroup()
    }
    def jobsOf(body: => Any): Int = {
      inGroup(measured)(body)
      inGroup(fence)(spark.sparkContext.parallelize(Seq(1), 1).count())
      Iterator.continually(Option(started.poll(60,
        java.util.concurrent.TimeUnit.SECONDS)).getOrElse(fail("no fence")))
        .takeWhile(_ != fence).count(_ == measured)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      jobsOf(()) // drain events posted before the listener was added
      assert(jobsOf(Tables.load(spark, dir, "t")) > 0) // first: inference
      assert(jobsOf(Tables.load(spark, dir, "t")) == 0)
      Seq((2L, "b", 3.5)).toDF("id", "name", "score")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val rewritten = Tables.load(spark, dir, "t")
      assert(rewritten.columns.toSeq == Seq("id", "name", "score"))
      assert(rewritten.as[(Long, String, Double)].collect().toSeq ==
        Seq((2L, "b", 3.5)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("normalization is not gated on the table NAME, and streams too") {
    import spark.implicits._
    // round 7's drift hit `events` — the one table the old name gate
    // covered; this pins that ANY table's int64 ts column normalizes,
    // batch and streaming, to the same session-UTC rows end-to-end
    val micros = Seq(1704067200000000L, 1704070800000000L, 1704074400123456L)
    val dir = Files.createTempDirectory("ts-anytable-").toString
    micros.map(u => (1L, u * 1000L)).toDF("reading_id", "measured_ts")
      .write.parquet(s"$dir/sensor.parquet")
    val batch = Tables.load(spark, dir, "sensor")
    assert(batch.schema("measured_ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val stream = Tables.loadStream(spark, dir, "sensor")
    assert(stream.isStreaming && stream.schema == batch.schema)
    val streamed = drain(stream, "tables_ls_sensor")
      .orderBy("measured_ts").select("measured_ts")
      .as[java.sql.Timestamp].collect().toSeq
    val batchRows = batch.orderBy("measured_ts").select("measured_ts")
      .as[java.sql.Timestamp].collect().toSeq
    assert(streamed == batchRows && streamed.nonEmpty)
  }

  test("pathFingerprint sees a rewrite that preserves count, total length AND mtime") {
    // the coarse (count, max mtime, total length) triple missed a
    // rewrite shuffling bytes BETWEEN part files inside mtime
    // granularity (VERDICT r10 #3) — the per-file digest must not
    val dir = Files.createTempDirectory("fp-granularity-")
    val t = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
    def write(aBytes: Int, bBytes: Int): Unit = {
      Files.write(dir.resolve("part-a"), Array.fill[Byte](aBytes)('x'))
      Files.write(dir.resolve("part-b"), Array.fill[Byte](bBytes)('x'))
      Files.setLastModifiedTime(dir.resolve("part-a"), t)
      Files.setLastModifiedTime(dir.resolve("part-b"), t)
    }
    write(3, 5)
    val fp1 = Tables.pathFingerprint(spark, dir.toString)
    write(5, 3) // same file count, same TOTAL bytes, same mtimes
    val fp2 = Tables.pathFingerprint(spark, dir.toString)
    val coarse = (fp: String) => fp.split(":").take(3).toSeq
    assert(coarse(fp1) == coarse(fp2),
      "fixture broken: the coarse triple should be identical")
    assert(fp1 != fp2,
      "per-file digest must distinguish the between-file rewrite")
  }

  test("memoized: hit on same fingerprint, evict-and-replace on re-key, bypass on error") {
    val cache = new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
    var computes = 0
    var evicted: Option[Int] = None
    var misses = 0
    def get(fp: String): Int =
      Memo.memoized(cache, "k", fp)({ computes += 1; computes })(
        onEvict = v => evicted = Some(v), onMiss = () => misses += 1)
    assert(get("v1") == 1 && misses == 1)
    assert(get("v1") == 1 && computes == 1 && misses == 1, "same fp must hit")
    assert(get("v2") == 2 && evicted.contains(1) && misses == 2,
      "re-key must evict the superseded value and replace it")
    assert(cache.size == 1, "one entry per key, never one per vintage")
    assert(get("!err-9") == 3 && misses == 3,
      "error stamp must compute fresh (and fire onMiss)")
    assert(cache.get("k") == ("v2", 2),
      "error stamp must not disturb or insert cache entries")
    assert(get("v2") == 2 && computes == 3, "the good vintage still serves")
  }

  test("memoized: a failed recompute never leaves an evicted-but-present entry") {
    // ADVICE r11: onEvict releases the superseded value's persisted
    // state, so if compute then throws, an entry left in place would
    // look valid under its old fingerprint while its storage is gone —
    // and a retry would fire onEvict on the same value twice (double
    // unpersist). The entry must be REMOVED before onEvict runs.
    val cache = new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
    val evicts = scala.collection.mutable.ArrayBuffer[Int]()
    Memo.memoized(cache, "k", "v1")(1)(onEvict = evicts += _)
    intercept[RuntimeException] {
      Memo.memoized(cache, "k", "v2")(
        sys.error("compute failed"): Int)(onEvict = evicts += _)
    }
    assert(evicts.toSeq == Seq(1), "the superseded value evicts exactly once")
    assert(!cache.containsKey("k"),
      "a failed recompute must leave a clean miss, not a stale entry " +
        "whose persisted state was already released")
    // the retry recomputes from scratch and must NOT re-evict value 1
    assert(Memo.memoized(cache, "k", "v2")(2)(onEvict = evicts += _) == 2)
    assert(evicts.toSeq == Seq(1), "no double eviction on retry")
  }

  test("memoized: a raced duplicate compute keeps the first value and releases its own (ADVICE r12)") {
    // The releaseMemo race: a caller that fetched the OLD monitor just
    // before a release computes concurrently with a post-release caller
    // under the FRESH monitor — different monitors, so the monitor
    // serializes nothing between them. With a blind put the second
    // thread's insert silently overwrote the first's value WITHOUT
    // onEvict, leaking its persisted state until JVM exit. The
    // schedule is reproduced deterministically by having our compute
    // land the racer's same-vintage value in the cache first.
    val cache = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
    val evicts = scala.collection.mutable.ArrayBuffer[String]()
    val v = Memo.memoized(cache, "k", "fp")({
      cache.put("k", ("fp", "winner")); "loser"
    })(onEvict = evicts += _)
    assert(v == "winner",
      "a same-vintage racer that landed first must be served, not overwritten")
    assert(evicts.toSeq == Seq("loser"),
      "the losing compute must release its own value (else its " +
        "persisted state leaks)")
    assert(cache.get("k") == (("fp", "winner")))
    Memo.releaseMemo(cache, "k")
    // a DIFFERENT-vintage value raced in (stale writer): superseded the
    // normal way — evicted, ours inserted
    evicts.clear()
    val v2 = Memo.memoized(cache, "k", "fp2")({
      cache.put("k", ("stale", "old")); "fresh"
    })(onEvict = evicts += _)
    assert(v2 == "fresh" && evicts.toSeq == Seq("old"))
    assert(cache.get("k") == (("fp2", "fresh")))
    Memo.releaseMemo(cache, "k")
  }

  test("releaseMemo drops the entry AND its per-key monitor (VERDICT r11 #6)") {
    val cache = new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
    assert(Memo.memoized(cache, "k", "v1")(7)() == 7)
    assert(Memo.memoLockExists(cache, "k"),
      "a computed entry holds a monitor while live")
    assert(Memo.releaseMemo(cache, "k").contains(7),
      "release must hand back the value so callers can unpersist it")
    assert(!cache.containsKey("k"))
    assert(!Memo.memoLockExists(cache, "k"),
      "the lock map must hold no entry for a released (cache, key)")
    // releasing a never-memoized key is a no-op, not an NPE
    assert(Memo.releaseMemo(cache, "never").isEmpty)
    // the key stays fully usable after release: fresh monitor, fresh value
    assert(Memo.memoized(cache, "k", "v1")(8)() == 8)
    assert(Memo.memoLockExists(cache, "k"))
    Memo.releaseMemo(cache, "k")
  }

  test("memoized: a long compute never blocks a DIFFERENT key, and same-key is single-flight") {
    // the dedup label build runs minutes inside `compute` — it must
    // hold only ITS key's monitor, never a structure-wide lock (the
    // round-11 backlog caveat, closed). Deterministic schedule: key A's
    // compute parks on a latch; key B must complete WHILE A is parked;
    // a second key-A caller must reuse A's single computed value.
    val cache = new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val aRelease = new java.util.concurrent.CountDownLatch(1)
    val aComputes = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Memo.memoized(cache, "a", "fp")({
          aEntered.countDown(); aRelease.await()
          aComputes.incrementAndGet()
        })()
      })
      assert(aEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // B proceeds while A's compute is parked — would deadlock the
      // 10 s get below if memoized serialized across keys
      val fb = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Memo.memoized(cache, "b", "fp")(42)()
      })
      assert(fb.get(10, java.util.concurrent.TimeUnit.SECONDS) == 42)
      val fa2 = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Memo.memoized(cache, "a", "fp")({
          aComputes.incrementAndGet()
        })()
      })
      aRelease.countDown()
      assert(fa.get(10, java.util.concurrent.TimeUnit.SECONDS) == 1)
      assert(fa2.get(10, java.util.concurrent.TimeUnit.SECONDS) == 1,
        "second same-key caller must reuse the in-flight result")
      assert(aComputes.get == 1, "same key must compute exactly once")

      // single-flight must survive CACHE MUTATION between monitor
      // acquisitions: the monitor key hashes the cache by IDENTITY — a
      // content-based hash (a plain (cache, key) tuple) changes as
      // entries land, so a later same-key caller would miss the parked
      // thread's monitor and compute concurrently
      val cEntered = new java.util.concurrent.CountDownLatch(1)
      val cRelease = new java.util.concurrent.CountDownLatch(1)
      val cComputes = new java.util.concurrent.atomic.AtomicInteger
      val fc = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Memo.memoized(cache, "a", "fp2")({
          cEntered.countDown(); cRelease.await()
          cComputes.incrementAndGet(); 7
        })()
      })
      assert(cEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      Memo.memoized(cache, "mutator", "fp")(99)() // content hash changes
      val fc2 = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Memo.memoized(cache, "a", "fp2")({
          cComputes.incrementAndGet(); 8
        })()
      })
      cRelease.countDown()
      assert(fc.get(10, java.util.concurrent.TimeUnit.SECONDS) == 7)
      assert(fc2.get(10, java.util.concurrent.TimeUnit.SECONDS) == 7,
        "post-mutation same-key caller must serialize behind the parked " +
          "compute and reuse its result")
      assert(cComputes.get == 1, "re-key must compute exactly once even " +
        "after unrelated cache mutation")
    } finally pool.shutdownNow()
  }

  test("pathFingerprint on a listing error is a never-matching stamp, not a constant") {
    // two vintages whose listings both throw must NOT share a stable
    // key ('?') under which one could serve the other's cached
    // artifact (VERDICT r10 #2)
    val f1 = Tables.pathFingerprint(spark, "nosuchscheme://bucket/x")
    val f2 = Tables.pathFingerprint(spark, "nosuchscheme://bucket/x")
    assert(Memo.isErrorFingerprint(f1) && Memo.isErrorFingerprint(f2))
    assert(f1 != f2, "error stamps must never match each other")
  }

  test("pathBytes counts a partitioned table's nested part files") {
    // a partitioned table keeps its data under k=v/ subdirectories,
    // which a one-level listing misses
    val root = Files.createTempDirectory("tables-bytes-")
    val table = root.resolve("documents.parquet")
    Files.createDirectories(table.resolve("part=1"))
    Files.write(table.resolve("part=1").resolve("a.parquet"), new Array[Byte](3000))
    Files.write(table.resolve("b.parquet"), new Array[Byte](500))
    assert(Tables.pathBytes(spark, table.toString) == 3500L)
    assert(Tables.pathBytes(spark, table.resolve("b.parquet").toString) == 500L)
    assert(Tables.pathBytes(spark, root.resolve("missing").toString) == -1L)
  }

  test("getOrBuild: hit, build-once, and wholesale clear at the bound") {
    // the built-frame tier (Butterfly discipline): values are pure
    // functions of the key, so no fingerprints, no evict hooks — just
    // get-or-build with a wholesale clear past the bound
    val cache = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    var builds = 0
    def get(k: String, bound: Int = 128): Int =
      Memo.getOrBuild(cache, k, bound) { builds += 1; builds }
    assert(get("a") == 1 && get("a") == 1 && builds == 1, "hit must not rebuild")
    assert(get("b") == 2 && cache.size == 2)
    // bound reached: the NEXT build clears wholesale, then inserts
    assert(get("c", bound = 2) == 3)
    assert(cache.size == 1 && cache.containsKey("c"),
      "past the bound the map is cleared wholesale before the insert")
    assert(get("a", bound = 2) == 4, "cleared entries rebuild")
  }
}
