package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import graft.{Lineage, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams

/** Structured Streaming made driver-checkable: each query runs a REAL
  * streaming plan (file source → stateful operator → sink) with
  * `Trigger.AvailableNow`, lands the output in a memory sink, and
  * returns it as a DataFrame the driver hash-compares against a batch
  * DuckDB oracle over the same rows. The reference is batch-only
  * (SURVEY.md §2.5), so this is the engine's streaming extension path
  * verified end-to-end rather than spec-only.
  *
  * Determinism across engines (these are hash-compared):
  *  - windowed agg runs in Complete mode with an effectively-infinite
  *    watermark, so no row is late-dropped regardless of how the source
  *    batches files — output equals the batch groupBy by construction;
  *  - stateful dedup projects to its key columns first, so the emitted
  *    set is order-independent;
  *  - sessionization emits closed sessions; each user's LAST session
  *    (closed only by a timeout race with the final watermark) is
  *    excluded on BOTH sides — engine via an anti-filter on the user's
  *    max event time, oracle in SQL — so the compared set is exactly the
  *    sessions whose closure is data-driven, not timing-driven.
  *
  * The memory sink is the verification harness only (it collects to the
  * driver); the production path writes the same unbounded plans to
  * parquet/Kafka sinks with checkpointing, as EventStreamsSpec pins.
  */
object StreamingQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Monotonic suffix: cold+warm bench runs of one query must not race
    * on a shared memory-sink table name. */
  private val runSeq = new AtomicInteger

  /** Run `df` (a streaming frame) to completion under AvailableNow into
    * a memory sink; returns the sink table. The temp checkpoint dir is
    * removed by Spark on clean stop.
    *
    * State-store sizing: a streaming query's state-partition count is
    * frozen from `spark.sql.shuffle.partitions` at first start, and every
    * micro-batch commits EVERY state store instance (a stream-stream join
    * commits 4 per partition) — so oversized partition counts turn into
    * pure per-batch commit fan-out, unrelated to data volume (measured
    * here: the interval join at 32 partitions is 8.2 s vs 2.8 s at 8 for
    * identical output; a full-family sweep at 4 beat 8 by ~2 s cold
    * with every query flat-or-faster, including the RocksDB MapState
    * leg). The count should track state volume, not core count:
    * default 4 suits the fixture scale; production streams override
    * `GraftConf.StreamStatePartitions` to cluster scale. The
    * session's global shuffle setting is restored afterwards (batch
    * queries keep their core-count sizing).
    *
    * INVARIANT: this set/restore mutates the shared session's conf, so
    * it assumes the harness runs queries strictly sequentially (Verify,
    * Bench, the specs, and the driver all do). A concurrent batch query
    * on the same session during a streaming run would pick up the
    * temporary state-partition count (or race the restore). If the
    * harness ever goes concurrent, scope the setting with
    * `sparkSession.newSession()` per streaming run instead — not done
    * today because the memory-sink table and downstream joins would
    * then live in different analyzer sessions. */
  /** Engine-vs-harness A/B knob (VERDICT r11 #1, extended r12 #4/#5):
    * `GraftConf.StreamSink` routes every streaming run here through
    * an alternative sink leg. The full streaming plan — file source,
    * state machinery, micro-batch commit protocol — always runs; the
    * modes differ only in what happens to the emitted rows:
    *
    *  - `memory` (unset; correctness): memory sink (or the DSv2
    *    committed store for the connector queries) — the oracle
    *    harness path, which collects every emitted row to the driver;
    *  - `noop`: Spark's noop sink — engine-only, rows dropped at the
    *    sink boundary (a production job writes a distributed sink and
    *    never pays driver collection);
    *  - `digest`: foreachBatch computing an EXECUTOR-SIDE
    *    order-insensitive digest — sum of per-row xxhash64 over
    *    canonically-cast columns plus a row count — so ONE row reaches
    *    the driver per micro-batch while row-identity across A/B runs
    *    (partition counts, scale rungs) stays provable (VERDICT r12
    *    #4: verify legs used to collect ~10M rows just to prove
    *    identity);
    *  - `connector` (DSv2 queries only; elsewhere = noop): the
    *    graftgen sink WRITES its committed store — the in-JVM stand-in
    *    for an external system — but the driver read-back is skipped,
    *    closing the "engine-only drops the connector write too" lower-
    *    bound caveat (VERDICT r12 #5).
    *
    * Every non-default mode returns an EMPTY frame of the sink's
    * schema. StreamStress runs scale rungs across modes so the
    * committed tables separate state-machinery cost from harness-
    * collection cost; correctness runs never set the conf. */
  private def sinkMode(sess: SparkSession): String =
    graft.GraftConf.StreamSink(sess)

  private def noopSink(sess: SparkSession): Boolean =
    sinkMode(sess) == "noop"

  /** Per-run digests of the digest sink mode, keyed by sink run name
    * (also printed as one JSON line per run) — exposed so harnesses /
    * specs can assert row-identity without any driver-side row
    * collection. */
  private[graft] val streamDigests =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Recursive best-effort delete of a run's checkpoint directory
    * (ADVICE r12: each noop/DSv2 run minted a fresh RocksDB/state
    * checkpoint tree under /tmp and never removed it — dozens of trees
    * per JVM across a 100× sweep). Delegates to the shared
    * [[graft.Tables.deleteRecursively]] (best-effort: checkpoint
    * cleanup must never mask a real query failure). */
  private def deleteRecursively(dir: String): Unit =
    graft.Tables.deleteRecursively(dir, bestEffort = true)

  /** Run `df` through foreachBatch computing the executor-side digest;
    * returns (rows, hashSum) combined per the output mode (complete
    * re-emits full state per epoch → last epoch stands; append emits
    * each row once → epochs sum). */
  private def runDigest(df: DataFrame, mode: String, ck: String)
      : (Long, Long) = {
    val perEpoch =
      new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    val q = df.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          epoch: Long) =>
        val cols = batch.columns.toSeq.map(c =>
          coalesce(col(s"`$c`").cast("string"), lit("\\u0000null")))
        val r = batch
          .select(xxhash64(cols: _*).as("h"))
          .agg(sum(col("h")).as("hs"), count(lit(1)).as("n")).head()
        perEpoch.put(epoch,
          (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1)))
        ()
    }
      .option("checkpointLocation", ck)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val ds = perEpoch.asScala.toSeq
    // (hashSum, rows): complete mode re-emits full state per epoch, so
    // the LAST epoch is the result; append emits each row once, so
    // epochs sum (hash sums wrap mod 2^64 — still order-insensitive)
    if (mode == "complete")
      ds.sortBy(_._1).lastOption.map(_._2).getOrElse((0L, 0L))
    else (ds.map(_._2._1).sum, ds.map(_._2._2).sum)
  }

  private def emptyLike(sess: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    sess.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  /** Per-label UNIT centroids (label, ca) of a normalized-embedding
    * frame (label, an) — exact micro-unit component sums, one double
    * division per component, one normalization (the ivfCentroids
    * determinism discipline: bit-stable at any partitioning). Shared
    * by st_embedding_drift and its multi-batch determinism spec. */
  private[graft] def labelCentroids(ex: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.dot
    ex.select(col("label"), posexplode(transform(col("an"),
        x => round(x * 1000000).cast("long"))).as(Seq("pos", "mv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("mv")).as("sm"), count(lit(1)).as("cnt"))
      .withColumn("cm", col("sm").cast("double") / col("cnt"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cm"))))
        .as("ps"))
      .select(col("label"), transform(col("ps"), p => p.getField("cm"))
        .as("cm"))
      .withColumn("nrm", sqrt(dot(col("cm"), col("cm"))))
      .select(col("label"), transform(col("cm"), x => x / col("nrm"))
        .as("ca"))
  }

  /** st_embedding_drift's scoring fold over a (label, an) frame —
    * batch OR stream: cosine to the broadcast own-label centroid,
    * rounded to exact micro-units, then per-label (count, Σ micro).
    * Long sums are commutative/associative, so the Complete-mode
    * state this produces is batching-independent by construction;
    * StreamingDeterminismSpec pins it over 3 explicit file batches. */
  private[graft] def driftScoreAgg(an: DataFrame, cu: DataFrame,
      nCol: String, sumCol: String): DataFrame = {
    import graft.functions.GraftFunctions.dot
    an.join(broadcast(cu), "label")
      .select(col("label"),
        round(dot(col("an"), col("ca")) * 1000000).cast("long")
          .as("cmicro"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as(nCol), sum(col("cmicro")).as(sumCol))
  }

  private def runToMemory(df: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${runSeq.incrementAndGet()}"
    val sess = df.sparkSession
    val prev = sess.conf.get("spark.sql.shuffle.partitions")
    val stateParts = graft.GraftConf.StreamStatePartitions(sess)
    sess.conf.set("spark.sql.shuffle.partitions", stateParts.toLong)
    // `connector` only changes the DSv2 leg (runToGraftGen); for
    // memory-sink queries it means engine-only, same as noop
    val engineOnly = Set("noop", "connector").contains(sinkMode(sess))
    val digestMode = sinkMode(sess) == "digest"
    try withoutCompleteModeNoDataBatch(sess, mode) {
      if (digestMode) {
        val ck = java.nio.file.Files
          .createTempDirectory("graft-digest-ck-").toString
        try {
          val (h, n) = runDigest(df, mode, ck)
          streamDigests.put(name, (h, n))
          println(s"""{"stream_digest":"$name","mode":"$mode",""" +
            s""""rows":$n,"digest":$h}""")
        } finally deleteRecursively(ck)
      } else if (engineOnly) {
        val ck = java.nio.file.Files
          .createTempDirectory("graft-noop-ck-").toString
        try {
          val q = df.writeStream.format("noop")
            .option("checkpointLocation", ck)
            .outputMode(mode).trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        } finally deleteRecursively(ck)
      } else {
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    } finally sess.conf.set("spark.sql.shuffle.partitions", prev)
    if (engineOnly || digestMode) return emptyLike(sess, df.schema)
    // Scope the sink rows' lifetime to the RETURNED DataFrame, not the
    // JVM: the memory sink holds every emitted row on the driver heap,
    // and leaving the temp view registered pins each run's full result
    // forever — across a 22-query cold+warm sweep that accumulation is
    // unbounded (measured: executor OOM at StreamStress 50×, ~40 sinks
    // deep). Forcing analysis FIRST resolves the view into the plan, so
    // the frame stays consumable (any number of times) after the drop,
    // and GC reclaims the rows when the caller lets the frame go.
    val out = sess.table(name)
    out.queryExecution.analyzed
    sess.catalog.dropTempView(name)
    out
  }

  /** Run `body` with the RocksDB state-store provider AND changelog
    * checkpointing: transformWithState supports only the RocksDB
    * provider, and per-commit CHANGELOG files (the keys touched this
    * batch) replace per-commit FULL SNAPSHOTS of every store instance —
    * measured 20-35% off the state-v2 queries' micro-batch time
    * (StreamProbe: MapState sessions 3.14 → 2.05 s), and at 100 TB
    * state scale the difference is snapshot-size-per-commit vs
    * delta-size-per-commit (snapshots still happen, in the background
    * maintenance thread — the recovery story is unchanged). Checkpoint
    * FORMAT only; emitted rows are identical. Both confs restored
    * (same sequential-harness invariant as the state-partition
    * sizing). */
  private def withRocksDb[A](sess: SparkSession)(body: => A): A = {
    val keys = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"),
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true")
    val prevs = keys.map { case (k, _) => k -> sess.conf.getOption(k) }
    keys.foreach { case (k, v) => sess.conf.set(k, v) }
    try body
    finally prevs.foreach {
      case (k, Some(v)) => sess.conf.set(k, v)
      case (k, None) => sess.conf.unset(k)
    }
  }

  /** Complete-mode runs skip the trailing NO-DATA micro-batch: its only
    * observable effect is watermark-driven output (append-mode window
    * close, state eviction, outer-join null flush), and Complete mode
    * has none — every batch re-emits the FULL aggregate from state, so
    * a batch with no new data rewrites the sink with bit-identical
    * content. Skipping it halves the micro-batch count of every
    * complete-mode query here (one data batch instead of data+no-data).
    * Append-mode runs keep the default: their final no-data batch is
    * what advances the watermark and flushes closed windows/sessions —
    * exactly the semantics several oracles replay. Same set/restore
    * sequential-harness invariant as the state-partition sizing. */
  private def withoutCompleteModeNoDataBatch[A](
      sess: SparkSession, mode: String)(body: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    if (mode != "complete") body
    else {
      val prev = sess.conf.getOption(key)
      sess.conf.set(key, "false")
      try body
      finally prev match {
        case Some(v) => sess.conf.set(key, v)
        case None => sess.conf.unset(key)
      }
    }
  }

  /** Run `df` to completion under AvailableNow through the GraftGen
    * DSv2 STREAMING SINK (sources/GraftGen.scala: per-epoch task/driver
    * commit protocol + (table, queryId, epochId) idempotency ledger)
    * and return what the sink actually COMMITTED — not what a memory
    * sink collected. This is the verification path for the write half
    * of the connector: the driver's hash gate then certifies
    * exactly-once-visible sink state against the batch oracle. The
    * sink's row shape is its fixed (id BIGINT, text STRING, val DOUBLE)
    * schema; callers project into it positionally. Same state-partition
    * sizing discipline (and sequential-harness invariant) as
    * runToMemory. */
  private def runToGraftGen(df: DataFrame, table: String,
      mode: String): DataFrame = {
    val sess = df.sparkSession
    graft.sources.GraftGen.committed.remove(table)
    val prev = sess.conf.get("spark.sql.shuffle.partitions")
    val stateParts = graft.GraftConf.StreamStatePartitions(sess)
    sess.conf.set("spark.sql.shuffle.partitions", stateParts.toLong)
    // Sink-mode A/B (see [[sinkMode]]): `noop` drops the connector
    // write with the sink (pure engine lower bound); `connector`
    // (VERDICT r12 #5) keeps the graftgen sink's committed-store write
    // — the in-JVM stand-in for an external system — and skips only
    // the driver-side read-back below, so its number is the honest
    // "engine + external write, no collection" column; `digest` runs
    // the executor-side digest leg like runToMemory (the connector
    // queries' emitted-set identity is provable the same way).
    val m = sinkMode(sess)
    val sinkFmt = if (m == "noop") "noop" else "graftgen"
    try withoutCompleteModeNoDataBatch(sess, mode) {
      val ck = java.nio.file.Files
        .createTempDirectory("graft-dsv2-sink-ck-").toString
      try {
        if (m == "digest") {
          val (h, n) = runDigest(df, mode, ck)
          streamDigests.put(table, (h, n))
          println(s"""{"stream_digest":"$table","mode":"$mode",""" +
            s""""rows":$n,"digest":$h}""")
        } else {
          val q = df.writeStream.format(sinkFmt).option("table", table)
            .option("checkpointLocation", ck).outputMode(mode)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
      } finally deleteRecursively(ck)
    } finally sess.conf.set("spark.sql.shuffle.partitions", prev)
    val rows =
      if (m != "memory") Vector.empty
      else graft.sources.GraftGen.committed.getOrDefault(table, Vector.empty)
    // Same lifetime discipline as runToMemory's sink views: the rows
    // are copied into the returned LOCAL dataset, so drop the store
    // entry (and its epoch-ledger keys) — each run here uses a fresh
    // runSeq-suffixed table name, and without the removal every run's
    // committed vector stays in the JVM-wide map forever (the
    // memory-sink leak class, connector edition). The `connector`
    // mode's store write is dropped here too, unread.
    graft.sources.GraftGen.committed.remove(table)
    graft.sources.GraftGen.committedEpochs.keySet()
      .removeIf((k: String) => k.startsWith(table + "#"))
    import sess.implicits._
    sess.createDataset(rows).toDF("id", "text", "val")
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- streaming agg written through the CUSTOM DSv2 SINK, result
    // read back from the sink's committed store (write-half proof: the
    // memory-sink queries above verify plans; this one verifies the
    // connector commit protocol end-to-end — Complete mode exercises
    // the SupportsTruncate path, each epoch atomically REPLACING the
    // committed state, so the final store holds exactly the last
    // epoch's full aggregate regardless of how AvailableNow batches
    // the files; integer cents keep the sums bit-exact cross-engine).
    "st_sink_exactly_once" -> QueryDef.sql(
      "Complete-mode agg through the DSv2 sink commit protocol")(
      """SELECT count(*) AS n_events, event_type,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |         AS value_cents
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
      val agg = stream.groupBy(col("event_type"))
        .agg(count(lit(1)).as("id"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .select(col("id"), col("event_type").as("text"),
          col("cents").cast("double").as("val"))
      runToGraftGen(agg, s"st_sink_${runSeq.incrementAndGet()}", "complete")
        .select(col("id").as("n_events"), col("text").as("event_type"),
          col("val").as("value_cents"))
        .orderBy("event_type")
    },

    // ---- Streaming histogram quantiles: the fixed-bin counts run AS
    // THE STREAMING STATE (a Complete-mode groupBy over (type, bin) —
    // bounded at ≤1024 counters per type regardless of stream length,
    // the same state-discipline argument as st_heavy_hitters), and the
    // p50/p95/p99 extraction is a tiny batch window over the final
    // sink table. Integer counts make the result independent of
    // micro-batch slicing; the oracle is the batch histogram-quantile
    // definition (same as td_quantile_hist).
    "st_quantile_hist" -> QueryDef.sql(
      "streaming fixed-bin histogram state -> p50/p95/p99 per type")(
      """WITH b AS (SELECT event_type,
        |             CAST(least(floor(value), 1023) AS BIGINT) AS bin,
        |             count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, bin, n,
        |        sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |        sum(n) OVER (PARTITION BY event_type) AS total
        |      FROM b)
        |SELECT event_type,
        |  CAST(min(CASE WHEN cum*100 >= 50*total THEN bin END) AS BIGINT)
        |    AS p50_bin,
        |  CAST(min(CASE WHEN cum*100 >= 95*total THEN bin END) AS BIGINT)
        |    AS p95_bin,
        |  CAST(min(CASE WHEN cum*100 >= 99*total THEN bin END) AS BIGINT)
        |    AS p99_bin
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bins = Tables.loadStream(s, dir, "events")
        .select(col("event_type"),
          least(floor(col("value")), lit(1023)).cast("long").as("bin"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
      val table = runToMemory(bins, "complete")
      val c = table
        .withColumn("cum", sum(col("n")).over(
          Window.partitionBy(col("event_type")).orderBy(col("bin"))))
        .withColumn("total", sum(col("n")).over(
          Window.partitionBy(col("event_type"))))
      def q(p: Int) =
        min(when(col("cum") * 100 >= lit(p) * col("total"), col("bin")))
          .as(s"p${p}_bin")
      c.groupBy(col("event_type"))
        .agg(q(50), q(95), q(99))
        .orderBy("event_type")
    },

    // ---- APPEND-mode sibling of st_sink_exactly_once: a stateless
    // per-row stream through the same DSv2 sink, committed epoch by
    // epoch via the merge path of the ledger (no truncate). The
    // committed store must hold EVERY event exactly once regardless of
    // how AvailableNow slices the files into epochs — the hash against
    // the batch oracle certifies no epoch was dropped or double-
    // applied.
    "st_sink_append" -> QueryDef.sql(
      "append-mode row stream through the DSv2 sink, exactly-once union")(
      """SELECT event_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val rows = Tables.loadStream(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      runToGraftGen(rows, s"st_sink_${runSeq.incrementAndGet()}", "append")
        .select(col("id").as("event_id"), col("text").as("event_type"),
          col("val").as("value"))
        .orderBy("event_id")
    },

    // ---- streaming tumbling-window aggregation (the unbounded analogue
    // of the batch groupBy/agg): Complete mode + unbounded watermark so
    // the result is independent of file batching.
    "st_window_agg" -> QueryDef.sql(
      "streaming tumbling 1h window counts/cents via AvailableNow")(
      """SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)
        |         * 3600000000) AS window_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
      runToMemory(
        EventStreams.windowedCounts(stream, "1 hour", watermark = "36500 days"),
        "complete")
        .orderBy("window_start", "event_type")
    },

    // ---- SLIDING (hopping) windows: 2h length / 1h slide, so every
    // event lands in exactly two overlapping windows — the other
    // window mode (st_window_agg is tumbling). State is O(active
    // windows × types); the oracle replays the window assignment by
    // exploding each event into its two covering slide-grid starts.
    "st_window_sliding" -> QueryDef.sql(
      "streaming sliding 2h/1h window counts per event type")(
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |           FROM events),
        |w AS (SELECT make_timestamp((epoch_us(ts) // 3600000000 - t.i)
        |               * 3600000000) AS window_start,
        |        event_type, value
        |      FROM e, unnest([0, 1]) AS t(i))
        |SELECT window_start, event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM w GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
        .withWatermark("ts", "36500 days")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("value_cents"))
      runToMemory(stream, "complete").orderBy("window_start", "event_type")
    },

    // ---- CHAINED STATEFUL OPERATORS in one stream (Spark supports
    // multiple stateful ops per query with aligned watermarks since
    // 3.5): watermark-bounded ingest dedup on event_id feeding a
    // watermarked append-mode window aggregation — the exactly-once-
    // ingest → aggregate pipeline as ONE streaming query (two state
    // stores, watermark propagated through the dedup). The fixture's
    // event_ids are unique, so dedup is semantically identity (its
    // state machinery still runs) and the oracle is the append-mode
    // window oracle: windows closed by the final watermark.
    "st_chained_state" -> QueryDef.sql(
      "dedup-then-window-agg: two chained stateful operators")(
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |           FROM events),
        |mx AS (SELECT epoch_us(max(ts)) AS mxus FROM e)
        |SELECT make_timestamp((epoch_us(ts) // 3600000000)
        |         * 3600000000) AS window_start,
        |       event_type, count(*) AS n
        |FROM e, mx
        |GROUP BY 1, 2, mxus
        |HAVING epoch_us(window_start) + 7200000000 <= mxus
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"))
      runToMemory(stream, "append").orderBy("window_start", "event_type")
    },

    // ---- streaming APPEND-mode watermarked window agg — the production
    // unbounded path (Complete mode above re-emits everything; append
    // emits each window once, when the watermark passes its end, and
    // evicts its state). Emitted set = windows whose end <= max(ts) - 1h
    // (the final watermark), which the oracle replays. The driver
    // testdata's max ts is never on an hour boundary (checked at all
    // SFs), so the <=-vs-< eviction boundary cannot bite.
    "st_window_append" -> QueryDef.sql(
      "append-mode watermarked 1h window agg emits only closed windows")(
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |           FROM events),
        |mx AS (SELECT epoch_us(max(ts)) AS mxus FROM e)
        |SELECT make_timestamp((epoch_us(ts) // 3600000000)
        |         * 3600000000) AS window_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM e, mx
        |GROUP BY 1, 2, mxus
        |HAVING epoch_us(window_start) + 7200000000 <= mxus
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
      runToMemory(
        EventStreams.windowedCounts(stream, "1 hour", watermark = "1 hour"),
        "append")
        .orderBy("window_start", "event_type")
    },

    // ---- streaming stateful dedup: dropDuplicates over an unbounded
    // key stream (state = one entry per distinct key). Projected to the
    // keys so the emitted SET is arrival-order-independent.
    "st_dedup_keys" -> QueryDef.sql(
      "streaming dropDuplicates emits each (user, event_type) once")(
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      runToMemory(stream, "append").orderBy("user_id", "event_type")
    },

    // ---- streaming dedup with BOUNDED state: the 100-TB variant of
    // st_dedup_keys. State per key is evicted once the watermark passes
    // it; with a watermark wider than the table's time span the emitted
    // set equals DISTINCT exactly, which is what the oracle checks.
    "st_dedup_watermark" -> QueryDef.sql(
      "streaming dropDuplicatesWithinWatermark (bounded state) = DISTINCT")(
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      val stream = EventStreams.dedupKeysWithinWatermark(
        Tables.loadStream(s, dir, "events").select(
          col("ts"), col("user_id"), col("event_type")),
        "36500 days", "user_id", "event_type")
      runToMemory(stream, "append").orderBy("user_id", "event_type")
    },

    // ---- stream-static join: per-event enrichment against a broadcast
    // dimension — the stateless lookup every streaming ingest pipeline
    // does (no watermark needed; the static side is re-read per batch
    // and broadcast). Emitted set = the batch join, row for row.
    "st_static_join" -> QueryDef.sql(
      "stream-static broadcast enrichment of events with the customer dim")(
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
        |       CAST(round(e.value * 100) AS BIGINT) AS value_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val joined = stream
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("segment"),
          round(col("value") * 100).cast("long").as("value_cents"))
      runToMemory(joined, "append").orderBy("event_id")
    },

    // ---- stream-stream interval join (the two-unbounded-sides operator
    // class): purchases within 30 min after a click by the same user.
    // Inner interval joins emit each match as soon as both rows have
    // arrived; the watermarks bound each side's buffered state to the
    // join interval plus the delay. The emitted set equals the batch
    // join — which the oracle replays — regardless of file batching.
    "st_interval_join" -> QueryDef.sql(
      "stream-stream interval join: purchases within 30min of a click")(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts, value FROM events)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |       c.user_id AS user_id, c.ts AS click_ts, p.ts AS purchase_ts,
        |       CAST(round(p.value * 100) AS BIGINT) AS purchase_cents
        |FROM e c JOIN e p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, dir) =>
      val clicks = Tables.loadStream(s, dir, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val buys = Tables.loadStream(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("purchase_ts"),
          col("value"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(buys, expr(
        """user_id = p_user AND
           purchase_ts >= click_ts AND
           purchase_ts <= click_ts + INTERVAL 30 MINUTES"""))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          col("click_ts"), col("purchase_ts"),
          round(col("value") * 100).cast("long").as("purchase_cents"))
      runToMemory(joined, "append").orderBy("click_id", "purchase_id")
    },

    // ---- arbitrary stateful processing v2 (Spark 4's
    // transformWithState + StatefulProcessor + typed ValueState over
    // RocksDB — the successor API to flatMapGroupsWithState; see
    // graft.streaming.StateV2): first-arrival key emission, whose
    // emitted SET is the distinct key set whatever the batching. The
    // provider conf is set/restored around the run (transformWithState
    // supports only the RocksDB provider; same sequential-harness
    // invariant as the state-partition sizing in runToMemory).
    "st_state_v2_dedup" -> QueryDef.sql(
      "transformWithState first-arrival dedup (state API v2, RocksDB)")(
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      withRocksDb(s) {
        val out = graft.streaming.StateV2
          .firstArrivals(Tables.loadStream(s, dir, "events"))
          .toDF()
        runToMemory(out, "append").orderBy("user_id", "event_type")
      }
    },

    // ---- gap sessionization driven by EXPLICIT EVENT-TIME TIMERS
    // (state API v2): same session algebra as st_sessionize, but the
    // session close is a registered timer the watermark expires
    // (registerTimer/handleExpiredTimer + a ValueState-tracked timer
    // handle; see graft.streaming.TimerSessionProcessor) instead of
    // GroupStateTimeout. Shares st_sessionize's oracle and its
    // last-session exclusion (that emission is timing-driven on both
    // implementations).
    "st_timer_sessions" -> QueryDef.sql(
      "6h-gap sessions closed by state-v2 event-time timers")(
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT *, lag(epoch_us(ts)) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
        |s AS (SELECT *, CASE WHEN prev_us IS NULL
        |                       OR epoch_us(ts) - prev_us > 21600000000
        |                     THEN 1 ELSE 0 END AS new_sess FROM g),
        |sid AS (SELECT *, sum(new_sess) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS session_id FROM s),
        |sess AS (SELECT user_id, count(*) AS n_events,
        |           min(ts) AS session_start, max(ts) AS session_end,
        |           CAST(sum(cents) AS BIGINT) AS value_cents
        |         FROM sid GROUP BY user_id, session_id),
        |mx AS (SELECT user_id, max(ts) AS mx FROM e GROUP BY user_id)
        |SELECT user_id, session_start, session_end,
        |       CAST(n_events AS BIGINT) AS n_events, value_cents
        |FROM sess JOIN mx USING (user_id) WHERE session_end < mx
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      import s.implicits._
      withRocksDb(s) {
        val stream = Tables.loadStream(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type"), col("value"))
          .as[EventStreams.Event]
        val out = runToMemory(
          graft.streaming.StateV2.timerSessions(stream,
            gapSeconds = 21600L, watermark = "0 seconds").toDF(),
          "append")
        val lastTs = t(s, dir, "events")
          .groupBy(col("user_id")).agg(max(col("ts")).as("_mx"))
        out.join(broadcast(lastTs), "user_id")
          .filter(col("session_end") < col("_mx"))
          .select(col("user_id"), col("session_start"), col("session_end"),
            col("n_events"), col("value_cents"))
          .orderBy("user_id", "session_start")
      }
    },

    // ---- foreachBatch sink: the API production pipelines use to MERGE
    // each micro-batch into a warehouse table (Delta/Iceberg MERGE,
    // JDBC upsert) — the batch DataFrame surface inside a streaming
    // query. Last-writer-wins upsert keyed by user_id with the writer
    // ordered by (ts, event_id): each batch reduces itself with max_by
    // on the executors, bulk-stages the reduced rows, and folds them in
    // with one set-based MERGE INTO executed by the warehouse (embedded
    // Derby standing in for Postgres — see ForeachBatchUpsert) keeping
    // the larger (ts, event_id) — idempotent and commutative across
    // batches, so the COMMITTED table read back here equals the batch
    // max_by whatever the file batching. No data row transits the
    // driver inside the batch loop. The oracle is exactly that batch
    // reduction.
    "st_foreachbatch_upsert" -> QueryDef.sql(
      "foreachBatch last-writer-wins upsert keyed by user")(
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
        |      FROM e)
        |SELECT user_id, event_id AS last_event_id, ts AS last_ts,
        |       cents AS last_cents
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.streaming.ForeachBatchUpsert.run(stream).orderBy("user_id")
    },

    // ---- MAPSTATE leg of the v2 surface: per-session event-type
    // histograms (MapState[event_type -> count] per user — point
    // get/put per row against the state store, the access pattern
    // MapState exists for), drained one row per type when the session
    // closes in-batch or by timer (see SessionTypeCountsProcessor).
    // Same last-session exclusion as the other session queries.
    "st_session_type_counts" -> QueryDef.sql(
      "per-session event-type histograms via MapState + timers")(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT *, lag(epoch_us(ts)) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
        |s AS (SELECT *, CASE WHEN prev_us IS NULL
        |                       OR epoch_us(ts) - prev_us > 21600000000
        |                     THEN 1 ELSE 0 END AS new_sess FROM g),
        |sid AS (SELECT *, sum(new_sess) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS session_id FROM s),
        |sess AS (SELECT user_id, session_id, min(ts) AS session_start,
        |           max(ts) AS session_end FROM sid GROUP BY 1, 2),
        |tc AS (SELECT user_id, session_id, event_type, count(*) AS n
        |       FROM sid GROUP BY 1, 2, 3),
        |mx AS (SELECT user_id, max(ts) AS mx FROM e GROUP BY user_id)
        |SELECT tc.user_id AS user_id, session_start, session_end,
        |       event_type, CAST(n AS BIGINT) AS n
        |FROM tc JOIN sess USING (user_id, session_id)
        |        JOIN mx USING (user_id)
        |WHERE session_end < mx
        |ORDER BY user_id, session_start, event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      withRocksDb(s) {
        val stream = Tables.loadStream(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type"), col("value"))
          .as[EventStreams.Event]
        val out = runToMemory(
          graft.streaming.StateV2.sessionTypeCounts(stream,
            gapSeconds = 21600L, watermark = "0 seconds").toDF(),
          "append")
        val lastTs = t(s, dir, "events")
          .groupBy(col("user_id")).agg(max(col("ts")).as("_mx"))
        out.join(broadcast(lastTs), "user_id")
          .filter(col("session_end") < col("_mx"))
          .select(col("user_id"), col("session_start"), col("session_end"),
            col("event_type"), col("n"))
          .orderBy("user_id", "session_start", "event_type")
      }
    },

    // ---- stream-stream LEFT OUTER interval join: the other half of
    // the stream-stream class (st_interval_join is inner). Matched
    // pairs emit as both sides arrive; a click with NO purchase in its
    // 30-min window emits null-extended only once the watermark passes
    // the end of its match window (click_ts + 30min < final watermark)
    // and the post-data no-data micro-batch flushes the eviction — so
    // the oracle is the batch LEFT JOIN with exactly that eviction
    // predicate on the unmatched rows (same withheld-tail mirroring as
    // st_window_append's HAVING). The final watermark is
    // min(max click ts, max purchase ts) − 1h, NOT max(all events) −
    // 1h: each side's withWatermark sits ABOVE its event-type filter,
    // so it tracks the FILTERED substream's max event time, and the
    // join's global watermark is the min of the two
    // (multipleWatermarkPolicy default). At sf0.1 the definitions
    // differ by 57 s and one boundary click flips — sf0.1
    // verification pinned this. Clicks still inside the window stay
    // in state, correctly unemitted.
    "st_interval_join_left" -> QueryDef.sql(
      "stream-stream left-outer interval join with watermark eviction")(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |mx AS (SELECT least(
        |         epoch_us(max(ts) FILTER (event_type = 'click')),
        |         epoch_us(max(ts) FILTER (event_type = 'purchase')))
        |         AS mxus FROM e)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |       c.user_id AS user_id, c.ts AS click_ts, p.ts AS purchase_ts,
        |       CAST(round(p.value * 100) AS BIGINT) AS purchase_cents
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE, mx
        |WHERE p.event_id IS NOT NULL
        |   OR epoch_us(c.ts) + 1800000000 < mxus - 3600000000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, dir) =>
      val clicks = Tables.loadStream(s, dir, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val buys = Tables.loadStream(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("purchase_ts"),
          col("value"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(buys, expr(
        """user_id = p_user AND
           purchase_ts >= click_ts AND
           purchase_ts <= click_ts + INTERVAL 30 MINUTES"""), "left_outer")
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          col("click_ts"), col("purchase_ts"),
          round(col("value") * 100).cast("long").as("purchase_cents"))
      runToMemory(joined, "append").orderBy("click_id", "purchase_id")
    },

    // ---- MULTIMODAL DECODE IN-STREAM: gradient PNGs REALLY decoded
    // and dHashed inside the micro-batch pipeline (ImageIO through a
    // streaming mapPartitions — the multimodal ingestion path run as a
    // stream), then a complete-mode aggregation per 64-bit hash: the
    // streaming half of td_image_dhash_dedup's rep contraction
    // (keep_id = min doc_id, group size). Aggregation output is
    // order-independent — WHICH micro-batch a row arrived in cannot
    // show — so the oracle replays the hash arithmetic + GROUP BY.
    "st_image_dhash_groups" -> QueryDef.sql(
      "in-stream PNG decode + dHash, complete-mode per-hash dup groups")(
      s"""WITH d AS (SELECT doc_id, 1 + doc_id % 31 AS w,
        |             1 + doc_id % 17 AS h FROM documents),
        |hb AS (SELECT doc_id,
        |         ${(0 to 3).map(MultimodalQueries.dhashBandSql).mkString(", ")}
        |       FROM d)
        |SELECT h0, h1, h2, h3, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM hb GROUP BY h0, h1, h2, h3 ORDER BY keep_id""".stripMargin) {
      (s, dir) =>
      val blobs = graft.operators.MultimodalPipeline.toGradientPngBlobs(
        Tables.loadStream(s, dir, "documents"))
      val agg = graft.operators.MultimodalPipeline.dhashImages(blobs).toDF()
        .groupBy("h0", "h1", "h2", "h3")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
      runToMemory(agg, "complete").orderBy("keep_id")
    },

    // ---- streaming ingest dedup: the arriving document stream is
    // anti-joined against the EXISTING corpus's digest set (stream-
    // static LEFT ANTI, static side broadcast — the remaining
    // stream-static join class after st_static_join's inner). Exact
    // text match via the fixed-width (md5, xxhash64, length) digest,
    // same rationale as the batch td_incremental_dedup; stateless, so
    // any file batching emits the same set. Within-batch duplicates are
    // the downstream batch pass's job.
    //
    // As of round 16 the digest set is a STORED ARTIFACT (parity with
    // st_incremental_ann's persisted index): the distinct existing
    // digests are published once per corpus vintage (fingerprint-keyed
    // dir, Tables.ensurePublished's atomic-rename protocol) and every
    // run — every micro-batch's static side — broadcasts the stored
    // table instead of re-hashing the full corpus text. That is the
    // dedup index every production ingest pipeline keeps on disk;
    // per-batch cost = hashing the BATCH + one pruned-column read of
    // the digest store. Digest values are unchanged, so the oracle
    // hash is too.
    "st_incremental_dedup" -> QueryDef.sql(
      "stream-static anti-join drops docs already in the corpus")(
      """SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id % 5 = 4
        |  AND NOT EXISTS (SELECT 1 FROM documents e
        |                  WHERE e.doc_id % 5 <> 4 AND e.text = d.text)
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val dig = struct(md5(col("text").cast("binary")).as("m"),
        xxhash64(col("text")).as("x"), length(col("text")).as("l"))
        .as("_dig")
      // keyed by the TABLE path's content fingerprint (artifactKey
      // contract), prefix = format-version salt
      val key = Tables.artifactKey(s, "graft-incdig", s"$dir/documents.parquet")
      val digDir = Tables.ensurePublished(
        s"${System.getProperty("java.io.tmpdir")}/$key") {
        staging =>
          t(s, dir, "documents").filter(col("doc_id") % 5 =!= 4)
            .select(dig).distinct()
            .write.parquet(s"$staging/digests")
      }
      // schema-pinned read (the IvfIndex.load discipline): a format
      // change fails loudly instead of hash-drifting
      val digSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_dig",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("m",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("x",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("l",
              org.apache.spark.sql.types.IntegerType))))))
      val existing = s.read.schema(digSchema).parquet(s"$digDir/digests")
      val stream = Tables.loadStream(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4)
        .select(col("doc_id"), col("lang"), col("source"), dig)
        .join(broadcast(existing), Seq("_dig"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
      runToMemory(stream, "append").orderBy("doc_id")
    },

    // ---- streaming ANN serving (round 15, the similarity twin of
    // st_incremental_dedup): arriving new vectors (vec_id % 5 = 4) get
    // 3-NN answers against the EXISTING corpus's IVF index — which, as
    // of round 16 (VERDICT r15 #4), is the PERSISTED operators.IvfIndex
    // artifact: the plan builds the 16-cell index once per corpus
    // vintage (fingerprint-keyed dir, IvfIndex.ensureSaved's
    // atomic-publish protocol) and then serves purely from the stored
    // files. The quantizer — the centroids table, ≤16 rows — is
    // collected at PLAN BUILD from the artifact (the FAISS index-load
    // pattern) and both cell assignments run as PURE per-row
    // expressions over it (16 codegen'd dots + one array_sort per row,
    // zero shuffle): the stream side probes its top-2 cells, the
    // static side is the stored POSTINGS table read per micro-batch (a
    // partition-pruned parquet scan in production — no recomputed home
    // cells, no lineage truncation), joined on cell id (stream-static
    // inner, the blocking discipline of annKnnEdges).
    // The per-query top-3 is BOUNDED STATE: the long-keyed bottom-k
    // aggregate keyed by the order-preserving [[DoubleSortBits]]
    // encoding of -cosine, so state is O(k) per query — never the
    // candidate list — and the emitted ranks are exactly the
    // (cosine DESC, n_id ASC) total order the oracle replays.
    // Within-batch (new×new) neighbors are the following batch pass's
    // job (td_incremental_ann covers them), mirroring
    // st_incremental_dedup's contract.
    "st_incremental_ann" -> QueryDef.sql(
      "streaming new-vector 3-NN vs the existing corpus's IVF index")(
      """WITH vd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
        |            FROM embeddings),
        |nr AS (SELECT vec_id, vd,
        |         sqrt(list_reduce(list_transform(range(len(vd)),
        |           i -> vd[i+1]*vd[i+1]), (a,b) -> a+b)) AS nrm FROM vd),
        |n AS (SELECT vec_id, list_transform(vd, x -> x / nrm) AS an
        |      FROM nr),
        |cc AS (SELECT vec_id AS cid, an AS ca FROM n
        |       WHERE vec_id % 5 <> 4 ORDER BY vec_id LIMIT 16),
        |he AS (SELECT vec_id, an, cell FROM (
        |  SELECT n.vec_id, n.an, cc.cid AS cell, row_number() OVER (
        |      PARTITION BY n.vec_id
        |      ORDER BY list_reduce(list_transform(range(len(n.an)),
        |        i -> n.an[i+1]*cc.ca[i+1]), (a,b) -> a+b) DESC, cc.cid) AS rn
        |  FROM n, cc WHERE n.vec_id % 5 <> 4) WHERE rn = 1),
        |pq AS (SELECT vec_id, an, cell FROM (
        |  SELECT n.vec_id, n.an, cc.cid AS cell, row_number() OVER (
        |      PARTITION BY n.vec_id
        |      ORDER BY list_reduce(list_transform(range(len(n.an)),
        |        i -> n.an[i+1]*cc.ca[i+1]), (a,b) -> a+b) DESC, cc.cid) AS rn
        |  FROM n, cc WHERE n.vec_id % 5 = 4) WHERE rn <= 2),
        |p AS (SELECT q.vec_id AS q_id, x.vec_id AS n_id,
        |        list_reduce(list_transform(range(len(q.an)),
        |          i -> q.an[i+1]*x.an[i+1]), (a,b) -> a+b) AS cosine
        |      FROM pq q JOIN he x ON q.cell = x.cell),
        |r AS (SELECT q_id, n_id, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk FROM p)
        |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, n_id
        |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin) { (s, dir) =>
      import graft.functions.GraftFunctions.{bottomKSample, dot, sortBits}
      import graft.operators.IvfIndex
      // the persisted index of the existing corpus: built+published
      // once per corpus vintage (the fingerprint re-keys the dir when
      // the fixture is rewritten under the same path), then every run
      // — including every micro-batch's static side — reads the stored
      // artifacts alone. The 16-cell seeding is IvfIndex.build's
      // oracle-pinned contract, so the emitted rows (and the oracle
      // hash) are identical to the former in-plan computation.
      // keyed by the TABLE path's content fingerprint (artifactKey
      // contract), prefix = format-version salt
      val key = Tables.artifactKey(s, "graft-incann16",
        s"$dir/embeddings.parquet")
      val idxDir = IvfIndex.ensureSaved(
        s"${System.getProperty("java.io.tmpdir")}/$key") {
        val n = graft.queries.DedupQueries.normalizedEmbeddings(s, dir)
        IvfIndex.build(
          n.filter(col("vec_id") % 5 =!= 4).select(col("vec_id"), col("an")),
          cells = 16)
      }
      val (centsDf, postings) = IvfIndex.load(s, idxDir)
      // the stored quantizer, loaded at plan build (16 × 64 doubles;
      // sorted by cid for a deterministic expression tree)
      val cents = centsDf.select(col("cid"), col("ca")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      // per-row probe ranking over the in-memory quantizer: ascending
      // (-dot, cid) struct sort == the oracle's (dot DESC, cid) order
      // (-0.0 == 0.0 under SQL struct comparison, so zero-dot ties
      // still break by cid)
      def rankedCells(an: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column = array_sort(array(cents.toSeq.map {
        case (cid, ca) => struct(
          (-dot(an, typedlit(ca))).as("negdot"), lit(cid).as("cid"))
      }: _*))
      // static side: the stored postings table — home cells were
      // assigned at BUILD time (IvfIndex.probeFrame k=1, the identical
      // discipline the in-plan version ran), so each micro-batch's
      // re-evaluation is a plain parquet scan of the inverted lists
      // (no recomputation, no checkpoint; no bench knob here — the
      // serving contract is the pinned 16-cell oracle index)
      val cside = postings
        .select(col("n_id"), col("an").as("ca"), col("cell"))
      val stream = Tables.loadStream(s, dir, "embeddings")
        .filter(col("vec_id") % 5 === 4)
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("vd"))
        .withColumn("nrm", sqrt(dot(col("vd"), col("vd"))))
        .select(col("q_id"),
          transform(col("vd"), x => x / col("nrm")).as("qa"))
        .select(col("q_id"), col("qa"),
          explode(slice(rankedCells(col("qa")), 1, 2)).as("probe"))
        .select(col("q_id"), col("qa"), col("probe")("cid").as("cell"))
      val agg = stream.join(cside, Seq("cell"))
        .select(col("q_id"),
          sortBits(-dot(col("qa"), col("ca"))).as("key"), col("n_id"))
        .groupBy(col("q_id"))
        .agg(bottomKSample(col("key"), col("n_id"), 3).as("top"))
      runToMemory(agg, "complete")
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("q_id"), (col("pos") + 1).cast("int").as("rnk"),
          col("e")("payload").as("n_id"))
        .orderBy("q_id", "rnk")
    },

    // ---- STREAMING EMBEDDING-DRIFT MONITOR (round 15): the
    // distribution-shift check an embedding ingest pipeline runs
    // continuously — per label, how coherent are ARRIVING vectors with
    // the corpus's per-label centroid, vs how coherent the corpus
    // itself is. The static side computes each label's unit centroid
    // and the existing members' mean cosine to it (the baseline); the
    // stream scores arriving vectors (vec_id % 5 = 4) against the
    // BROADCAST centroids (stream-static join on a labels-row table)
    // and keeps per-label (count, Σ round(cos·1e6)) as Complete-mode
    // state — two longs per label, bounded regardless of stream
    // length. All cross-row reductions are exact micro-unit longs
    // (the ivfCentroids discipline), so means and drift are
    // bit-stable cross-engine at any partitioning/batching; the
    // means' one double division and drift's one subtraction happen
    // batch-side over the sink table. A drift << 0 on a label says
    // arriving data no longer matches the corpus — the signal that
    // gates index retraining (the ivf.train knob) in production.
    "st_embedding_drift" -> QueryDef.sql(
      "streaming per-label cosine drift of arriving vectors vs corpus centroids")(
      """WITH vd AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vd
        |            FROM embeddings),
        |nr AS (SELECT vec_id, label, vd,
        |         sqrt(list_reduce(list_transform(range(len(vd)),
        |           i -> vd[i+1]*vd[i+1]), (a,b) -> a+b)) AS nrm FROM vd),
        |n AS (SELECT vec_id, label,
        |        list_transform(vd, x -> x / nrm) AS an FROM nr),
        |ex AS (SELECT * FROM n WHERE vec_id % 5 <> 4),
        |cs AS (SELECT label, t.k AS pos,
        |         CAST(sum(CAST(round(an[t.k+1]*1000000) AS BIGINT)) AS DOUBLE)
        |           / count(*) AS cm
        |       FROM ex, unnest(range(len(an))) AS t(k) GROUP BY 1, 2),
        |cv AS (SELECT label, list(cm ORDER BY pos) AS cm FROM cs
        |       GROUP BY label),
        |cu AS (SELECT label, list_transform(cm, x -> x /
        |         sqrt(list_reduce(list_transform(range(len(cm)),
        |           i -> cm[i+1]*cm[i+1]), (a,b) -> a+b))) AS ca FROM cv),
        |eco AS (SELECT e.label,
        |          CAST(round(list_reduce(list_transform(range(len(e.an)),
        |            i -> e.an[i+1]*cu.ca[i+1]), (a,b) -> a+b) * 1000000)
        |            AS BIGINT) AS cmicro
        |        FROM ex e JOIN cu ON e.label = cu.label),
        |est AS (SELECT label, count(*) AS n_existing,
        |          CAST(sum(cmicro) AS DOUBLE) / (1000000.0 * count(*))
        |            AS mean_cos_existing
        |        FROM eco GROUP BY label),
        |nw AS (SELECT * FROM n WHERE vec_id % 5 = 4),
        |nco AS (SELECT w.label,
        |          CAST(round(list_reduce(list_transform(range(len(w.an)),
        |            i -> w.an[i+1]*cu.ca[i+1]), (a,b) -> a+b) * 1000000)
        |            AS BIGINT) AS cmicro
        |        FROM nw w JOIN cu ON w.label = cu.label),
        |nst AS (SELECT label, count(*) AS n_new,
        |          CAST(sum(cmicro) AS DOUBLE) / (1000000.0 * count(*))
        |            AS mean_cos_new
        |        FROM nco GROUP BY label)
        |SELECT est.label, est.n_existing, est.mean_cos_existing,
        |       nst.n_new, nst.mean_cos_new,
        |       nst.mean_cos_new - est.mean_cos_existing AS drift
        |FROM est JOIN nst ON est.label = nst.label
        |ORDER BY est.label""".stripMargin) { (s, dir) =>
      import graft.functions.GraftFunctions.dot
      val n = graft.queries.DedupQueries.normalizedEmbeddings(s, dir)
      val ex = n.filter(col("vec_id") % 5 =!= 4)
      // the stream-static join re-evaluates the static subplan each
      // micro-batch, so without the checkpoint the centroid job (a
      // corpus scan + a labels·dim shuffle) would run once per batch
      // plus once for the baseline (review r15); checkpointed it runs
      // once
      val cu = Lineage.truncate(labelCentroids(ex))
      val est = driftScoreAgg(ex, cu, "n_existing", "esum")
      val stream = driftScoreAgg(
        Tables.loadStream(s, dir, "embeddings")
          .filter(col("vec_id") % 5 === 4)
          .select(col("label"),
            col("embedding").cast("array<double>").as("vd"))
          .withColumn("nrm", sqrt(dot(col("vd"), col("vd"))))
          .select(col("label"), transform(col("vd"), x => x / col("nrm"))
            .as("an")),
        cu, "n_new", "nsum")
      runToMemory(stream, "complete")
        .join(est, "label")
        .select(col("label"), col("n_existing"),
          (col("esum").cast("double") /
            (lit(1000000.0) * col("n_existing"))).as("mean_cos_existing"),
          col("n_new"),
          (col("nsum").cast("double") /
            (lit(1000000.0) * col("n_new"))).as("mean_cos_new"))
        .withColumn("drift",
          col("mean_cos_new") - col("mean_cos_existing"))
        .orderBy("label")
    },

    // ---- the custom DSv2 connector's micro-batch half: graftgen's id
    // space is the offset axis, admission control (rowsPerBatch=6000)
    // bounds each batch, and AvailableNow drains [0, rows) in 4 batches
    // through checkpointed offsets (restart exactly-once is pinned in
    // GraftGenSpec). The emitted set is the full deterministic table,
    // which the oracle replays over range().
    "st_custom_source" -> QueryDef.sql(
      "custom DSv2 micro-batch source drains offset-bounded batches")(
      """SELECT CAST(t.id AS BIGINT) AS id,
        |       'w' || (t.id % 97) AS text,
        |       CAST((t.id * 7) % 100 AS DOUBLE) / 10 AS val
        |FROM range(0, 20000) t(id) ORDER BY id""".stripMargin) { (s, dir) =>
      Tables.pinDialect(s)
      val stream = s.readStream.format("graftgen")
        .option("rows", "20000").option("slices", "8")
        .option("rowsPerBatch", "6000").load()
      runToMemory(stream, "append").orderBy("id")
    },

    // ---- native session_window in streaming append mode (vs
    // st_sessionize's hand-rolled flatMapGroupsWithState): merged
    // session state lives in the state store and a session is emitted
    // once the watermark passes its end. With a 0-second delay the
    // final watermark is the global max event time, so the emitted set
    // is exactly {sessions with last_event + gap <= max(ts)} — a
    // data-driven global condition, independent of file batching (no
    // per-user final-session race: verified no session_end == max(ts)
    // collision at any SF).
    "st_session_window" -> QueryDef.sql(
      "streaming native session_window emits watermark-closed sessions")(
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT *, lag(epoch_us(ts)) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
        |s AS (SELECT *, CASE WHEN prev_us IS NULL
        |                       OR epoch_us(ts) - prev_us >= 21600000000
        |                     THEN 1 ELSE 0 END AS new_sess FROM g),
        |sid AS (SELECT *, sum(new_sess) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS session_id FROM s),
        |mx AS (SELECT max(ts) AS mx FROM e)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 6 HOUR AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM sid, mx
        |GROUP BY user_id, session_id, mx
        |HAVING max(ts) + INTERVAL 6 HOUR <= mx
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
        .select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        .withWatermark("ts", "0 seconds")
        .groupBy(col("user_id"),
          session_window(col("ts"), "6 hours").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("value_cents"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"),
          col("value_cents"))
      runToMemory(stream, "append").orderBy("user_id", "session_start")
    },

    // ---- streaming sketch state: the SpaceSaving heavy-hitters
    // aggregate inside a streaming groupBy — per-group state in the
    // state store is the sketch's serialized O(capacity) counter set,
    // NOT one entry per distinct term (the bounded-state pattern for
    // top-k over unbounded streams). capacity=128 exceeds the 100
    // distinct props.k values at every SF, so no eviction fires, the
    // merged counts are exact and batch-order-independent, and the
    // plain-count oracle matches; bounded-capacity behavior is pinned
    // in SketchAggregatesSpec.
    "st_heavy_hitters" -> QueryDef.sql(
      "streaming per-event-type top-5 props.k via SpaceSaving sketch state")(
      """WITH k AS (SELECT event_type, json_extract_string(props, 'k') AS term
        |           FROM events),
        |c AS (SELECT event_type, term, count(*) AS cnt
        |      FROM k GROUP BY event_type, term),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY event_type ORDER BY cnt DESC, term) AS rk
        |      FROM c)
        |SELECT event_type, term, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rk <= 5
        |ORDER BY event_type, cnt DESC, term""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").as("term"))
        .groupBy(col("event_type"))
        .agg(graft.functions.GraftFunctions
          .spaceSavingTopK(col("term"), 128, 5).as("top"))
      runToMemory(stream, "complete")
        .select(col("event_type"), explode(col("top")).as("e"))
        .select(col("event_type"), col("e.term").as("term"),
          col("e.cnt").as("cnt"))
        .orderBy(col("event_type"), col("cnt").desc, col("term"))
    },

    // ---- streaming distinct-cardinality sketch state: the
    // BitmapDistinctAgg bitmap (OR-mergeable, FIXED 128-byte state per
    // group) runs as the Complete-mode streaming aggregate — the
    // bounded-state replacement for streaming count(DISTINCT), which
    // Spark rejects outright in streaming (state would be O(distinct
    // keys)). Deterministic given the cross-engine hash, so the oracle
    // replays the exact bucket count; same state-discipline family as
    // st_heavy_hitters / st_quantile_hist.
    "st_distinct_sketch" -> QueryDef.sql(
      "streaming bitmap distinct-bucket sketch per event type")(
      """SELECT event_type,
        |  count(DISTINCT (CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))
        |    AS BIGINT) % 1024 + 1024) % 1024) AS sketch_buckets
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val stream = Tables.loadStream(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(graft.functions.GraftFunctions
          .bitmapDistinct(graft.functions.GraftFunctions
            .hash60(col("user_id").cast("string")), 1024)
          .cast("long").as("sketch_buckets"))
      runToMemory(stream, "complete").orderBy("event_type")
    },

    // ---- streaming gap sessionization via flatMapGroupsWithState (the
    // custom-state operator class): same 6h gap as rel_sessionize. Both
    // sides drop each user's final session — its emission depends on a
    // timeout-vs-final-watermark race, not on data.
    "st_sessionize" -> QueryDef.sql(
      "streaming 6h-gap sessions (closed sessions only) vs batch oracle")(
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT *, lag(epoch_us(ts)) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
        |s AS (SELECT *, CASE WHEN prev_us IS NULL
        |                       OR epoch_us(ts) - prev_us > 21600000000
        |                     THEN 1 ELSE 0 END AS new_sess FROM g),
        |sid AS (SELECT *, sum(new_sess) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS session_id FROM s),
        |sess AS (SELECT user_id, count(*) AS n_events,
        |           min(ts) AS session_start, max(ts) AS session_end,
        |           CAST(sum(cents) AS BIGINT) AS value_cents
        |         FROM sid GROUP BY user_id, session_id),
        |mx AS (SELECT user_id, max(ts) AS mx FROM e GROUP BY user_id)
        |SELECT user_id, session_start, session_end,
        |       CAST(n_events AS BIGINT) AS n_events, value_cents
        |FROM sess JOIN mx USING (user_id) WHERE session_end < mx
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      import s.implicits._
      val stream = Tables.loadStream(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[EventStreams.Event]
      val out = runToMemory(
        EventStreams.sessionize(stream, gapSeconds = 21600L,
          watermark = "0 seconds").toDF(),
        "append")
      // a user's last session necessarily contains their max event time;
      // excluding it removes exactly the timing-dependent emissions
      val lastTs = t(s, dir, "events")
        .groupBy(col("user_id")).agg(max(col("ts")).as("_mx"))
      out.join(broadcast(lastTs), "user_id")
        .filter(col("session_end") < col("_mx"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("value_cents"))
        .orderBy("user_id", "session_start")
    })
}
