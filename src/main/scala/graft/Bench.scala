package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: times every registry query at the given SF and
  * prints one JSON line. Queries run in sorted name order after a session
  * warm-up action so no query is billed for JVM/session startup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // JIT/session warmup: exercise codegen, shuffle, and the parquet
    // reader once so the first timed query isn't billed for startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    // touch each base table once: first contact pays one-time reader and
    // codegen init that a long-running cluster amortizes away. Each touch
    // is individually fenced: a table that fails to load must surface as
    // per-query error rows downstream, never abort the whole bench into
    // an unparseable rc-1 record (round 7 lost its entire measurement to
    // one analysis exception here).
    Seq("region", "events", "documents", "embeddings", "lineitem", "orders")
      .foreach { t =>
        try {
          val df = Tables.load(spark, sfDir, t)
          // real column scan, not the metadata-only count() path
          df.select(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.col(df.columns.last))).collect()
        } catch {
          // NonFatal, not Throwable: an analysis/IO failure becomes
          // per-query error rows downstream, but a fatal JVM error
          // (OOM, StackOverflow) must abort — a bench continuing on a
          // corrupted JVM would record a plausible-looking lie
          case NonFatal(e) =>
            System.err.println(s"[bench] warm-up of table $t failed: " +
              s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(200))
        }
      }
    // Streaming-stack warm-up: the first streaming query otherwise pays
    // one-time costs a resident cluster never re-pays — micro-batch
    // machinery class-loading/codegen and (for the foreachBatch upsert)
    // the embedded Derby engine boot — and gets billed ~1-2 s of JVM
    // startup as if it were plan cost. Same rationale and fencing as the
    // table touches above.
    try {
      // one stateful micro-batch under each state-store provider: the
      // default HDFS-backed one AND RocksDB (whose first touch loads the
      // native library and spins up instance machinery — ~1.5 s that
      // otherwise bills to whichever RocksDB query runs first)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        for (prov <- Seq(None, Some("org.apache.spark.sql.execution." +
            "streaming.state.RocksDBStateStoreProvider"))) {
          prov.foreach(spark.conf.set(provKey, _))
          val ck = java.nio.file.Files
            .createTempDirectory("graft-bench-warm-ck-").toString
          val q = spark.readStream.format("graftgen")
            .option("rows", "64").option("slices", "2").load()
            .dropDuplicates("id")
            .writeStream.format("noop").option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
      } finally {
        spark.conf.unset(provKey)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] streaming warm-up failed: " +
          s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(200))
    }
    try {
      java.sql.DriverManager
        .getConnection("jdbc:derby:memory:benchwarm;create=true")
      java.sql.DriverManager
        .getConnection("jdbc:derby:memory:benchwarm;drop=true")
    } catch { case NonFatal(_) => () } // drop=true throws 08006 by design
    // Ad-hoc local iteration only: SPARK_GRAFT_BENCH_ONLY holds
    // comma-separated name prefixes (e.g. "st_,rel_graph_") restricting
    // the sweep. The driver never sets it, so official records stay
    // full-registry; totals from a filtered run are not comparable and
    // the line's n_queries says so.
    val prefixes = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val confs = GraftConf.nonDefaults(spark) // a bad or undeclared key fails here
    val (results, canaries) = sweep(spark, sfDir,
      registry(n => prefixes.forall(_.exists(n.startsWith))))
    val (full, compact) = renderLines(results, sfDir, canaries, confs = confs)
    // Full detail first (useful when reading the whole log, and persisted
    // to a file), then a COMPACT line LAST: the harness captures only the
    // final ~2000 chars of output, so the parseable line must be short
    // enough to survive that window — the full per-query line never did.
    // spark.stop() runs BEFORE the compact println: Spark's shutdown
    // logging would otherwise land after it and push it out of the
    // tail window (r5: `parsed` came back null for exactly this
    // reason).
    println(full)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // bench_full.json is overwritten every round, which made cross-round
    // per-query diffing lossy (VERDICT r9 #4) — ALSO write a
    // round-stamped copy next to the driver's BENCH_r{N}.json artifacts
    // (round inferred from the highest existing one; no clock involved)
    val stamped = Bench.roundStampedPath(outPath,
      new java.io.File(".").listFiles() match {
        case null => Nil
        case fs => fs.map(_.getName).toSeq
      })
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    (outPath +: stamped.toSeq).foreach { p =>
      try guardedRecordWrite(p, full + "\n", force)
      catch { case scala.util.control.NonFatal(_) => () } // best-effort
    }
    // LATEST-RUN record, UNGUARDED (VERDICT r18 #2): guardedRecordWrite
    // diverts a run when the target already holds a promoted record —
    // including the DRIVER's own runs — so a reader of the guarded files
    // sees best-of-N, not latest. bench_last.json is unconditionally
    // overwritten with this run's full line (gitignored; never promoted,
    // never compared across rounds — it exists so the most recent run is
    // always machine-readable regardless of promotion state).
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_last.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(_) => () } // best-effort
    spark.stop()
    println(compact)
  }

  /** The bench session: `local[cpus]` with one shuffle partition per
    * core, AQE on, no UI, the engine dialect pinned. Shared with
    * [[graft.tools.Profile]] so a single-query profile plans exactly as
    * the sweep does. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.pinDialect(spark)
  }

  type Res = (String, Either[String, Double], Either[String, Double], Double)

  /** The registry queries whose names pass `keep`, in sorted name
    * order — the order every sweep runs them in. */
  private[graft] def registry(keep: String => Boolean)
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.filter(q => keep(q._1)).toSeq.sortBy(_._1)

  /** The registry sweep, shared by [[main]] and the stress harnesses
    * ([[RelStress.sweep]]): starts a [[Canary]], runs each query cold
    * then warm against `dir` in the given order, and takes a canary
    * checkpoint before the middle query and after the last. Returns
    * the per-query results and the canary readings (start, start
    * again, middle, end).
    *
    * cold = first run (plan + codegen + execute, what a one-shot job
    * pays); warm = immediate second run (steady-state, what a resident
    * cluster pays — where round-over-round regressions actually show,
    * instead of being buried in compile noise). A throwing query
    * reports its error, never a fake elapsed time. Only NonFatal
    * errors are recorded: a fatal JVM error (OOM, StackOverflow)
    * aborts the sweep, which would otherwise go on recording
    * plausible-looking lies from a corrupted JVM.
    *
    * Shuffle: per-job-group write bytes of the first warm run — the
    * number that grows 1000× at 100 TB, quantified instead of guessed
    * from plans. Every action of a query runs under its own
    * `bench:<name>` job group, and each window is read after a bus
    * drain, so it holds every task of that query's run and no
    * neighbor's. The listener is per call and detached in the
    * `finally` below (ADVICE r11): a second sweep on the same session
    * (the two-family harnesses, or an engine-vs-harness A/B pair) must
    * not leave the first one's listener double-counting. */
  private[graft] def sweep(spark: SparkSession, dir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : (Seq[Res], Seq[Double]) = {
    val meter = QueryListener.attach(spark)
    def timed(fn: (SparkSession, String) => DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        consume(fn(spark, dir))
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case NonFatal(e) =>
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    try {
      val canary = new Canary(spark)
      val results = queries.zipWithIndex.map { case ((name, fn), i) =>
        if (i == queries.size / 2) canary.checkpoint()
        val group = s"bench:$name"
        spark.sparkContext.setJobGroup(group, name)
        meter.setActiveFallback(group)
        try {
          val cold = timed(fn)
          meter.drain(); meter.take(group)
          val warm0 = if (cold.isRight) timed(fn) else cold
          // the window closes around the FIRST warm run only: the
          // settle re-run below would otherwise bill this query's warm
          // shuffle twice
          meter.drain()
          val mb = meter.take(group).shuffleBytes / 1e6
          // per-query warm gets the canary's GC discipline (VERDICT r8
          // #3): see settledWarm. At stress scales the cold run's
          // collected sink rows become garbage exactly when the warm
          // run starts (sessionize 21.8 cold → 28.3 warm at 100×, r12).
          val warm = settledWarm(cold, warm0, () => { System.gc(); timed(fn) })
          System.err.println(f"[sweep] $name cold=${cold.fold(_ => -1.0, identity)}%.1fs " +
            f"warm=${warm.fold(_ => -1.0, identity)}%.1fs shuffle=$mb%.3fMB" +
            cold.left.toOption.map(e => s" ERROR $e").getOrElse(""))
          (name, cold, warm, mb)
        } finally {
          meter.setActiveFallback("")
          spark.sparkContext.clearJobGroup()
        }
      }
      canary.checkpoint()
      (results, canary.readings)
    } finally meter.detach()
  }

  /** Contention canary for one sweep or ladder: a fixed all-core CPU
    * probe ([[canaryProbe]]) read at the start, at checkpoints the
    * caller takes, and at the end. A run sharing the box with other
    * load records inflated times that look like plan regressions
    * (round 6 recorded a 2.3×-wrong total this way); the readings make
    * a contaminated record self-identifying through its drift (see
    * [[canaryFields]]). Bench, the registry stress sweeps and both
    * GraphStress ladders stamp their records with the same readings.
    *
    * Construction takes the two start readings, after two steps.
    * Ramp-out: the probe's own code keeps getting faster over its
    * first executions (on a fast box it read 0.19 s at the start
    * checkpoint and 0.09 s at the end of the SAME sweep while two
    * back-to-back full sweeps agreed to 0.03% on cold total), so it is
    * repeated until two consecutive readings agree within 10% (bounded
    * at 8 — a box too noisy to converge fails the gate anyway, the
    * correct verdict for it). Pre-sweep gate (VERDICT r12 #3: no
    * bench record met the drift protocol from r8 to r12): if the two
    * start readings already fail [[steady]], the box is contended
    * before anything has run — sleep once and re-measure, giving a
    * transient neighbor (a compile, a GC storm) a chance to clear. Both
    * start readings are kept, so the drift reflects whatever the box
    * actually did. */
  private[graft] final class Canary(spark: SparkSession) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
    locally {
      var prev = canaryProbe(spark)
      var cur = canaryProbe(spark)
      var spins = 0
      while (spins < 6 && math.max(prev, cur) / math.min(prev, cur) > 1.10) {
        prev = cur; cur = canaryProbe(spark); spins += 1
      }
    }
    private def pair() = Seq(canaryProbe(spark), canaryProbe(spark))
    buf ++= {
      val p = pair()
      if (steady(p)) p
      else {
        System.err.println(f"[canary] pre-sweep canary unstable " +
          f"(${p(0)}%.3f vs ${p(1)}%.3f); sleeping 60 s and retrying once")
        Thread.sleep(60000)
        pair()
      }
    }
    def checkpoint(): Unit = buf += canaryProbe(spark)
    def readings: Seq[Double] = buf.toSeq
  }

  /** Max/min of the canary readings — 1.0 on a steady box; None when
    * there are none or one is missing (≤ 0). */
  private def canaryDrift(canaries: Seq[Double]): Option[Double] =
    if (canaries.nonEmpty && canaries.min > 0) Some(canaries.max / canaries.min)
    else None

  /** The anchor protocol: the readings drifted by at most 15%. */
  private def steady(canaries: Seq[Double]): Boolean =
    canaryDrift(canaries).exists(_ <= 1.15)

  /** A record's canary fields: `canary` (the raw readings),
    * `canary_drift` (-1 when a reading is missing, never a fake 1.0)
    * and `anchor_eligible` (VERDICT r12 #3 — record status made
    * machine-readable instead of re-derived each round): true iff the
    * readings are [[steady]] AND `clean`, the caller's own success
    * condition. Consumers gate cross-round comparisons on it. */
  private[graft] def canaryFields(canaries: Seq[Double], clean: Boolean): String =
    s""""canary":${canaries.map(c => f"$c%.3f").mkString("[", ",", "]")},""" +
      s""""canary_drift":${canaryDrift(canaries).fold("-1")(d => f"$d%.3f")},""" +
      s""""anchor_eligible":${clean && steady(canaries)}"""

  /** Benchmark action: execute the query's FULL output — every row and
    * column, final sort included — consumed on the executors
    * (`queryExecution.toRdd.count()`, an RDD-level count the SQL
    * optimizer cannot see), never collected to the driver.
    * `.count()` is NOT a faithful action: the optimizer prunes the
    * final projection (count needs no columns), drops the presentation
    * sort, and — observed on td_dup_spans, round 13 — ELIMINATES a
    * row-preserving left join whose right side is an aggregate on the
    * join key, zeroing the query's real work (0.0 MB shuffle for a
    * full shingle-explode pipeline). toRdd executes the user-visible
    * plan as the driver's correctness gate consumes it. */
  private[graft] def consume(
      df: org.apache.spark.sql.DataFrame): Long =
    // RDD-level count: the SQL optimizer is already out of the
    // picture at toRdd, so this cannot re-introduce count pruning —
    // and returning the row count serves tools.Profile's display too
    df.queryExecution.toRdd.count()

  /** Dead-code-elimination sink for the canary's per-thread sums. */
  private val canarySink = new java.util.concurrent.atomic.AtomicLong

  /** One contention-canary reading: the min of 3 back-to-back runs of
    * a fixed pure-CPU all-core loop after an explicit GC. A lone probe
    * also measures the JVM's own heap aging (a 136-query sweep
    * accumulates GC pressure, and it drifted ~2× on an IDLE box), which
    * is not the external contention the canary exists to detect; the
    * min-of-3 after GC is the box's capacity at that moment, and
    * cross-process load still inflates all three. Read through
    * [[Canary]]. */
  private[graft] def canaryProbe(spark: SparkSession): Double = {
    // Pure-CPU, all-core probe: fixed xorshift iterations on one thread
    // per core, joined. Earlier rounds probed with a small Spark job
    // (range → groupBy → collect), but round 13 measured that probe's
    // absolute level falling 0.19 → 0.09 s WITHIN one sweep purely from
    // the JVM's codegen/profile maturation over 136 real queries (two
    // back-to-back full sweeps agreed to 0.03% on cold total while
    // reporting drift 2.2; a fresh JVM running the probe 30× back-to-
    // back sat flat at ~0.45 s and never approached 0.09 — the shift
    // needs the sweep itself, so no amount of probe warm-up removes
    // it). A deterministic scalar loop OSR-compiles to its steady state
    // within the first probe and shares no code with query execution,
    // so its level moves only with what the canary exists to detect:
    // other load on the box stealing cores. min-of-3 after GC retained
    // (a GC pause landing mid-probe is bench-JVM noise, not the box).
    val threads = math.max(2, spark.sparkContext.defaultParallelism)
    val itersPerThread = 150000000L
    def once(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + t
          var acc = 0L
          var i = 0L
          while (i < itersPerThread) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            acc += x
            i += 1
          }
          canarySink.addAndGet(acc)
          ()
        })
        th.setDaemon(true)
        th.start()
        th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    System.gc()
    Seq(once(), once(), once()).min
  }

  /** Round-stamped sibling of the detail file: the CURRENT round is the
    * one the driver is measuring now, i.e. highest existing
    * `BENCH_r{N}.json` + 1 (the driver writes its record AFTER running
    * this bench). None when no BENCH_r files exist (ad-hoc run outside
    * the repo root — the plain detail file still lands). Pure;
    * pinned in BenchSpec.
    *
    * NAMING CONVENTION (VERDICT r14 #7): `bench_full_r{N}.json` is the
    * DRIVER's slot — its judge-time run overwrites the working-tree
    * copy, so a builder claim anchored to that name can drift from the
    * file's contents. The BUILDER's committed closing record goes in
    * the sibling `bench_full_r{N}_local.json` (cp'd from the stamped
    * file at close of round — the r10-r13 convention, now the rule):
    * committed claims cite the `_local` file, driver comparisons cite
    * the unsuffixed one, and neither can silently overwrite the
    * other. */
  private val recordWriteSeq = new java.util.concurrent.atomic.AtomicLong

  /** Overwrite-safe record write (VERDICT r16 #3 — the recurring
    * gotcha fixed in CODE, not discipline: twice, a post-commit ad-hoc
    * bench run silently clobbered the round's committed
    * `anchor_eligible` record because this writer was unconditional).
    * An existing file whose content carries `"anchor_eligible":true`
    * is a PROMOTED record: unless `force` (env
    * `SPARK_GRAFT_BENCH_FORCE=1`), the new content is written
    * side-by-side as `<base>-unpromoted-<pid>-<seq>.json` and
    * promotion stays an explicit, visible step (cp). Anything else —
    * missing file, ineligible previous run — is overwritten as before
    * (an eligible run SHOULD replace a noisy one). Returns the path
    * actually written. */
  private[graft] def guardedRecordWrite(path: String, content: String,
      force: Boolean): String = {
    import java.nio.file.{Files, Paths}
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val p = Paths.get(path)
    // regex, not contains: a promoted record that went through jq or a
    // hand edit ("anchor_eligible": true with a space) must still be
    // recognized — a missed detection IS the silent clobber this guard
    // exists to stop (review r17)
    val promoted = !force && Files.exists(p) &&
      "\"anchor_eligible\"\\s*:\\s*true".r.findFirstIn(
        new String(Files.readAllBytes(p), utf8)).isDefined
    val target =
      if (!promoted) path
      else {
        // diverted records land in a SUBDIRECTORY (ADVICE r17): side
        // files in the repo root sorted next to the promoted records,
        // were mistakable for them, and accumulated untracked forever;
        // bench_unpromoted/ is gitignored and one `rm -r` to clean
        val sideDir = p.toAbsolutePath.getParent.resolve("bench_unpromoted")
        Files.createDirectories(sideDir)
        val side = sideDir.resolve(
          p.getFileName.toString.stripSuffix(".json") +
            s"-unpromoted-${ProcessHandle.current().pid()}" +
            s"-${recordWriteSeq.incrementAndGet()}.json").toString
        println(s"bench: $path holds an anchor_eligible record; wrote " +
          s"$side instead (SPARK_GRAFT_BENCH_FORCE=1 overrides)")
        side
      }
    Files.write(Paths.get(target), content.getBytes(utf8))
    target
  }

  private[graft] def roundStampedPath(outPath: String,
      cwdFiles: Seq[String]): Option[String] = {
    val r = raw"BENCH_r(\d+)\.json".r
    val rounds = cwdFiles.collect { case r(n) => n.toInt }
    if (rounds.isEmpty) None
    else {
      val base = outPath.stripSuffix(".json")
      Some(f"${base}_r${rounds.max + 1}%02d.json")
    }
  }

  /** Heap-aging guard for per-query warm timings: when the first warm
    * run exceeds its own cold AT ALL, take the min with ONE
    * re-measurement (the caller GCs first, mirroring the canary's
    * min-after-GC discipline). A warm run has the cold run's plan,
    * codegen, and caches already in place — it should essentially never
    * be the slower of the two, so any inversion is measurement noise
    * (JVM heap aging, a GC landing mid-query) until the re-run says
    * otherwise. The original 1.5× threshold (r8 evidence: rel_pivot
    * 1.44 → 6.97 s warm on an idle box) let moderate inversions
    * through: labelprop's 5.67 warm vs 4.12 cold (1.38×) escaped
    * re-measure and cost a cross-round watch cycle as a phantom
    * regression (VERDICT r11 #2) — now it settles in-run. Below cold,
    * or on any error, the first warm stands — the retry only spends
    * time where the number would otherwise be unusable, and a genuinely
    * regressed query stays slow on the re-run and is reported as is. */
  private[graft] def settledWarm(cold: Either[String, Double],
      warm0: Either[String, Double],
      rerun: () => Either[String, Double]): Either[String, Double] =
    (cold, warm0) match {
      case (Right(c), Right(w)) if w > c =>
        rerun() match {
          case Right(w2) => Right(math.min(w, w2))
          case _ => warm0
        }
      case _ => warm0
    }

  /** Render the (full, compact) JSON record lines. Totals are computed
    * over SUCCEEDED queries only and each line carries `n_errors`: an
    * earlier shape let an erroring query contribute 0 s, so a broken
    * round compared FASTER than a working one. Consumers comparing
    * `value` across rounds must gate on `n_errors == 0` (both lines
    * carry it); per-query error detail is in `errors`. Factored out of
    * main so BenchSpec can pin the JSON shape without running queries.
    *
    * `canaries` are the [[Canary]] readings; both lines carry
    * [[canaryFields]], eligible only when every query succeeded (and at
    * least one ran).
    *
    * `metric` names the record ("total" for the bench; the stress
    * harnesses name their sweep, e.g. "relstress_total") and `scale`,
    * when given, stamps a stress sweep's replica factor. `confs` is
    * [[GraftConf.nonDefaults]] of the swept session, carried by the full
    * line only (the compact line must fit the driver's tail window).
    *
    * SCHEMA CONTRACT (VERDICT r13 #7 — identical keys every round, so
    * cross-round per-query diffs never need archaeology): the FULL line
    * (bench_full.json + the round-stamped copy) always carries the
    * head fields (metric/value/unit, cold_total, warm_total, n_queries,
    * n_succeeded, n_errors, canary, canary_drift, anchor_eligible, sf)
    * plus ALL THREE per-query maps over the same key set —
    * `queries` (cold seconds; -1 on error), `warm` (warm seconds; -1 on
    * error) and `warm_shuffle_mb` (warm-run shuffle write MB) — and
    * `errors` and `confs`. The COMPACT line (the driver's tail-window capture)
    * carries the same head plus only the 10 slowest cold. BenchSpec
    * pins the three-map symmetry. */
  private[graft] def renderLines(results: Seq[Res], sfDir: String,
      canaries: Seq[Double] = Nil, metric: String = "total",
      scale: Option[Int] = None,
      confs: Seq[(String, String)] = Nil): (String, String) = {
    def jStr(s: String) = Json.str(s)
    def secs(sel: Res => Either[String, Double]) =
      results.map(r => jStr(r._1) + ":" + sel(r).fold(_ => "-1", _.toString))
        .mkString("{", ",", "}")
    val qs = secs(_._2)
    val warmQs = secs(_._3)
    val shuffleQs = results
      .map(r => jStr(r._1) + ":" + f"${r._4}%.6f").mkString("{", ",", "}")
    val errs = results.collect { case (n, Left(e), _, _) => jStr(n) + ":" + jStr(e) }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2.isRight)
    val total = ok.map(_._2.getOrElse(0.0)).sum
    val warmTotal = ok.flatMap(_._3.toOption).sum
    val errCount = results.count(_._2.isLeft)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // results.nonEmpty: a filter matching zero queries must not stamp
    // an eligible value-0 record (errCount == 0 is vacuous)
    val canary = canaryFields(canaries, results.nonEmpty && errCount == 0)
    val head = s""""metric":${jStr(metric)},"value":$total,"unit":"sec","cold_total":$total,"warm_total":$warmTotal,"n_queries":${results.size},"n_succeeded":${ok.size},"n_errors":$errCount,$canary,"sf":${jStr(sfDir)}""" +
      scale.fold("")(k => s""","scale":$k""")
    val confsJson = confs.map { case (k, v) => jStr(k) + ":" + jStr(v) }
      .mkString("{", ",", "}")
    val full =
      s"""{$head,"queries":$qs,"warm":$warmQs,"warm_shuffle_mb":$shuffleQs,"errors":$errs,"confs":$confsJson}"""
    val slowest = ok.sortBy(-_._2.getOrElse(0.0)).take(10)
      .map(r => jStr(r._1) + ":" + f"${r._2.getOrElse(0.0)}%.3f").mkString("{", ",", "}")
    // bounded: ≤3 errors at ≤60 chars each, so the line stays under the window
    val compactErrs = results.collect { case (n, Left(e), _, _) => jStr(n) + ":" + jStr(e.take(60)) }
      .take(3).mkString("{", ",", "}")
    val compact =
      s"""{$head,"queries":$slowest,"queries_note":"10 slowest cold; full detail in $outPath","errors":$compactErrs}"""
    (full, compact)
  }
}
