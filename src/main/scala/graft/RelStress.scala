package graft

import org.apache.spark.sql.functions._

/** Scale-cliff probe for the RELATIONAL layer (the td_ layer has
  * [[StressSmoke]], the streaming layer [[graft.tools.StreamStress]]):
  * blows the fact tables `orders`/`lineitem`/`events`
  * up by an integer factor — distributed generation via a crossJoin
  * with a broadcast replica index, with `o_orderkey`/`l_orderkey`/
  * `event_id`/`user_id` remapped consistently (`key + rep *
  * (maxKey+1)`) so fact-fact and windowed joins fan out linearly, not
  * quadratically — then times every `rel_*` registry query against
  * the scaled copy. Dimension tables stay unscaled (their joins grow
  * on the probe side only, like real dims at 100 TB).
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.RelStress 10" }}}
  */
object RelStress {

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft-relstress-x$scale"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-relstress", cpus))
    scaleTo(spark, src, out, scale, cpus.toInt)
    sweep(spark, out, "rel_", "relstress_total", scale)
    spark.stop()
  }

  /** Write the factor-`scale` copy of `src` into `out`: facts
    * replicated with consistent key remaps, dims byte-copied. Shared
    * with [[graft.tools.StreamStress]] so both layers stress the SAME
    * growth model. */
  /** [[scaleTo]], skipped when `out` already holds a completed copy at
    * this exact (src, scale) — marked by the sentinel [[scaleTo]]
    * writes LAST, so a crashed half-write never passes for done. Lets
    * an A/B pair of single-JVM sweeps (e.g. StreamStress verify vs
    * noop) share one generated directory instead of regenerating the
    * 50× copy per mode. */
  def scaleToIfAbsent(spark: org.apache.spark.sql.SparkSession, src: String,
      out: String, scale: Int, cpus: Int): Unit = {
    if (!java.nio.file.Files.exists(markerPath(spark, out, src, scale)))
      scaleTo(spark, src, out, scale, cpus)
  }

  /** Sentinel name carries the readable sanitized src AND a hash of
    * the RAW (src, scale) pair (ADVICE r12): sanitization alone mapped
    * distinct sources differing only in punctuation (`/data/sf0.1` vs
    * `/data_sf0.1`) to one sentinel, and scaleToIfAbsent would then
    * have accepted data generated from the WRONG corpus as complete.
    * The digest also folds in the source directory's CONTENT
    * fingerprint (file names + lengths + mtimes — Tables'
    * rewrite-under-same-path detector): a refreshed corpus at the same
    * path must invalidate the sentinel, or every later rung would
    * silently sweep data scaled from the old vintage. An unreadable
    * src fingerprints to a never-matching error stamp, which correctly
    * forces regeneration (and scaleTo then fails loudly). */
  private[graft] def markerPath(spark: org.apache.spark.sql.SparkSession,
      out: String, src: String, scale: Int): java.nio.file.Path = {
    val vintage = Tables.pathFingerprint(spark, src)
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"$scale|$src|$vintage".getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    java.nio.file.Paths.get(s"$out/_graft_scaled_${scale}x_" +
      s"${src.replaceAll("[^A-Za-z0-9.]", "_")}_$digest")
  }

  def scaleTo(spark: org.apache.spark.sql.SparkSession, src: String,
      out: String, scale: Int, cpus: Int): Unit = {
    val orders = Tables.load(spark, src, "orders")
    val keyStride = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    val reps = broadcast(spark.range(scale).toDF("rep"))

    orders.crossJoin(reps)
      .withColumn("o_orderkey",
        col("o_orderkey") + col("rep") * lit(keyStride))
      .drop("rep")
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    Tables.load(spark, src, "lineitem").crossJoin(reps)
      .withColumn("l_orderkey",
        col("l_orderkey") + col("rep") * lit(keyStride))
      .drop("rep")
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events scales too (VERDICT r10 #5: the asof/range/skew/session/
    // resample paths are events-driven), under the USER-UNIVERSE growth
    // model: each replica is an independent population (`user_id + rep
    // * stride`), per-user behavior unchanged. That is the one model
    // under which every windowed shape scales linearly: a per-rep TIME
    // shift blows up span-based resampling (a user's hourly grid then
    // covers all replicas' spans — measured 30 s on rel_resample_ffill
    // at 10×), and an unshifted same-user stack makes 24 h range joins
    // quadratic in the factor. Dims stay unscaled — including
    // `customer`: replicating it would duplicate every c_name
    // verbatim, and the fuzzy self-joins' OUTPUT is then quadratic in
    // the factor (measured 120 s on rel_fuzzy_join_sig at 10×) — a
    // fixture artifact no engine scales; graft.tools.FuzzyStress
    // covers fuzzy scaling with properly perturbed corpora. Rep > 0
    // users simply have no customer row (probe-side growth with
    // misses, like late-arriving users before a dim refresh).
    val events = Tables.load(spark, src, "events")
    val evStride = events.agg(max(col("event_id"))).head().getLong(0) + 1
    val userStride = events.agg(max(col("user_id"))).head().getLong(0) + 1
    events.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * lit(evStride))
      .withColumn("user_id", col("user_id") + col("rep") * lit(userStride))
      .drop("rep")
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    for (name <- Seq("region", "nation", "customer", "supplier", "part",
        "documents", "embeddings")) {
      val from = java.nio.file.Paths.get(s"$src/$name.parquet")
      val to = java.nio.file.Paths.get(s"$out/$name.parquet")
      if (java.nio.file.Files.exists(from)) {
        // a reused out dir may hold a DIRECTORY here (a prior vintage's
        // Spark write); REPLACE_EXISTING cannot overwrite a non-empty
        // dir, so clear it first
        if (java.nio.file.Files.isDirectory(to))
          Tables.deleteRecursively(to.toString)
        java.nio.file.Files.copy(from, to,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // completion sentinel, written last (see scaleToIfAbsent); a
    // re-scale to a DIFFERENT factor into the same dir overwrites the
    // data and leaves only its own marker valid
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(out))
    try listing.filter(p =>
        p.getFileName.toString.startsWith("_graft_scaled_"))
      .forEach(java.nio.file.Files.delete(_))
    finally listing.close()
    java.nio.file.Files.createFile(markerPath(spark, out, src, scale))
  }

  /** Time every registry query whose name starts with `prefix` against
    * `dir` (cold + warm + settled shuffle-write delta), print one
    * parseable JSON line. The same harness discipline as [[Bench]]
    * minus the job-group scoping — stress runs are strictly
    * sequential, so group "" (every task) attributes cleanly. */
  def sweep(spark: org.apache.spark.sql.SparkSession, dir: String,
      prefix: String, metric: String, scale: Int): Unit = {
    // the listener is PER CALL and detached in the finally below
    // (ADVICE r11): a second sweep on the same session (the two-family
    // harnesses, or an engine-vs-harness A/B pair) must not leave the
    // first sweep's listener double-counting into a shared counter
    val meter = new GroupedShuffleListener
    spark.sparkContext.addSparkListener(meter)
    try sweepWith(spark, dir, prefix, metric, scale, meter)
    finally spark.sparkContext.removeSparkListener(meter)
  }

  private def sweepWith(spark: org.apache.spark.sql.SparkSession, dir: String,
      prefix: String, metric: String, scale: Int,
      meter: GroupedShuffleListener): Unit = {
    def timed(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        Bench.consume(fn(spark, dir))
        Right((System.nanoTime() - t0) / 1e9)
      }
      catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(160))
      }
    }

    val targets = SparkEntry.queries.filter(_._1.startsWith(prefix))
      .toSeq.sortBy(_._1)
    val tag = metric.stripSuffix("_total")
    // the same start/mid/end contention canary the bench stamps
    // (VERDICT r12 #7): stress-octave tables are compared across
    // rounds too, and without the stamp every rung's comparability
    // had to be argued from prose
    Bench.canaryProbe(spark) // JIT warm-up, untimed
    val canaryStart = Bench.canaryProbe(spark)
    var canaryMid = 0.0
    val results = targets.zipWithIndex.map { case ((name, fn), i) =>
      if (i == targets.size / 2) canaryMid = Bench.canaryProbe(spark)
      val cold = timed(fn)
      val before = meter.settled("")
      val warm0 = if (cold.isRight) timed(fn) else cold
      // shuffle window closes around the FIRST warm run only — the
      // settle re-run below would otherwise double-count this query's
      // warm shuffle into its own column
      val mb = (meter.settled("") - before) / 1e6
      // same warm discipline as the bench (Bench.settledWarm): any
      // warm > cold is JVM noise until a GC'd re-run says otherwise —
      // at stress scales the COLD run's collected sink rows (verify
      // mode: ~10M at the 100× rung) become garbage exactly when the
      // warm run starts, so un-settled warm readings bill the cold
      // run's GC debt to the warm number (observed: sessionize
      // 21.8 cold → 28.3 warm at 100×/p16 verify, r12)
      val warm = Bench.settledWarm(cold, warm0,
        () => { System.gc(); timed(fn) })
      println(f"[$tag] $name cold=${cold.fold(_ => -1.0, identity)}%.1fs " +
        f"warm=${warm.fold(_ => -1.0, identity)}%.1fs shuffle=$mb%.1fMB" +
        cold.left.toOption.map(e => s" ERROR $e").getOrElse(""))
      (name, cold, warm, mb)
    }
    def jm(sel: ((String, Either[String, Double], Either[String, Double],
        Double)) => Either[String, Double]) =
      results.map(r => Json.str(r._1) + ":" + sel(r).fold(_ => "-1", _.toString))
        .mkString("{", ",", "}")
    val errs = results.collect { case (n, Left(e), _, _) =>
      Json.str(n) + ":" + Json.str(e) }.mkString("{", ",", "}")
    val shuffles = results.map(r => Json.str(r._1) + ":" + f"${r._4}%.2f")
      .mkString("{", ",", "}")
    val canaryEnd = Bench.canaryProbe(spark)
    val canaries = Seq(canaryStart, canaryMid, canaryEnd).filter(_ > 0)
    val drift =
      if (canaries.nonEmpty && canaries.min > 0)
        f"${canaries.max / canaries.min}%.3f"
      else "-1"
    val ok = results.filter(_._2.isRight)
    // results.nonEmpty: a typo'd prefix matching ZERO queries must not
    // stamp an eligible value-0 record (0 == 0 errors is vacuous) — a
    // consumer anchoring on it would diff real totals against 0
    val anchorEligible = results.nonEmpty && canaries.nonEmpty &&
      canaries.max / canaries.min <= 1.15 && ok.size == results.size
    val canaryJson = canaries.map(c => f"$c%.3f").mkString("[", ",", "]")
    val total = ok.map(_._2.getOrElse(0.0)).sum
    val warmTotal = ok.flatMap(_._3.toOption).sum
    println(s"""{"metric":"$metric","value":$total,"unit":"sec","warm_total":$warmTotal,"scale":$scale,"n_errors":${results.size - ok.size},"canary":$canaryJson,"canary_drift":$drift,"anchor_eligible":$anchorEligible,"queries":${jm(_._2)},"warm":${jm(_._3)},"warm_shuffle_mb":$shuffles,"errors":$errs}""")
  }
}
