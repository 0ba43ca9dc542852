package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
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

  /** [[scaleTo]], skipped when `out` already holds a completed copy at
    * this exact (src, scale) — see [[copyDone]]. Lets an A/B pair of
    * single-JVM sweeps (e.g. StreamStress verify vs noop) share one
    * generated directory instead of regenerating the 50× copy per
    * mode. */
  def scaleToIfAbsent(spark: SparkSession, src: String,
      out: String, scale: Int, cpus: Int): Unit =
    if (!copyDone(spark, src, out, scale, RelSentinel))
      scaleTo(spark, src, out, scale, cpus)

  private val RelSentinel = "_graft_scaled_"

  /** Completion sentinel of a factor-`scale` copy of `src` in `out`.
    * Each harness passes its own `prefix` (`_graft_scaled_` here,
    * `_graft_tdscaled_` for [[StressSmoke]]), so a directory never
    * satisfies the OTHER harness's growth model. The name carries the
    * readable sanitized src AND a hash of the RAW (src, scale) pair
    * (ADVICE r12): sanitization alone mapped distinct sources differing
    * only in punctuation (`/data/sf0.1` vs `/data_sf0.1`) to one
    * sentinel, and a reuse would then have accepted data generated from
    * the WRONG corpus as complete. The digest also folds in the source
    * directory's CONTENT fingerprint (file names + lengths + mtimes —
    * Tables' rewrite-under-same-path detector): a refreshed corpus at
    * the same path must invalidate the sentinel, or every later rung
    * would silently sweep data scaled from the old vintage. An
    * unreadable src fingerprints to a never-matching error stamp, which
    * correctly forces regeneration (which then fails loudly). */
  private def markerPath(spark: SparkSession, src: String, out: String,
      scale: Int, prefix: String): Path = {
    val vintage = Tables.pathFingerprint(spark, src)
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"$scale|$src|$vintage".getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    Paths.get(s"$out/$prefix${scale}x_" +
      s"${src.replaceAll("[^A-Za-z0-9.]", "_")}_$digest")
  }

  /** `out` holds a completed `prefix` copy of `src` at `scale`: its
    * sentinel exists. [[sealCopy]] writes it LAST, so a crashed
    * half-write never passes for done. */
  private[graft] def copyDone(spark: SparkSession, src: String, out: String,
      scale: Int, prefix: String): Boolean =
    Files.exists(markerPath(spark, src, out, scale, prefix))

  /** Finish a scaled copy whose grown tables are written: copy each of
    * the unscaled `tables` that `src` holds into `out` whole — a
    * single file, or a Spark-written directory tree — after clearing
    * whatever `out` held under that name (a reused dir may hold a prior
    * vintage's Spark write there); then drop every `prefix` sentinel and
    * create this generation's, last. A re-scale to a DIFFERENT factor
    * into the same dir thus leaves only its own sentinel valid. */
  private[graft] def sealCopy(spark: SparkSession, src: String, out: String,
      scale: Int, prefix: String, tables: Seq[String]): Unit = {
    for (name <- tables) {
      val from = Paths.get(s"$src/$name.parquet")
      val to = Paths.get(s"$out/$name.parquet")
      if (Files.exists(from)) {
        Tables.deleteRecursively(to.toString)
        val walk = Files.walk(from) // pre-order: a dir before its files
        try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
        finally walk.close()
      }
    }
    val listing = Files.list(Paths.get(out))
    try listing.filter(_.getFileName.toString.startsWith(prefix))
      .forEach(Files.delete(_))
    finally listing.close()
    Files.createFile(markerPath(spark, src, out, scale, prefix))
  }

  /** Write the factor-`scale` copy of `src` into `out`: facts
    * replicated with consistent key remaps, dims copied whole. Shared
    * with [[graft.tools.StreamStress]] so both layers stress the SAME
    * growth model. */
  def scaleTo(spark: SparkSession, src: String,
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

    sealCopy(spark, src, out, scale, RelSentinel, Seq("region", "nation",
      "customer", "supplier", "part", "documents", "embeddings"))
  }

  /** Time every registry query whose name starts with `prefix` against
    * `dir` through [[Bench.sweep]] and print its full record line,
    * named `metric` and stamped with the replica factor `scale`. */
  def sweep(spark: SparkSession, dir: String,
      prefix: String, metric: String, scale: Int): Unit = {
    val (results, canaries) =
      Bench.sweep(spark, dir, Bench.registry(_.startsWith(prefix)))
    println(Bench.renderLines(results, dir, canaries, metric, Some(scale))._1)
  }
}
