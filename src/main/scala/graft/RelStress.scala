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
    if (!copyDone(spark, src, out, relCopy(scale)))
      scaleTo(spark, src, out, scale, cpus)

  /** One generation of a scaled copy. `prefix` names the harness, so a
    * directory never satisfies ANOTHER harness's growth model; `params`
    * holds every generation parameter (scale, noise, shift); `grown`
    * are the source tables the copy derives, `whole` the ones it
    * copies unchanged. */
  private[graft] final case class Copy(prefix: String, params: String,
      grown: Seq[String], whole: Seq[String] = Nil)

  private[graft] val RelSentinel = "_graft_scaled_"
  private[graft] val TdSentinel = "_graft_tdscaled_"
  private[graft] val ClusteredSentinel = "_graft_clustered_"
  private[graft] val IvfCorpusSentinel = "_graft_ivfcorpus_"
  private val sentinels =
    Seq(RelSentinel, TdSentinel, ClusteredSentinel, IvfCorpusSentinel)

  private[graft] def relCopy(scale: Int) = Copy(RelSentinel, s"${scale}x",
    Seq("orders", "lineitem", "events"), Seq("region", "nation",
      "customer", "supplier", "part", "documents", "embeddings"))

  /** Completion sentinel of copy `c` of `src` in `out`. The name
    * carries the readable params and sanitized src AND a hash of the
    * RAW (params, src) pair (ADVICE r12): sanitization alone mapped
    * distinct sources differing only in punctuation (`/data/sf0.1` vs
    * `/data_sf0.1`) to one sentinel, and a reuse would then have
    * accepted data generated from the WRONG corpus as complete. The
    * digest also folds in the CONTENT fingerprint (file names +
    * lengths + mtimes — Tables' rewrite-under-same-path detector) of
    * every source table the copy reads, each taken over the table
    * itself: the dataset root's listing only stamps its immediate
    * children (review r17). A refreshed table at the same path thus
    * invalidates the sentinel, or every later rung would silently
    * sweep data scaled from the old vintage. A table `src` does not
    * hold is left out: its fingerprint is a never-matching error
    * stamp, which would regenerate the copy on every run. */
  private def markerPath(spark: SparkSession, src: String, out: String,
      c: Copy): Path = {
    val vintage = (c.grown ++ c.whole).map(t => s"$src/$t.parquet")
      .filter(p => Files.exists(Paths.get(p)))
      .map(p => s"$p=${Tables.pathFingerprint(spark, p)}").mkString("|")
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"${c.params}|$src|$vintage".getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    Paths.get(s"$out/${c.prefix}${c.params}_" +
      s"${src.replaceAll("[^A-Za-z0-9.]", "_")}_$digest")
  }

  /** `out` holds a completed copy `c` of `src`: its sentinel exists.
    * [[ensureCopy]] writes it LAST, so a crashed half-write never
    * passes for done. */
  private[graft] def copyDone(spark: SparkSession, src: String, out: String,
      c: Copy): Boolean =
    Files.exists(markerPath(spark, src, out, c))

  /** Write copy `c` of `src` into `out`, unless `out` already holds it
    * and the write is not `force`d: first drop EVERY harness's
    * sentinel there (any copy may overwrite a table another copy
    * scaled — StressSmoke's unscaled `events` over RelStress's grown
    * one), then run `grow`, which writes the grown tables, then copy
    * each of the `whole` tables that `src` holds into `out` whole — a
    * single file, or a Spark-written directory tree — after clearing
    * whatever `out` held under that name (a reused dir may hold a
    * prior vintage's Spark write there); then create `c`'s sentinel,
    * last. */
  private[graft] def ensureCopy(spark: SparkSession, src: String, out: String,
      c: Copy, force: Boolean = false)(grow: => Unit): Unit =
    if (force || !copyDone(spark, src, out, c)) {
      Files.createDirectories(Paths.get(out))
      val listing = Files.list(Paths.get(out))
      try listing.filter(p => sentinels.exists(p.getFileName.toString.startsWith))
        .forEach(Files.delete(_))
      finally listing.close()
      grow
      for (name <- c.whole) {
        val from = Paths.get(s"$src/$name.parquet")
        val to = Paths.get(s"$out/$name.parquet")
        if (Files.exists(from)) {
          Tables.deleteRecursively(to.toString)
          val walk = Files.walk(from) // pre-order: a dir before its files
          try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
          finally walk.close()
        }
      }
      Files.createFile(markerPath(spark, src, out, c))
    }

  /** Write the factor-`scale` copy of `src` into `out`: facts
    * replicated with consistent key remaps, dims copied whole. Shared
    * with [[graft.tools.StreamStress]] so both layers stress the SAME
    * growth model. */
  def scaleTo(spark: SparkSession, src: String,
      out: String, scale: Int, cpus: Int): Unit =
    ensureCopy(spark, src, out, relCopy(scale), force = true) {
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
    }

  /** Time every registry query whose name starts with `prefix` against
    * `dir` through [[Bench.sweep]] and print its full record line,
    * named `metric` and stamped with the replica factor `scale`. */
  def sweep(spark: SparkSession, dir: String,
      prefix: String, metric: String, scale: Int): Unit = {
    val confs = GraftConf.nonDefaults(spark) // a bad or undeclared key fails here
    val (results, canaries) =
      Bench.sweep(spark, dir, Bench.registry(_.startsWith(prefix)))
    println(Bench.renderLines(results, dir, canaries, metric, Some(scale),
      confs)._1)
  }
}
