package graft.tools

import graft.{GraftConf, SparkEntry, Tables}
import graft.operators.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The closed drift→retrain loop (VERDICT r15 #5): the end-to-end story
  * the three round-15 pieces exist for — the streaming drift MONITOR
  * (st_embedding_drift) detects that arriving vectors no longer match
  * the corpus, that signal GATES a quantizer retrain (the ivf.train
  * lever), and the retrained index RECOVERS serving recall on the
  * shifted data.
  *
  * Fixture: a TWO-EPOCH derivative of the clustered AnnQualityAb
  * embeddings. Existing vectors (vec_id % 5 ≠ 4) cluster around
  * epoch-A per-label unit directions; arriving vectors (vec_id % 5 = 4)
  * around epoch-B directions (a different hash-seed prime — in 64-d
  * the two epochs' directions are near-orthogonal, the hard
  * distribution shift). Both epochs use the same noise scale, so the
  * ONLY difference the monitor can see is the direction shift.
  *
  * Measured legs, every one a JSON line:
  *   1. `st_embedding_drift` over the fixture — per-label
  *      mean-cosine drift of arrivals vs the corpus centroids. A
  *      drift << 0 on every label is the retrain trigger.
  *   2. Serving health on the GROWN corpus (existing ∪ arrivals, the
  *      post-admission state) for arrival-batch queries, same Lloyd-2
  *      training and √n cell budget both legs:
  *        - STALE quantizer: trained on the pre-drift corpus only —
  *          the index that was current before the batch arrived;
  *        - RETRAINED quantizer: trained on the grown corpus.
  *      Truth is exact brute-force top-3 (self-excluded). Three
  *      stale-index failure modes are measured, because they are
  *      distinct: (a) recall@3 at probes=1 — a shifted cluster sits
  *      near the BOUNDARY of whatever old cells it straddles, so
  *      single-probe serving splits it and loses true neighbors,
  *      while a retrained quantizer gives the cluster interior cells;
  *      (b) candidate volume per query — the pairs the cell join
  *      actually scores, which balloons when shifted mass piles into
  *      few old cells; (c) cell skew (max posting-list size over the
  *      n/k mean) — the imbalance itself, the latency tail of every
  *      IVF serving system. Recall at the default probes=2 is also
  *      printed: multi-probe HIDES moderate drift (both straddled
  *      cells get probed) at 2× the candidate cost — which is exactly
  *      why production monitors watch the drift signal and the
  *      candidate volume, not recall alone.
  *
  * Noise default 0.6: tight enough that clusters have real cell
  * structure (the regime where quantizer placement matters), loose
  * enough that brute purity is not saturated (AnnQualityAb's measured
  * ladder).
  *
  * {{{ sbt "runMain graft.tools.DriftRetrain 10 /root/testdata/sf0.1 /tmp/graft-drift" }}}
  */
object DriftRetrain {

  /** (hits, truth edges) of the served top-3 against brute truth. */
  private def hitsOf(served: DataFrame, truth: DataFrame): (Long, Long) = {
    val hit = truth.join(served.select(col("q_id"), col("n_id")),
      Seq("q_id", "n_id")).count()
    (hit, truth.count())
  }

  /** Build (once, marker-guarded) the TWO-EPOCH drift fixture at
    * `$out/embeddings.parquet` — corpus vectors (vec_id % 5 ≠ 4)
    * clustered around epoch-A per-label directions, arrivals around
    * epoch-B (near-orthogonal in 64-d) unless `control`. Shared with
    * [[DriftAutoRetrain]] (round 17) so the manual-sequenced A/B and
    * the streaming-native handoff measure the same distribution shift.
    * Returns (nBase, total). */
  private[tools] def ensureFixture(spark: org.apache.spark.sql.SparkSession,
      src: String, out: String, scale: Int, noise: Double,
      control: Boolean, cpus: Int): (Long, Long) = {
    val emb = Tables.load(spark, src, "embeddings")
    val nBase = emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)

    val marker = java.nio.file.Paths.get(
      s"$out/_graft_drift_${scale}x_${nBase}_s${noise}_c$control")
    if (!java.nio.file.Files.exists(marker)) {
      val reps = spark.range(scale).toDF("rep")
      val js = sequence(lit(0), lit(dim - 1))
      // per-parity epoch seed: arrivals draw their label direction from
      // a different prime offset than the corpus (AnnQualityAb's mix,
      // second epoch keyed by 104729 — the 10000th prime)
      val withId = emb.crossJoin(broadcast(reps))
        .select((col("vec_id") + col("rep") * lit(nBase)).as("vec_id"),
          col("label"))
        .withColumn("ep",
          when(col("vec_id") % 5 === 4 && !lit(control), lit(104729L))
            .otherwise(lit(7919L)))
      val mu = AnnQualityAb.mix(col("label") + col("ep"), _: org.apache.spark.sql.Column)
      val clustered = withId
        .withColumn("munorm", sqrt(aggregate(
          transform(js, j => mu(j) * mu(j)), lit(0.0), (a, x) => a + x)))
        .select(col("vec_id"),
          transform(js, j =>
            (mu(j) / col("munorm") +
              lit(noise) * AnnQualityAb.mix(col("vec_id"), j)).cast("float"))
            .as("embedding"),
          col("label"))
      clustered.repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      try listing.filter(p =>
          p.getFileName.toString.startsWith("_graft_drift_"))
        .forEach(java.nio.file.Files.delete(_))
      finally listing.close()
      java.nio.file.Files.createFile(marker)
    }
    (nBase, nBase * scale)
  }

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft-drift-x$scale"
    val noise = if (args.length > 3) args(3).toDouble else 0.6
    // 5th arg `control`: arrivals draw from the SAME epoch as the
    // corpus — the no-drift baseline that calibrates the trigger
    // threshold (the monitor's same-epoch reading on clustered data)
    val control = args.length > 4 && args(4) == "control"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-drift", cpus))

    val (nBase, total) =
      ensureFixture(spark, src, out, scale, noise, control, cpus.toInt)

    // ---- leg 1: the monitor. Strongly negative drift on every label
    // is the retrain trigger (threshold here: mean drift < -0.05).
    // The drift SIGNAL is this tool's input, not an optional metric —
    // pin the sink to the collecting default (ADVICE r16: a session
    // arriving with spark.graft.stream.sink = noop/digest/connector
    // would hand an EMPTY frame to the min/max below) and fail loudly
    // if the monitor still emits nothing.
    spark.conf.unset(GraftConf.StreamSink.name)
    val drift = SparkEntry.registry("st_embedding_drift")
      .build(spark, out).collect()
    require(drift.nonEmpty,
      "st_embedding_drift emitted no rows — the drift signal is this " +
        "tool's input; check the fixture at " + out)
    val drifts = drift.map(_.getAs[Double]("drift"))
    val meanDrift = drifts.sum / drifts.length
    val trigger = meanDrift < -0.05
    println(f"""{"metric":"drift_signal","labels":${drifts.length},""" +
      f""""mean_drift":$meanDrift%.4f,"min_drift":${drifts.min}%.4f,""" +
      f""""max_drift":${drifts.max}%.4f,"retrain_triggered":$trigger}""")

    // ---- leg 2: serving recall, stale vs retrained quantizer, both
    // over the GROWN corpus (the post-admission state)
    val n = spark.read.parquet(s"$out/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("vd"))
      .withColumn("nrm", sqrt(aggregate(col("vd"), lit(0.0),
        (a, x) => a + x * x)))
      .select(col("vec_id"), transform(col("vd"), x => x / col("nrm"))
        .as("an"))
      .localCheckpoint(false)
    val grown = n
    val preDrift = n.filter(col("vec_id") % 5 =!= 4)
    val cells = math.max(16, math.round(math.sqrt(total / 2.0))).toInt

    // Lloyd-2 both legs (the ivf.train lever); the stale leg's seed
    // bound is widened 5/4 so BOTH quantizers train exactly `cells`
    // centroids (ivfCentroids seeds vec_id < bound, and the pre-drift
    // corpus holds 4 of every 5 ids)
    spark.conf.set(GraftConf.AnnIvfTrain.name, "2")
    val stale = graft.queries.SimilarityQueries
      .ivfCentroids(spark, preDrift, cells * 5 / 4)
      .localCheckpoint(false)
    val fresh = graft.queries.SimilarityQueries
      .ivfCentroids(spark, grown, cells)
      .localCheckpoint(false)
    spark.conf.unset(GraftConf.AnnIvfTrain.name)

    // fixed arrival-batch query set (2× id bound — misses are a
    // percent-scale effect, so the sample needs a few thousand truth
    // edges), exact brute truth
    val queries = n.filter(col("vec_id") % 5 === 4 &&
        col("vec_id") < nBase * 2)
      .select(col("vec_id").as("q_id"), col("an").as("qa"))
      .localCheckpoint(false)
    val truth = graft.plans.TopK.topKPerKey(
        grown.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            graft.functions.GraftFunctions.dot(col("qa"), col("an"))
              .as("cosine")),
        keys = Seq(col("q_id")),
        order = Seq(col("cosine").desc, col("n_id").asc), k = 3)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint(false)

    for ((tag, cents) <- Seq("stale" -> stale, "retrained" -> fresh)) {
      val t0 = System.nanoTime()
      val (_, p) = IvfIndex.build(grown, cells, Some(cents))
      val postings = p.localCheckpoint(false)
      val (hit1, nTrue) = hitsOf(
        IvfIndex.serve(queries, cents, postings, probes = 1), truth)
      val (hit2, _) = hitsOf(
        IvfIndex.serve(queries, cents, postings, probes = 2), truth)
      val (rec1, rec2) = (hit1.toDouble / nTrue, hit2.toDouble / nTrue)
      val sec = (System.nanoTime() - t0) / 1e9
      // candidate volume: the pairs the probes=1 cell join actually
      // scores — the serving cost the drifted pile-up inflates
      val cands = IvfIndex.probeFrame(queries, cents, "q_id", "qa", 1)
        .select(col("q_id"), col("cell"))
        .join(postings.select(col("cell")), Seq("cell")).count()
      // cell skew: worst posting list vs the n/k mean — the latency
      // tail of the index
      val occ = postings.groupBy(col("cell")).count()
        .agg(max(col("count"))).head().getLong(0)
      val skew = occ.toDouble * cells / total
      println(f"""{"metric":"drift_serving","quantizer":"$tag",""" +
        f""""recall_p1":$rec1%.4f,"recall_p2":$rec2%.4f,""" +
        f""""missed_p1":${nTrue - hit1},"missed_p2":${nTrue - hit2},""" +
        f""""true_edges":$nTrue,""" +
        f""""cells":$cells,"cands_per_query":${
          cands.toDouble / queries.count()}%.1f,""" +
        f""""cell_skew":$skew%.2f,"sec":$sec%.1f}""")
    }
    spark.stop()
  }
}
