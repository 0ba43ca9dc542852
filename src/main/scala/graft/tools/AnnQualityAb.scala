package graft.tools

import graft.{GraftConf, SparkEntry, Tables}
import org.apache.spark.sql.functions._

/** ANN quality A/B on a CLUSTERED embedding fixture (VERDICT r14 #1/#2).
  *
  * The driver fixture's synthetic embeddings are near-random (brute
  * 3-NN label purity ≈0.10 = chance over 10 labels, BASELINE.md), so
  * every recall/purity gate reads noise and no quantizer-quality
  * improvement is demonstrable there. This harness derives a
  * label-CLUSTERED variant of the embeddings — each vector becomes
  * unit(mu_label) + s·eps, with mu a hash-seeded per-label direction
  * and eps hash-seeded per-vector noise, both exact integer-mix
  * formulas in Column arithmetic (deterministic across runs/partitions,
  * no RNG state) — and measures the recall@3 / purity A/B the trained
  * quantizer and the probe knob exist for:
  *
  *   {seeded, Lloyd-2 trained} × {probes 2, 4}
  *
  * over td_knn_ann_recall (vs brute truth, bench-only nodeBound sample)
  * and td_knn_purity_ann (full corpus). Everything runs through the
  * REGISTRY queries — the A/B toggles only bench-only confs
  * ([[graft.GraftConf]]: the correctness gate never sets them, so the
  * oracle-pinned defaults are untouched).
  *
  * Noise scale s (4th arg, default 1.2): intra-label cosine
  * ≈ 1/(1+|s·eps|²), inter-label ≈ the near-orthogonal mu_a·mu_b.
  * Measured regimes at 10× (BASELINE.md round 15): s = 0.25 and 0.6
  * both ceiling at recall ≈ 0.99-1.0 in EVERY config — clusters so
  * separated a blocked method cannot miss — while the default 1.2
  * gives overlapping clusters (brute purity 0.60, still 6× chance)
  * whose nearest neighbors sit near cell boundaries: the regime where
  * quantizer quality and probe width actually move recall, and the
  * one production embeddings present. Purity is knob-INSENSITIVE by
  * construction (a blocking miss usually substitutes another
  * same-label neighbor) — it gates cluster coherence, recall gates
  * the index.
  *
  * {{{ sbt "runMain graft.tools.AnnQualityAb 10 /root/testdata/sf0.1 /tmp/graft-clustered" }}}
  */
object AnnQualityAb {

  /** Integer-mix pseudo-noise in [-0.5, 0.5): Knuth/FNV-style odd
    * multipliers, exact in long arithmetic at any realistic id
    * (shared with [[DriftRetrain]]'s two-epoch fixture). */
  private[tools] def mix(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (pmod(a * lit(2654435761L) + b * lit(40503L) + lit(2166136261L),
      lit(1000003L)).cast("double") / lit(1000003.0)) - lit(0.5)

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft-clustered-x$scale"
    val noise = if (args.length > 3) args(3).toDouble else 1.2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-ann-ab", cpus))
    import spark.implicits._

    val emb = Tables.load(spark, src, "embeddings")
    val nVecs = emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val total = nVecs * scale

    val marker = java.nio.file.Paths.get(
      s"$out/_graft_clustered_${scale}x_${nVecs}_s$noise")
    if (!java.nio.file.Files.exists(marker)) {
      val reps = spark.range(scale).toDF("rep")
      val js = sequence(lit(0), lit(dim - 1))
      // per-label direction mu (label offset by a prime so label-0
      // isn't the all-equal row), per-REPLICATED-vector noise eps
      val withId = emb.crossJoin(broadcast(reps))
        .select((col("vec_id") + col("rep") * lit(nVecs)).as("vec_id"),
          col("label"))
      val mu = transform(js, j => mix(col("label") + lit(7919L), j))
      val clustered = withId
        .withColumn("munorm",
          sqrt(aggregate(mu, lit(0.0), (acc, x) => acc + x * x)))
        .select(col("vec_id"), col("label"),
          transform(js, j =>
            (mix(col("label") + lit(7919L), j) / col("munorm") +
              lit(noise) * mix(col("vec_id"), j)).cast("float"))
            .as("embedding"))
        .select(col("vec_id"), col("embedding"), col("label"))
      clustered.repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      try listing.filter(p =>
          p.getFileName.toString.startsWith("_graft_clustered_"))
        .forEach(java.nio.file.Files.delete(_))
      finally listing.close()
      java.nio.file.Files.createFile(marker)
    }

    // index sizing: the √n exact-assignment optimum for the scaled
    // corpus (same law as StressSmoke); the brute recall denominator
    // runs on the fixed 1× sample (nodeBound — the documented
    // diagnostic regime; the recall member re-sizes its own quantizer
    // from that sample, SimilarityQueries review r14)
    val cells = math.max(16, math.round(math.sqrt(total / 2.0))).toInt
    spark.conf.set(GraftConf.AnnIvfCells.name, cells.toString)
    spark.conf.set(GraftConf.KnnNodeBound.name, nVecs.toString)
    println(s"""{"metric":"ann_ab_fixture","scale":$scale,"vecs":$total,""" +
      s""""cells":$cells,"node_bound":$nVecs,"dim":$dim,"noise":$noise}""")

    def mean(name: String, valueCol: String): Double =
      SparkEntry.registry(name).build(spark, out)
        .agg(avg(col(valueCol))).head().getDouble(0)

    // ground-truth sanity: brute purity on the bounded sample — near
    // chance (0.1) on the driver fixture, well above it here or the
    // clustered fixture failed its purpose
    val brutePurity = mean("td_knn_purity", "knn_purity")
    println(f"""{"metric":"ann_ab_brute_purity","value":$brutePurity%.6f}""")

    for (train <- Seq(false, true); probes <- Seq(2, 4)) {
      if (train) spark.conf.set(GraftConf.AnnIvfTrain.name, "2")
      else spark.conf.unset(GraftConf.AnnIvfTrain.name)
      spark.conf.set(GraftConf.AnnProbes.name, probes.toString)
      val t0 = System.nanoTime()
      val recall = mean("td_knn_ann_recall", "recall_at_3")
      val tRecall = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val purity = mean("td_knn_purity_ann", "knn_purity")
      val tPurity = (System.nanoTime() - t1) / 1e9
      println(f"""{"metric":"ann_ab","train":$train,"probes":$probes,""" +
        f""""recall_at_3":$recall%.6f,"purity_ann":$purity%.6f,""" +
        f""""sec_recall":$tRecall%.2f,"sec_purity":$tPurity%.2f}""")
    }
    spark.conf.unset(GraftConf.AnnIvfTrain.name)
    spark.conf.unset(GraftConf.AnnProbes.name)

    // PQ codebook A/B (round 15): the label%10 codebook is effectively
    // SUPERVISED on this fixture (labels ARE the planted clusters), so
    // the question the trained leg answers is whether unsupervised
    // per-subspace k-means recovers it — the production regime, where
    // no labels exist. td_ann_pq_recall needs q·n exact cosine truth;
    // bound the query set at scale via the fixedq knob.
    spark.conf.set(GraftConf.AnnQueryIdBound.name, nVecs.toString)
    // grid: the supervised-on-this-fixture label codebook (10 codes),
    // unsupervised trained at the same resolution, and trained at the
    // production lever (more codes than clusters — the regime where
    // PQ stops quantizing whole clusters to one point)
    for ((pqTrain, codes) <- Seq((false, 10), (true, 10), (true, 64),
        (true, 256))) {
      if (pqTrain) spark.conf.set(GraftConf.AnnPqTrain.name, "2")
      else spark.conf.unset(GraftConf.AnnPqTrain.name)
      spark.conf.set(GraftConf.AnnPqCodes.name, codes.toString)
      val t0 = System.nanoTime()
      val recall = mean("td_ann_pq_recall", "recall_at_3")
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"metric":"pq_ab","train":$pqTrain,"codes":$codes,""" +
        f""""recall_at_3":$recall%.6f,"sec":$sec%.2f}""")
    }
    spark.conf.unset(GraftConf.AnnPqTrain.name)
    spark.conf.unset(GraftConf.AnnPqCodes.name)
    spark.conf.unset(GraftConf.AnnQueryIdBound.name)
    spark.stop()
  }
}
