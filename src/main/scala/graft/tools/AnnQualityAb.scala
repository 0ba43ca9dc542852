package graft.tools

import graft.{GraftConf, QueryListener, RelStress, SparkEntry, Tables}
import org.apache.spark.sql.{Column, SparkSession}
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
    * multipliers, exact in long arithmetic at any realistic id. */
  private def mix(a: Column, b: Column): Column =
    (pmod(a * lit(2654435761L) + b * lit(40503L) + lit(2166136261L),
      lit(1000003L)).cast("double") / lit(1000003.0)) - lit(0.5)

  /** Write (once per source vintage, scale, noise and shift — a
    * [[graft.RelStress.Copy]]) the clustered embeddings at
    * `$out/embeddings.parquet`: the 1× ids replicated `scale` times,
    * each vector unit(mu_label) + noise·eps. With `shift`, arrivals
    * (vec_id % 5 = 4) take their label direction from a second epoch
    * (mix offset 104729, the 10000th prime, instead of 7919) —
    * near-orthogonal in 64-d, the distribution shift [[DriftAutoRetrain]]
    * detects; the noise is unchanged, so the direction is the ONLY
    * difference. Returns (1× vectors, dimension). */
  private[tools] def clusteredEmbeddings(spark: SparkSession, src: String,
      out: String, scale: Int, noise: Double, shift: Boolean,
      cpus: Int): (Long, Int) = {
    val emb = Tables.load(spark, src, "embeddings")
    val nBase = emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val copy = RelStress.Copy(RelStress.ClusteredSentinel,
      s"${scale}x_s${noise}_shift$shift", Seq("embeddings"))
    RelStress.ensureCopy(spark, src, out, copy) {
      val js = sequence(lit(0), lit(dim - 1))
      // per-label direction mu (label offset by a prime so label-0
      // isn't the all-equal row), per-REPLICATED-vector noise eps
      val mu = (j: Column) => mix(col("label") + col("epoch"), j)
      emb.crossJoin(broadcast(spark.range(scale).toDF("rep")))
        .select((col("vec_id") + col("rep") * lit(nBase)).as("vec_id"),
          col("label"))
        .withColumn("epoch", when(col("vec_id") % 5 === 4 && lit(shift),
          lit(104729L)).otherwise(lit(7919L)))
        .withColumn("munorm", sqrt(aggregate(transform(js, mu), lit(0.0),
          (acc, x) => acc + x * x)))
        .select(col("vec_id"), transform(js, j => (mu(j) / col("munorm") +
            lit(noise) * mix(col("vec_id"), j)).cast("float")).as("embedding"),
          col("label"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    (nBase, dim)
  }

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft-clustered-x$scale"
    val noise = if (args.length > 3) args(3).toDouble else 1.2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-ann-ab", cpus))
    val meter = QueryListener.attach(spark)

    val (nVecs, dim) =
      clusteredEmbeddings(spark, src, out, scale, noise, shift = false, cpus.toInt)
    val total = nVecs * scale

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
      val (recall, tRecall, _) =
        meter.timed(mean("td_knn_ann_recall", "recall_at_3"))
      val (purity, tPurity, _) =
        meter.timed(mean("td_knn_purity_ann", "knn_purity"))
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
      val (recall, sec, _) = meter.timed(mean("td_ann_pq_recall", "recall_at_3"))
      println(f"""{"metric":"pq_ab","train":$pqTrain,"codes":$codes,""" +
        f""""recall_at_3":$recall%.6f,"sec":$sec%.2f}""")
    }
    spark.conf.unset(GraftConf.AnnPqTrain.name)
    spark.conf.unset(GraftConf.AnnPqCodes.name)
    spark.conf.unset(GraftConf.AnnQueryIdBound.name)
    spark.stop()
  }
}
