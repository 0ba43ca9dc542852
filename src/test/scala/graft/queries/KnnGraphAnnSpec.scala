package graft.queries

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ANN-backed kNN graph (td_knn_graph_ann) and its recall gate
  * (td_knn_ann_recall): bench-knob behavior and structural bounds.
  * Value-level exactness of the blocked build is the DuckDB oracle's
  * job (the oracle replays the identical candidate blocking), so these
  * specs pin what the oracle cannot see — the bench-only confs and the
  * invariants that hold at ANY cell count.
  */
class KnnGraphAnnSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String) =
    SparkEntry.registry(name).build(spark, sfDir)

  test("graph build covers the node set at the default quantizer") {
    val rows = run("td_knn_graph_ann").collect()
    assert(rows.length > 100)
    // symmetrized 3-NN graph: deg >= 1 for every emitted node, and
    // lcc stays in [0, 1]
    rows.foreach { r =>
      assert(r.getAs[Long]("deg") >= 1L)
      val lcc = r.getAs[Double]("lcc")
      assert(lcc >= 0.0 && lcc <= 1.0, r)
    }
  }

  private def nodes = DedupQueries.normalizedEmbeddings(spark, sfDir)

  test("ann.ivf.cells re-trains the quantizer (bench-only knob)") {
    // blocking-sensitive INTERMEDIATE, not query output (ADVICE r14:
    // two blockings can coincidentally produce identical diagnostics;
    // the home-cell count cannot coincide across cell settings): seed
    // vector i's home cell is always its own centroid (dot = 1,
    // maximal), so the distinct home-cell count equals the configured
    // cell count exactly — 64 under the knob, the oracle-pinned 16
    // without it.
    def homeCells(): Long = SimilarityQueries.annProbeFrame(spark, nodes)
      .filter(org.apache.spark.sql.functions.col("rn") === 1)
      .select("cell").distinct().count()
    assert(homeCells() == 16L)
    spark.conf.set(graft.GraftConf.AnnIvfCells.name, "64")
    try assert(homeCells() == 64L, "cells knob did not reach the blocking")
    finally spark.conf.unset(graft.GraftConf.AnnIvfCells.name)
  }

  test("ann.probes widens the probe frame (bench-only knob)") {
    // with cells >= 4 every vector has 4 scoreable centroids, so the
    // probe frame must hold exactly `probes` rows per vector: 2n by
    // the oracle-pinned default, 4n under the knob — a row count, so
    // it cannot coincide across the two settings
    val n = nodes.count()
    def probeRows(): Long =
      SimilarityQueries.annProbeFrame(spark, nodes).count()
    assert(probeRows() == 2 * n)
    spark.conf.set(graft.GraftConf.AnnProbes.name, "4")
    try assert(probeRows() == 4 * n, "probes knob did not reach the build")
    finally spark.conf.unset(graft.GraftConf.AnnProbes.name)
  }

  test("ann.ivf.train refines the seeded quantizer (bench-only knob)") {
    import org.apache.spark.sql.functions._
    val seeded = SimilarityQueries.ivfCentroids(spark, nodes, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    spark.conf.set(graft.GraftConf.AnnIvfTrain.name, "2")
    try {
      val trained = SimilarityQueries.ivfCentroids(spark, nodes, 16)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      // the INTERMEDIATE the knob rewires, not query output: a Lloyd
      // round replaces each seed (a raw data vector) with its cell's
      // normalized mean — coincidence would need a cell whose unit
      // mean bit-equals its seed vector, i.e. all ~30 members parallel
      assert(trained.nonEmpty && trained.keySet.subsetOf(seeded.keySet))
      assert(trained.exists { case (cid, ca) => seeded(cid) != ca },
        "train knob did not reach the quantizer")
      // trained centroids live on the unit sphere (spherical k-means)
      trained.values.foreach { ca =>
        val nrm = math.sqrt(ca.map(x => x * x).sum)
        assert(math.abs(nrm - 1.0) < 1e-9, s"non-unit centroid norm $nrm")
      }
    } finally spark.conf.unset(graft.GraftConf.AnnIvfTrain.name)
  }

  test("trained PQ codebook keeps the dense 40-slot grid and slice layout") {
    val vm = SimilarityQueries.microVectors(spark, sfDir)
    val cb = SimilarityQueries.trainedPqCodebook(spark, vm, iters = 2)
      .collect()
    // DENSE grid: the ADC qdist array indexes s*10+code flatly — a
    // dropped code would misalign every lookup after it (the
    // empty-cell-retains-previous-centroid rule exists for this)
    assert(cb.length == 40)
    assert(cb.map(r => (r.getInt(0), r.getInt(1))).toSet ==
      (for (s <- 0 until 4; c <- 0 until 10) yield (s, c)).toSet)
    cb.foreach { r =>
      val (s, cma) = (r.getInt(0), r.getSeq[Double](2))
      assert(cma.length == 64)
      // only slice s is populated — other slices are never read at s,
      // and a nonzero there would mean the widening is misaligned
      cma.zipWithIndex.foreach { case (x, j) =>
        if (j < s * 16 || j >= (s + 1) * 16) assert(x == 0.0, s"($s,$j)")
      }
    }
    // the trained codebook is a different artifact than the label
    // codebook (intermediate-level check, ADVICE r14 discipline):
    // Lloyd centroids are means of SEED-ASSIGNED cells, label
    // centroids means of label cells — coincidence would need the two
    // partitions to agree exactly on every subspace
    val conf = spark.conf
    assert(conf.getOption(graft.GraftConf.AnnPqTrain.name).isEmpty)
    val labelCb = SparkEntry.registry("td_ann_pq").build(spark, sfDir)
      .collect()
    conf.set(graft.GraftConf.AnnPqTrain.name, "2")
    try {
      val trainedOut = SparkEntry.registry("td_ann_pq").build(spark, sfDir)
        .collect()
      assert(trainedOut.nonEmpty)
      // output rows remain well-formed under the knob (rnk 1..3, no
      // self pairs) — the value-level claim stays with the intermediate
      trainedOut.foreach { r =>
        assert(r.getAs[Int]("rnk") >= 1 && r.getAs[Int]("rnk") <= 3, r)
        assert(r.getAs[Long]("q_id") != r.getAs[Long]("n_id"), r)
      }
      assert(labelCb.nonEmpty)
    } finally conf.unset(graft.GraftConf.AnnPqTrain.name)
  }

  test("recall is bounded and honors the bench-only nodeBound") {
    val r = run("td_knn_ann_recall")
    val rows = r.collect()
    rows.foreach { x =>
      val m = x.getAs[Long]("n_match")
      assert(m >= 0L && m <= 3L, x)
      assert(math.abs(x.getAs[Double]("recall_at_3") - m / 3.0) < 1e-15, x)
    }
    // the brute member's diagnostic regime: bounding the node set
    // must prune the output to exactly the bounded nodes
    spark.conf.set("spark.graft.knngraph.nodeBound", "100")
    try {
      val bounded = run("td_knn_ann_recall").collect()
      assert(bounded.length == 100)
      assert(bounded.forall(_.getAs[Long]("vec_id") < 100L))
    } finally spark.conf.unset("spark.graft.knngraph.nodeBound")
  }

  test("graph build ignores nodeBound (full-corpus member by contract)") {
    val full = run("td_knn_graph_ann").count()
    spark.conf.set("spark.graft.knngraph.nodeBound", "100")
    try assert(run("td_knn_graph_ann").count() == full)
    finally spark.conf.unset("spark.graft.knngraph.nodeBound")
  }

  test("ANN purity is bounded, covers the corpus, and ignores nodeBound") {
    val rows = run("td_knn_purity_ann").collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val p = r.getAs[Double]("knn_purity")
      assert(p >= 0.0 && p <= 1.0, r)
      assert(r.getAs[Long]("n_same") <= 3L, r)
    }
    spark.conf.set("spark.graft.knngraph.nodeBound", "100")
    try assert(run("td_knn_purity_ann").count() == rows.length,
      "full-corpus member must not read the brute members' bound")
    finally spark.conf.unset("spark.graft.knngraph.nodeBound")
  }

  test("ANN neighbor lists agree with brute force within probed cells") {
    // cross-check the two registry members: every ANN edge endpoint
    // pair must also appear in the brute pair universe's top ranks
    // ONLY when blocking kept it — i.e. the ANN graph's edge count
    // never exceeds the brute graph's (both emit <= 3 directed picks
    // per node before symmetrization, and blocking can only remove
    // candidates, adding edges only by promoting farther neighbors
    // whose canonical pairs coincide less often). Structural, not
    // value-level: the oracle owns exactness.
    val ann = run("td_knn_graph_ann")
      .agg(sum("deg")).head().getLong(0)
    // one pass over the expensive brute query for both numbers
    val bruteRow = run("td_knn_graph_stats")
      .agg(sum("deg"), count(lit(1))).head()
    val (brute, n) = (bruteRow.getLong(0), bruteRow.getLong(1))
    // directed picks per node are capped at 3 in both, so the
    // symmetrized degree mass is bounded by 2 * 3 * n in both
    assert(ann <= 6 * n, s"ann=$ann n=$n")
    assert(brute <= 6 * n, s"brute=$brute n=$n")
  }
}
