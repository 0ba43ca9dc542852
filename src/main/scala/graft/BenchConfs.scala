package graft

import org.apache.spark.sql.SparkSession

/** The BENCH-ONLY session confs, centralized (VERDICT r14 #5).
  *
  * Contract (established for `ann.queryIdBound` in round 12 and since
  * inherited by every knob here): the driver's correctness gate NEVER
  * sets any of these, so every oracle hash is computed under the
  * registry defaults; only the stress/bench harnesses (StressSmoke,
  * RelStress, tools.Profile) set them, to pin a production regime — a fixed
  * query batch, a fixed diagnostic sample, or a quantizer re-trained
  * for the scaled corpus — that the fixture's own coupling would
  * otherwise misrepresent. Each knob's semantics live at its read
  * site; this object owns the NAMES and the read discipline so a new
  * knob cannot silently leak into oracle hashes: RegistrySpec runs
  * every registry query in one session and then asserts every name in
  * [[all]] is unset there.
  *
  * Adding a knob = add the constant AND append it to [[all]]; the
  * RegistrySpec gate then covers it with no further wiring.
  */
object BenchConfs {

  /** Bounds the ANN query set to vec_id < bound (fixed-query serving
    * regime — StressSmoke `fixedq`). Read by SimilarityQueries. */
  val QueryIdBound = "spark.graft.ann.queryIdBound"

  /** Bounds the BRUTE kNN members' node set (fixed-sample diagnostic
    * regime; the ANN members never read it). Read by
    * SimilarityQueries. */
  val NodeBound = "spark.graft.knngraph.nodeBound"

  /** IVF coarse-quantizer cell count (k ∝ √n re-training as the
    * corpus grows); oracle-pinned default 16. Read by
    * SimilarityQueries. */
  val IvfCells = "spark.graft.ann.ivf.cells"

  /** SemDeDup k-means cell count (k ∝ √n); oracle-pinned default 8.
    * Read by DedupQueries. */
  val SemdedupCells = "spark.graft.semdedup.cells"

  /** IVF coarse-quantizer TRAINING: Lloyd iteration count for the
    * spherical k-means refinement of the data-seeded centroids
    * (VERDICT r14 #1). Unset/0 = the oracle-pinned seeded quantizer;
    * N > 0 = N assign→update→normalize rounds before the probe
    * scoring. Read by SimilarityQueries.ivfCentroids — i.e. it
    * rewires EVERY consumer of the shared quantizer: the ANN kNN
    * graph build (annKnnEdges / td_knn_graph_ann / td_knn_purity_ann
    * / td_knn_ann_recall) AND td_ann_ivf's serving index. A sweep
    * setting it for one family changes the other's numbers in the
    * same session. */
  val IvfTrain = "spark.graft.ann.ivf.train"

  /** IVF multi-probe count (recall lever); oracle-pinned default 2.
    * Read by SimilarityQueries.annKnnEdges. */
  val Probes = "spark.graft.ann.probes"

  /** PQ codebook TRAINING: Lloyd iteration count for the per-subspace
    * k-means refinement replacing the label-derived codebook (round
    * 15 — production corpora have no labels; the trained codebook is
    * the unsupervised path). Unset/0 = the oracle-pinned label%10
    * codebook; N > 0 = N assign→update rounds per subspace. Read by
    * SimilarityQueries.pqTop3. */
  val PqTrain = "spark.graft.ann.pq.train"

  /** PQ codebook SIZE (codes per subspace); oracle-pinned default 10.
    * The label-derived codebook cannot exceed the label cardinality
    * (10), so sizes above 10 are only meaningful with [[PqTrain]] —
    * the production lever (real PQ runs k=256): recall is
    * codebook-resolution-bound once clusters out-populate codes. Read
    * by SimilarityQueries.pqTop3. */
  val PqCodes = "spark.graft.ann.pq.codes"

  /** Every bench-only conf, for the RegistrySpec never-set-under-the-
    * gate assertion. */
  val all: Seq[String] =
    Seq(QueryIdBound, NodeBound, IvfCells, SemdedupCells, IvfTrain,
      Probes, PqTrain, PqCodes)

  def intOpt(s: SparkSession, key: String): Option[Int] =
    s.conf.getOption(key).map(_.toInt)

  def longOpt(s: SparkSession, key: String): Option[Long] =
    s.conf.getOption(key).map(_.toLong)
}
