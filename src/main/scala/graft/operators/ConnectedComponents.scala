package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Lineage

/** Distributed connected components over an undirected edge list —
  * the cluster-resolution step of the dedup pipeline
  * (graft.queries.DedupQueries; SURVEY.md §7.1 step 9).
  *
  * Default algorithm: alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14). Each round is two groupBy+join passes over the edge set —
  * no driver-side graph state — and the round count is O(log d) in the
  * component diameter d, versus O(d) for plain min-label propagation.
  * Every iteration truncates its lineage through `Lineage.truncate`, so
  * lineage stays flat, and convergence costs exactly one action per
  * round (a lazy truncation materializes inside the checksum job).
  *
  * Both operations only ever connect nodes to smaller ids within their
  * component, so the fixpoint is a forest of stars centered at each
  * component's minimum id — the same labeling min-label propagation
  * produces (pinned by ConnectedComponentsSpec against
  * [[labelPropagation]] and by the driver's recursive-CTE DuckDB oracle).
  *
  * Skew: star contraction creates hub nodes BY DESIGN (every component
  * collapses toward its minimum id), so both per-node mins run as an
  * explicit salted two-phase aggregate — partial min over (node, salt)
  * then final min over node — which bounds any reducer's fan-in at
  * `saltBuckets` rows per node even if hash partial-aggregation falls
  * back to sort-based under key-cardinality pressure. The neighbor⋈min
  * join inherits hub skew too; it stays a plain equi-join so AQE's skew
  * split (`spark.sql.adaptive.skewJoin.enabled`, on by default) can
  * divide a hub's probe partition at runtime — pinned by
  * ConnectedComponentsSpec's hub-node listener test.
  *
  * Fault tolerance: each round is a `Lineage.truncate`. By default that
  * is a `localCheckpoint` (fast, executor-local; an executor loss fails
  * the next action). With `GraftConf.CheckpointDir` set every round is a
  * reliable checkpoint into that dir, so executor loss costs no
  * recompute; a superseded round's files are released after the next
  * round's checksum, so only round 0's (the final labeling's `nodes`
  * side reads it) and the latest round's remain.
  */
object ConnectedComponents {

  /** (id, label = component-minimum id) for every node incident to an
    * edge. Input edges are undirected; self-loops and duplicates are
    * tolerated.
    */
  def labels(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIterations: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    // salt buckets of the two-phase per-node min (0 disables the salted
    // first phase)
    val salt = graft.GraftConf.CcSaltBuckets(spark)
    // canonical directed form: u -> v with u > v; truncated so the
    // (possibly expensive) edge-producing pipeline runs exactly once
    val e0 = Lineage.truncate(edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())

    // nodes incident to a real (non-self-loop) edge, from the truncated
    // set — never recomputes the input pipeline
    val nodes = e0.select(col("u").as("id"))
      .unionByName(e0.select(col("v").as("id")))
      .distinct()

    var e = e0
    var prev: Option[(Long, Long)] = None
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      // a lazy truncation materializes inside the checksum action below,
      // so each round is ONE job and the next round starts from stored
      // blocks. Superseded local rounds' blocks are freed by the
      // ContextCleaner once unreferenced; superseded reliable rounds'
      // files are released here, except round 0's, which `nodes` reads.
      val next = Lineage.truncate(smallStar(largeStar(e, salt), salt))
      val row = next.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L))).head()
      if (e ne e0) Lineage.release(e)
      val sig = (row.getLong(0), row.getLong(1))
      converged = prev.contains(sig)
      prev = Some(sig)
      e = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIterations rounds")

    // fixpoint is a star forest: every non-center u has exactly one
    // neighbor — its component min; centers never appear as u
    val lbl = e.groupBy(col("u")).agg(min(col("v")).as("label"))
      .select(col("u").as("id"), col("label"))
    nodes.join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Per-node min(v) as a salted two-phase aggregate: partial min over
    * (u, salt-of-v) then final min over u. Hash partial-aggregation
    * already gives min a map-side combine, but under key-cardinality
    * pressure HashAggregate falls back to sort-based spill; the explicit
    * salt phase caps any final reducer's fan-in at `salt` rows per node
    * regardless, which is what keeps a 10⁶-degree hub (a giant near-dup
    * cluster mid-contraction) off a single reducer. salt <= 1 degrades to
    * the direct single-phase form.
    */
  private[graft] def perNodeMin(nbrs: DataFrame, salt: Int): DataFrame =
    if (salt > 1) {
      nbrs.groupBy(col("u"), pmod(xxhash64(col("v")), lit(salt)).as("_s"))
        .agg(min(col("v")).as("_pm"))
        .groupBy(col("u")).agg(min(col("_pm")).as("m"))
    } else nbrs.groupBy(col("u")).agg(min(col("v")).as("m"))

  /** Large-star: for every node u, connect each strictly-larger neighbor
    * to min(Γ(u) ∪ {u}). Output edges stay canonical (left > right)
    * because the emitted target is a minimum. The nbrs⋈mins equi-join is
    * the remaining hub hotspot; AQE's skew-join split handles it at
    * runtime (see the object Scaladoc).
    */
  private def largeStar(e: DataFrame, salt: Int): DataFrame = {
    val nbrs = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = perNodeMin(nbrs, salt)
      .select(col("u"), least(col("m"), col("u")).as("m"))
    nbrs.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: for every node u over its smaller neighbors S (the
    * canonical out-neighborhood), connect S ∪ {u} minus the minimum m
    * to m.
    */
  private def smallStar(e: DataFrame, salt: Int): DataFrame = {
    val mins = perNodeMin(e, salt)
    val reattached = e.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v")) // v > m: m is S's min
    val center = mins.select(col("u"), col("m").as("v")) // u > m always
    reattached.unionByName(center).distinct()
  }

  /** Reference implementation: deterministic min-label propagation to an
    * exact fixpoint (labels only decrease, so the label sum is a strictly
    * decreasing witness). O(diameter) rounds with 2 jobs each — kept as
    * the cross-check for [[labels]], not the production path.
    */
  private[graft] def labelPropagation(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val bi = Lineage.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .unionByName(
          edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
        .filter(col("src") =!= col("dst")))
    var labels = Lineage.truncate(bi.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    var prevSum = labels.agg(coalesce(sum(col("label")), lit(0L)))
      .head().getLong(0)
    var converged = false
    while (!converged) {
      val msgs = bi.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"))
      val next = Lineage.truncate(labels.unionByName(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label")))
      val after = next.agg(coalesce(sum(col("label")), lit(0L)))
        .head().getLong(0)
      labels = next
      converged = after == prevSum
      prevSum = after
    }
    labels
  }
}
