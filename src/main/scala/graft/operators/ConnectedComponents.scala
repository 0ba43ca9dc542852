package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an undirected edge list —
  * the cluster-resolution step of the dedup pipeline
  * (graft.queries.DedupQueries; SURVEY.md §7.1 step 9).
  *
  * Default algorithm: alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14). Each round is two groupBy+join passes over the edge set —
  * no driver-side graph state — and the round count is O(log d) in the
  * component diameter d, versus O(d) for plain min-label propagation.
  * Every iteration `localCheckpoint`s (lazily) so lineage stays flat and
  * executor loss never recomputes the whole chain, and convergence costs
  * exactly one action per round (the checkpoint materializes inside the
  * checksum job).
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
  * Fault tolerance: by default each round `localCheckpoint`s (fast,
  * executor-local — an executor loss fails the job). For long jobs set
  * `GraftConf.CcCheckpointDir`: every `GraftConf.CcCheckpointInterval`
  * rounds (default 5) the edge set is reliably `checkpoint()`ed to that
  * directory and intermediate rounds keep recomputable lineage rooted at
  * the last reliable checkpoint, so executor loss costs at most
  * `interval` rounds of recompute instead of the whole job.
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
    val ckDir = graft.GraftConf.CcCheckpointDir(spark)
    val ckInterval = graft.GraftConf.CcCheckpointInterval(spark)
    ckDir.foreach(spark.sparkContext.setCheckpointDir)

    // Reliable-mode bookkeeping. A checkpoint-round frame is persisted
    // first so the lazy checkpoint's file-writing pass (RDD.doCheckpoint
    // at the end of the materializing job) re-reads cached blocks instead
    // of recomputing the round's whole lineage a second time; the persist
    // is released as soon as the files land. Superseded checkpoint dirs
    // are deleted once a newer reliable checkpoint exists — except round
    // 0's, which the final labeling's `nodes` side still reads.
    //
    // Dirs are tracked BY IDENTITY — each frame's materialized
    // `RDD.getCheckpointFile`, found by walking its RDD lineage — never
    // by diffing the shared checkpoint-dir listing. The earlier
    // listing-diff approach had two failure modes: with
    // checkpointInterval=1 the round-0 and round-1 dirs both materialize
    // inside the first action (one "fresh" set → both protected forever,
    // a leak), and a second labels() run sharing this SparkContext's
    // checkpoint dir could have its current checkpoint swept as
    // "superseded" by this run. Identity tracking deletes only dirs this
    // run's own frames produced.
    var ckPendingUnpersist: List[DataFrame] = Nil
    var ckPendingFrames: List[DataFrame] = Nil
    var ckRound0: Option[DataFrame] = None
    var ckProtected: Option[String] = None // round 0's dir, by identity
    var ckLive: List[String] = Nil // this run's live reliable dirs
    def ckFileOf(df: DataFrame): Option[String] = {
      def walk(r: org.apache.spark.rdd.RDD[_], depth: Int): Option[String] =
        if (depth > 8) None
        else r.getCheckpointFile.orElse(
          r.dependencies.view.flatMap(d => walk(d.rdd, depth + 1)).headOption)
      walk(df.queryExecution.toRdd, 0)
    }
    // Call right after each round's action: every checkpoint requested so
    // far has materialized within that action, so pending persists can go
    // and this run's prior (non-round-0) checkpoint dirs are superseded.
    def ckSweep(): Unit = if (ckDir.isDefined) {
      ckPendingUnpersist.foreach(_.unpersist(blocking = false))
      ckPendingUnpersist = Nil
      if (ckProtected.isEmpty) ckProtected = ckRound0.flatMap(ckFileOf)
      val landed = ckPendingFrames.flatMap(ckFileOf(_).toList)
      ckPendingFrames = Nil
      // conservative: with round 0's identity unresolved, nothing is
      // deleted (a leaked dir is recoverable; a wrongly-deleted one not)
      if (landed.nonEmpty && ckProtected.isDefined) {
        val superseded = ckLive.filterNot(landed.contains)
          .filterNot(ckProtected.contains)
        superseded.foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
        ckLive = (ckLive.filterNot(superseded.contains) ++ landed).distinct
      } else ckLive = (ckLive ++ landed).distinct
    }

    // Lineage-flattening strategy per round. localCheckpoint (default) is
    // executor-local: fast, but executor loss fails the job. Reliable mode
    // checkpoints to ckDir every ckInterval rounds; rounds in between keep
    // recomputable lineage (persisted so they aren't recomputed in the
    // healthy path), rooted at the last reliable checkpoint.
    def flatten(df: DataFrame, round: Int): DataFrame = ckDir match {
      case Some(_) if round % ckInterval == 0 =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        ckPendingUnpersist ::= p
        val ck = p.checkpoint(eager = false)
        ckPendingFrames ::= ck
        if (round == 0) ckRound0 = Some(ck)
        ck
      case Some(_) => df.persist(StorageLevel.MEMORY_AND_DISK)
      case None => df.localCheckpoint(false)
    }

    // canonical directed form: u -> v with u > v; checkpointed so the
    // (possibly expensive) edge-producing pipeline runs exactly once
    var e = flatten(edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), 0)

    // nodes incident to a real (non-self-loop) edge, from the
    // checkpointed set — never recomputes the input pipeline
    val nodes = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id")))
      .distinct()

    var prev: Option[(Long, Long)] = None
    var prevPersisted: Option[DataFrame] = None
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      // lazy checkpoint: the checksum action below materializes it, so
      // each round is ONE job and next round starts from stored blocks.
      // Superseded localCheckpoint rounds' blocks are freed by the
      // ContextCleaner once unreferenced (no deterministic unpersist);
      // acceptable because rounds are O(log diameter) — bounded by
      // maxIterations — and the edge set shrinks as stars collapse.
      // Reliable-mode persists are unpersisted explicitly below.
      val next = flatten(smallStar(largeStar(e, salt), salt), iter + 1)
      val row = next.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L))).head()
      ckSweep()
      val sig = (row.getLong(0), row.getLong(1))
      converged = prev.contains(sig)
      prev = Some(sig)
      // next is materialized; a superseded persist can go (losing it only
      // costs recompute from the last reliable checkpoint)
      prevPersisted.foreach(_.unpersist(blocking = false))
      prevPersisted = if (ckDir.isDefined && (iter + 1) % ckInterval != 0)
        Some(next) else None
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
    val bi = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(
        edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(false)
    var labels = bi.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(false)
    var prevSum = labels.agg(coalesce(sum(col("label")), lit(0L)))
      .head().getLong(0)
    var converged = false
    while (!converged) {
      val msgs = bi.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"))
      val next = labels.unionByName(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(false)
      val after = next.agg(coalesce(sum(col("label")), lit(0L)))
        .head().getLong(0)
      labels = next
      converged = after == prevSum
      prevSum = after
    }
    labels
  }
}
