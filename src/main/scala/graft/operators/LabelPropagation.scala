package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Lineage

/** Synchronous label propagation (LPA, Raghavan et al. 2007) over a
  * directed edge list — the classic near-linear community-detection
  * pass. Every node starts with its own id as label; each iteration a
  * node adopts the most frequent label among its neighbours, ties
  * broken by the SMALLEST label. Synchronous updates + deterministic
  * tie-break make the result a pure function of the graph — unlike the
  * textbook randomized-order variant — so it is hash-comparable
  * cross-engine (same reproducibility argument as [[PageRank]]'s
  * integer tokens).
  *
  * Neighbours follow edge direction (`src` adopts from `dst`); pass
  * both directions for an undirected graph. A node with no out-edges
  * keeps its current label.
  *
  * Scale design (per iteration: 1 broadcastable join + 2 aggregates):
  *  - the O(edges) table is hash-partitioned by `src` once and cached,
  *    never reshuffled inside the loop;
  *  - the O(nodes) label table is broadcast into the per-iteration
  *    join below the [[graft.GraftConf.BroadcastNodeLimit]] ceiling
  *    (checkpointed tables carry no size stats — same reasoning as
  *    PageRank), so the only corpus-sized shuffle per iteration is the
  *    (src, lbl) count, which map-side partials collapse to the
  *    distinct neighbour-label volume;
  *  - the mode-with-tie-break is a single `max(struct(cnt, -lbl))`
  *    aggregate — no per-node window, no sort;
  *  - the label table is truncated through `Lineage.truncate` EVERY
  *    round (lazily; eagerly on the last), not at
  *    [[PageRank.CheckpointInterval]]: unlike PageRank's
  *    single-reference loop, each LPA update
  *    references the previous label table twice (once inside the
  *    neighbour-mode aggregate, once as the keep-current fallback), so
  *    an interval-k checkpoint would let the logical plan double every
  *    round and grow 2^k between truncations. The checkpoint replaces
  *    the plan with a constant-size leaf immediately, and the table it
  *    snapshots is only O(nodes) — one cheap job per round.
  */
object LabelPropagation {

  /** (id, lbl) for every node incident to an edge, after `iterations`
    * synchronous LPA rounds. Duplicate edges weight their endpoint's
    * label twice (multigraph semantics) — `distinct()` upstream if
    * that is not wanted.
    */
  def run(edges: DataFrame, iterations: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val base = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = base.select(col("src").as("id"))
      .union(base.select(col("dst").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    val limit = graft.GraftConf.BroadcastNodeLimit(edges.sparkSession)
    val small = nodes.count() <= limit
    def bcast(df: DataFrame) = if (small) broadcast(df) else df

    var labels = nodes.withColumn("lbl", col("id"))
    for (i <- 1 to iterations) {
      // neighbour labels arrive over the dst side; (src, lbl) counts
      // collapse map-side before the shuffle
      val counts = base
        .join(bcast(labels.withColumnRenamed("id", "dst")), "dst")
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      // mode with ties to the smallest label: lexicographic max of
      // (cnt, -lbl) — one aggregate, no window
      val mode = counts
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("src").as("id"), (-col("m.nl")).as("newLbl"))
      labels = Lineage.truncate(labels.join(bcast(mode), Seq("id"), "left")
        .select(col("id"), coalesce(col("newLbl"), col("lbl")).as("lbl")),
        eager = i == iterations)
    }
    if (iterations == 0) {
      // materialize the trivial identity labelling so the caches below
      // can be released without the returned frame recomputing them
      labels = Lineage.truncate(labels, eager = true)
    }
    base.unpersist(); nodes.unpersist()
    labels
  }
}
