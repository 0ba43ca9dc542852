package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Lineage

/** Distributed PageRank over a directed edge list, in exact fixed-point
  * integer arithmetic ("token passing"): every node starts with
  * `initTokens`, each iteration sends `floor(tokens / out_degree)` along
  * every out-edge, and refreshes to
  * `resetTokens + floor(dampNum * received / dampDen)`.
  *
  * Why integer tokens instead of the textbook double ranks: the engine's
  * correctness gate hash-compares results cross-engine, and a double
  * PageRank is NOT reproducible — float addition is non-associative, so
  * the per-node sum of contributions depends on partition count and
  * reduce order (see the determinism notes in RelationalQueries). Long
  * addition is associative, so token PageRank is bit-identical across
  * engines, cluster sizes, and AQE re-plans, while ranking nodes in the
  * same order as the float variant up to the 1e-6 quantization. Headroom:
  * total tokens ≈ nodes·initTokens·dampNum grows to ~8.5e16 at 1e9 nodes
  * — still two orders of magnitude inside Long range.
  *
  * Scale design (the loop is 2 joins + 1 aggregate per iteration):
  *  - the edge set is hash-partitioned by `src` ONCE and cached — the
  *    O(edges) table is never reshuffled inside the loop;
  *  - the rank and degree tables are O(nodes): below
  *    [[graft.GraftConf.BroadcastNodeLimit]] they are broadcast into every
  *    iteration join (necessary explicitly — the checkpointed rank
  *    table has no size stats, so Spark would otherwise plan shuffle
  *    joins), leaving exactly one shuffle per iteration; above it they
  *    hash-join on the `src` key the edge cache is laid out on, so each
  *    iteration shuffles only O(nodes) rows;
  *  - the received-token aggregate is a sum, so map-side partial
  *    aggregation absorbs hub in-degree skew before the shuffle;
  *  - every [[CheckpointInterval]] iterations the rank table is
  *    truncated through `Lineage.truncate` (lazily; eagerly on the last)
  *    to keep lineage flat — iteration i's plan does not re-derive
  *    iterations 1..i-1.
  *
  * Dangling nodes (no out-edges) keep receiving but send nothing — their
  * inbound mass simply decays (the "mass leaks" formulation). Classic
  * redistribute-to-all semantics would need one extra scalar per
  * iteration; callers that need it can add the constant outside.
  */
object PageRank {

  /** (id, tokens) for every node incident to an edge, after `iterations`
    * rounds. Edges are directed; for an undirected graph pass both
    * directions. Duplicate edges count twice (multigraph semantics) —
    * `distinct()` upstream if that is not wanted.
    */
  /** Rounds between lineage truncations. */
  val CheckpointInterval = 5

  def run(edges: DataFrame, iterations: Int,
      srcCol: String = "src", dstCol: String = "dst",
      initTokens: Long = 1000000L, resetTokens: Long = 150000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    // Hash-partitioning by src up front serves BOTH modes: shuffle-mode
    // joins co-locate on it, and either way it compacts whatever shape
    // the upstream plan produced (e.g. a union of two distincts) into
    // one balanced cached layout — measured faster than caching the raw
    // plan output even when every iteration join is broadcast.
    val base = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // keyed by `id` so the per-iteration joins are using-column joins —
    // deg and nodes share lineage with e, and dataframe-qualified refs
    // (deg("src")) would trip the ambiguous-self-join check
    val deg = base.groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = base.select(col("src").as("id"))
      .union(base.select(col("dst").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // broadcast the rank/degree tables up to this many nodes: a
    // checkpointed rank table has no size statistics, so without the hint
    // every iteration's rank join plans as a shuffle join; above the
    // limit ranks may not fit an executor and the shuffle join is right
    val limit = graft.GraftConf.BroadcastNodeLimit(edges.sparkSession)
    // nodes is cached; this count also materializes the caches once
    val small = nodes.count() <= limit
    def bcast(df: DataFrame) = if (small) broadcast(df) else df

    val e = base

    var ranks = nodes.withColumn("tokens", lit(initTokens))
    for (i <- 1 to iterations) {
      // dangling nodes drop out of the inner join: they send nothing
      val shares = ranks.join(bcast(deg), "id")
        .select(col("id").as("src"), expr("tokens div deg").as("share"))
      val received = e.join(bcast(shares), "src")
        .groupBy("dst").agg(sum("share").as("rec"))
        .withColumnRenamed("dst", "id")
      ranks = nodes.join(bcast(received), Seq("id"), "left")
        .select(col("id"),
          (lit(resetTokens) +
            expr(s"($dampNum * coalesce(rec, 0L)) div $dampDen"))
            .as("tokens"))
      // Checkpoint every `CheckpointInterval` rounds and at the end —
      // not every round: each checkpoint materialization is its own
      // job (plus its broadcast-build jobs), and for the common
      // few-iteration case that scheduling overhead dominates the tiny
      // rank table's compute. In between, iterations nest in ONE plan
      // (the broadcast subtrees evaluate sequentially inside a single
      // job); the interval bounds plan depth for long runs. The last
      // round is eager so the cached edge/deg/node tables can be
      // released before returning — callers read the checkpointed
      // result, and a session running many queries doesn't accumulate
      // per-run caches.
      if (i == iterations || i % CheckpointInterval == 0)
        ranks = Lineage.truncate(ranks, eager = i == iterations)
    }
    if (iterations == 0) {
      // materialize the init ranks so the caches below can be released
      // without the returned frame recomputing them
      ranks = Lineage.truncate(ranks, eager = true)
    }
    e.unpersist(); deg.unpersist(); nodes.unpersist()
    ranks
  }
}
