package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Lineage

/** Synchronous k-core peeling (Seidman 1983's coreness decomposition,
  * run as the Matula–Beck peel in synchronous rounds): each round drops
  * every vertex whose degree in the SURVIVING induced subgraph is < k.
  * The fixpoint is the k-core — the standard dense-substructure /
  * spam-farm / community-scaffold extractor; a bounded round count
  * (like [[PageRank]]'s fixed iterations) keeps the result a pure
  * function of (graph, k, rounds), so the DuckDB oracle replays it as
  * unrolled CTEs and hash-compares bit-for-bit.
  *
  * Scale design, per round:
  *  - the O(edges) both-direction table is hash-partitioned by `dst`
  *    ONCE and cached, and every per-round edge join is on `dst` — so
  *    the edge table is genuinely never reshuffled in the loop;
  *  - induced degree needs both endpoints alive, but only the
  *    NEIGHBOUR (dst) check touches the edge table: a dst semi-join
  *    against the survivors, then a map-side-combined count by `src`.
  *    The source-side condition is applied to the O(vertices) COUNT
  *    table (an inner join with the survivor set — a dead vertex's
  *    freshly-counted degree could otherwise resurrect it), never as a
  *    second O(edges) semi-join;
  *  - the survivor set is broadcast into the dst semi-join below
  *    [[graft.GraftConf.BroadcastNodeLimit]] vertices, an ordinary
  *    hash join above (LPA's adaptive posture);
  *  - survivors are truncated through `Lineage.truncate` EVERY round
  *    (lazily; the final degree table eagerly): referenced twice
  *    per round (the semi-join and the count join), so unbounded
  *    lineage would double per round (LabelPropagation's argument
  *    verbatim), and the snapshot is only O(vertices).
  *
  * Monotonicity makes the bounded-round semantics useful: survivors
  * only shrink, so round t is exactly "vertices provably in the k-core
  * after t peel waves" — already converged on most graphs at small t.
  */
object KCore {

  /** Surviving (id, deg) — induced degree in the final survivor set —
    * after `rounds` synchronous peels at threshold `k`. Pass both edge
    * directions for an undirected graph; duplicate edges count twice
    * (multigraph degrees), `distinct()` upstream if unwanted. */
  def run(edges: DataFrame, k: Int, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val base = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one distinct-vertex pass, reused as both the broadcast-threshold
    // count and the round-0 survivor seed (PageRank's discipline)
    val nodes = base.select(col("src").as("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    val limit = graft.GraftConf.BroadcastNodeLimit(edges.sparkSession)
    val small = nodes.count() <= limit
    def bcast(df: DataFrame) = if (small) broadcast(df) else df

    // neighbour-alive degree by src, then the src-alive condition on
    // the O(V) count table — never a second O(E) join
    def aliveDeg(alive: DataFrame): DataFrame = base
      .join(bcast(alive.select(col("id").as("dst"))), Seq("dst"),
        "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .join(bcast(alive.select(col("id").as("src"))), Seq("src"))
      .select(col("src").as("id"), col("deg"))

    var alive = nodes
    for (_ <- 1 to rounds) {
      alive = Lineage.truncate(
        aliveDeg(alive).filter(col("deg") >= k).select(col("id")))
    }
    // induced degree of the FINAL survivor set (one more pass over the
    // cached edges, so the reported deg matches the returned vertices)
    val out = Lineage.truncate(aliveDeg(alive), eager = true)
    base.unpersist(); nodes.unpersist()
    out
  }
}
