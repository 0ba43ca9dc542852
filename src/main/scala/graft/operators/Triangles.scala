package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Lineage

/** Exact triangle enumeration over an undirected simple graph via
  * DEGREE-ORDERED orientation — the node-iterator++ / "forward"
  * algorithm (Schank & Wagner, "Finding, Counting and Listing all
  * Triangles in Large Graphs", WEA'05; survey: Ortmann & Brandes,
  * ALENEX'14). The unipartite sibling of [[Butterfly]]'s
  * vertex-priority rule, and the engine behind the dedup-QA /
  * kNN-graph-diagnostic registry queries (td_dedup_transitivity,
  * td_knn_graph_stats).
  *
  * The naive formulation self-joins the edge list on a shared endpoint
  * and materializes every length-2 path: Σ_v C(deg(v), 2) rows —
  * quadratic in hub degree, so one node with 10^6 neighbours
  * contributes ~5·10^11 wedges on its own. Orientation fixes the law,
  * not just the constant: direct every edge from its lower-priority
  * endpoint to its higher, where priority is (deg, id) ascending — a
  * total order, since ids are distinct. Every triangle {a, b, c} with
  * pr(a) < pr(b) < pr(c) then has EXACTLY one out-wedge at its minimum
  * vertex a (a→b, a→c), closed by the oriented edge b→c — so
  * enumerating wedges only over ORIENTED adjacency counts each
  * triangle once, no /3 correction, and out-degrees are bounded by
  * O(√(2E)) (a node of out-degree d has d higher-priority neighbours,
  * each of degree ≥ deg(v) ≥ d, which needs d² ≤ 2E edges). Wedge
  * volume drops from Σ deg² to Σ outdeg² ≤ E^1.5 — the arboricity
  * bound — and a hub's wedges are never walked through the hub.
  *
  * Plan shape: one distinct (canonicalization), one O(V) degree
  * aggregate joined back to attach endpoint degrees, then two hash
  * equi-joins — the wedge self-join on the shared source (the two
  * sides shuffle on the same key from the same child plan, so the
  * exchange is REUSED, not recomputed) and the closing join on the
  * (b, c) edge pair. The oriented edge set is referenced three times
  * (both wedge sides + the closing probe), so it is lazily truncated
  * through `Lineage.truncate` — materialized once on first action,
  * blocks freed by the ContextCleaner when unreferenced (the same
  * three-use discipline as SemDeDup's assignment table).
  *
  * Input contract: any edge orientation, duplicates and self-loops
  * tolerated — the operator canonicalizes to a distinct (lo, hi) set
  * first. Ids must be a single Long space (callers with bipartite or
  * composite ids encode first, as GraphQueries does).
  */
object Triangles {

  /** Distinct canonical undirected edge set: (lo = least(u,v),
    * hi = greatest(u,v)), self-loops dropped. One shuffle, O(E). */
  def canonicalEdges(edges: DataFrame, u: String, v: String): DataFrame =
    edges.filter(col(u) =!= col(v))
      .select(least(col(u), col(v)).as("lo"),
        greatest(col(u), col(v)).as("hi"))
      .distinct()

  /** (id, deg) over a canonical edge set — every endpoint of every
    * undirected edge counted once. */
  def degrees(canon: DataFrame): DataFrame =
    canon.select(col("lo").as("id"))
      .unionAll(canon.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** pr(x) < pr(y) in the (deg, id)-ascending total order. */
  private def prLt(dx: Column, x: Column, dy: Column, y: Column): Column =
    dx < dy || (dx === dy && x < y)

  /** Every triangle of the input graph exactly once, as
    * (a, b, c) with pr(a) < pr(b) < pr(c). The canonical edge set is
    * lazily truncated first — it feeds both the degree
    * aggregate and the orientation join, and without materialization
    * each consumer would recompute the full upstream edge derivation
    * (for a kNN-graph caller, the whole scoring pass). */
  def triangleRows(edges: DataFrame, u: String, v: String): DataFrame =
    triangleRowsCanonical(
      Lineage.truncate(canonicalEdges(edges, u, v)))

  /** As [[triangleRows]] for a caller-supplied DISTINCT canonical
    * (lo, hi) edge set — skips the canonicalization shuffle. The frame
    * is read more than once: pass something already materialized (or
    * cheap), as the registry consumers do via `Lineage.truncate`. */
  def triangleRowsCanonical(canon: DataFrame): DataFrame = {
    val degs = degrees(canon)
    // Attach endpoint degrees. The degree table is O(V) — AQE
    // broadcasts it when small; at cluster scale both joins are
    // ordinary hash equi-joins on the id.
    val withDeg = canon
      .join(degs.select(col("id").as("lo"), col("deg").as("dlo")), "lo")
      .join(degs.select(col("id").as("hi"), col("deg").as("dhi")), "hi")
    // Orient lower priority → higher. lo < hi by construction, so the
    // equal-degree tie resolves to lo-first.
    val loFirst = col("dlo") < col("dhi") || (col("dlo") === col("dhi"))
    // Referenced three times below; materialize once, lazily. The
    // source-side degree is NOT carried: the wedge order only compares
    // dst priorities, so an extra long per row would widen this
    // checkpoint and the wedge-join shuffle for nothing.
    val oriented = Lineage.truncate(withDeg.select(
      when(loFirst, col("lo")).otherwise(col("hi")).as("src"),
      when(loFirst, col("hi")).otherwise(col("lo")).as("dst"),
      when(loFirst, col("dhi")).otherwise(col("dlo")).as("dstDeg")))
    val o1 = oriented.select(col("src").as("a"),
      col("dst").as("b"), col("dstDeg").as("db"))
    val o2 = oriented.select(col("src").as("a2"), col("dst").as("c"),
      col("dstDeg").as("dc"))
    // Out-wedges at the minimum vertex a: (a→b, a→c) with
    // pr(b) < pr(c). Equi-join on the shared source; the priority
    // order is a post-join filter, keeping the join hash-partitioned.
    val wedges = o1
      .join(o2, col("a") === col("a2") &&
        prLt(col("db"), col("b"), col("dc"), col("c")))
      .select(col("a"), col("b"), col("c"))
    // Close with the oriented edge b→c (pr(b) < pr(c) matches the
    // wedge's ordering, so orientation agrees by construction).
    wedges.join(
        oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  /** (id, triangles) for every vertex in at least one triangle —
    * consumers left-join [[degrees]] to restore zero rows. */
  def perVertexCounts(edges: DataFrame, u: String, v: String): DataFrame =
    perVertexFromCanonical(
      Lineage.truncate(canonicalEdges(edges, u, v)))

  /** As [[perVertexCounts]] for a caller-supplied canonical edge set. */
  def perVertexFromCanonical(canon: DataFrame): DataFrame = {
    val tri = triangleRowsCanonical(canon)
    tri.select(col("a").as("id"))
      .unionAll(tri.select(col("b").as("id")))
      .unionAll(tri.select(col("c").as("id")))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
  }

  /** Single row: total triangle count. */
  def globalCount(edges: DataFrame, u: String, v: String): DataFrame =
    triangleRows(edges, u, v).agg(count(lit(1)).as("triangles"))

  /** Σ C(outdeg, 2) under the (deg, id) orientation — exactly the
    * wedge rows [[triangleRowsCanonical]] will materialize, computed
    * from the degree distribution WITHOUT enumerating anything (one
    * aggregate over the oriented out-degrees). The stress harness's
    * sizing probe; the naive-plan counterpart is Σ C(deg, 2). */
  def orientedWedgeCount(canon: DataFrame): DataFrame = {
    val degs = degrees(canon)
    val outDeg = canon
      .join(degs.select(col("id").as("lo"), col("deg").as("dlo")), "lo")
      .join(degs.select(col("id").as("hi"), col("deg").as("dhi")), "hi")
      .select(when(col("dlo") < col("dhi") || col("dlo") === col("dhi"),
        col("lo")).otherwise(col("hi")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("d"))
    outDeg.agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L))
      .as("wedges"))
  }

  /** As [[globalCount]] for a caller-supplied canonical edge set. */
  def globalFromCanonical(canon: DataFrame): DataFrame =
    triangleRowsCanonical(canon).agg(count(lit(1)).as("triangles"))
}
