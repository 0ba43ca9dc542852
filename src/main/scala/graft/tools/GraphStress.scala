package graft.tools

import graft.{Bench, GraftConf, QueryListener, Tables}
import graft.operators.{Butterfly, LabelPropagation, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe for the three graph operators (sibling of
  * [[FuzzyStress]]): grows the customer–supplier purchase graph
  * 1×/10×/50× and records, per scale,
  *
  *  - naive butterfly WEDGE volume Σ_c C(deg(c), 2) — the rows a naive
  *    self-join butterfly plan would materialize (no registry query
  *    runs that shape anymore; both rel_graph_butterfly and _vp use the
  *    priority enumeration), computed
  *    analytically from the degree distribution, never materialized
  *    (at 50× it is ~10^10 rows, which is precisely the point);
  *  - vertex-priority wedge volume (operators/Butterfly.scala) — the
  *    rows the priority rule actually enumerates, counted by executing
  *    the pruned plan — plus the end-to-end per-vertex counting time;
  *  - 3-iteration PageRank and LabelPropagation times (their per-round
  *    cost is O(edges)+O(nodes); the stress point is wall-time growing
  *    LINEARLY with the replica factor, LPA's per-round checkpoint
  *    keeping plan size flat included).
  *
  * Fixture design — the hub regime, not the uniform-dense one: the raw
  * sf graph is near-uniformly dense on the supplier side (every
  * supplier ~deg 500), where wedge volume is intrinsically large on
  * EVERY enumeration order and priority buys only the asymptote. Real
  * purchase/interaction graphs are power-law: most vertices light, a
  * few hubs carrying orders of magnitude more edges — and the naive
  * self-join dies on exactly those hubs. So the fixture (a) hash-thins
  * the base edge set 10× to a sparse graph, (b) replicates the
  * SUPPLIER side k× (customer degrees — the naive plan's wedge
  * centers — grow ×k), and (c) injects 10 hub customers connected to
  * every supplier replica. Naive wedge volume then grows ~k² (hub
  * degree squared); the priority rule walks each hub's wedges from the
  * hub itself — Σ_{s∈N(hub)} deg(s), linear in k — and stays ~k
  * overall. The exactness of the pruned count is pinned separately
  * (ButterflySpec's naive-oracle cross-check, and
  * rel_graph_butterfly_vp's DuckDB hash in the correctness gate).
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.GraphStress 1,10,50" }}}
  */
object GraphStress {

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("dense")) { denseMain(args.drop(1)); return }
    if (args.headOption.contains("triangles")) {
      trianglesMain(args.drop(1)); return
    }
    val scales = args.headOption.getOrElse("1,10,50").split(",").map(_.toInt)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-graphstress", cpus))

    // sparse base: keep ~1/10 of the distinct purchase edges so the
    // non-hub bulk is light, as in a power-law graph's tail
    val base = Tables.load(spark, src, "lineitem")
      .join(Tables.load(spark, src, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
      .filter(pmod(xxhash64(col("c"), col("s")), lit(10)) === 0)
    val mx = base.agg(max(col("s")), max(col("c"))).head()
    val (sStride, hubBase) = (mx.getLong(0) + 1, mx.getLong(1) + 1)
    val nHubs = 10

    // supplier-replicated tail + hub head: replica r maps s -> s+r*stride
    // (customer degree x k, supplier degree flat); hubs attach to EVERY
    // supplier replica
    def scaled(k: Int): DataFrame = {
      val tail = base.crossJoin(broadcast(spark.range(k).toDF("rep")))
        .select(col("c"), (col("s") + col("rep") * lit(sStride)).as("s"))
      val suppliers = tail.select(col("s")).distinct()
      val hubs = suppliers.crossJoin(
          broadcast(spark.range(nHubs).toDF("h")))
        .select((col("h") + lit(hubBase)).as("c"), col("s"))
      tail.union(hubs)
    }

    // shuffle-write bytes per stage-block (VERDICT r8 #6): the stress
    // table must show vp SHUFFLE growing ~linearly with edges, not just
    // wedge counts — shuffle is the number that grows 1000x at 100 TB
    val meter = QueryListener.attach(spark)

    // the registry sweeps' canary (VERDICT r12 #7): started before the
    // ladder, read again after it, so cross-round octave comparisons
    // carry their own contention evidence
    val canary = new Bench.Canary(spark)
    val lines = scales.map { k =>
      val e = scaled(k).cache()
      val nEdges = e.count()
      // what the naive self-join on the shared customer would emit,
      // from the degree distribution — never materialized
      val naiveWedges = e.groupBy("c").agg(count(lit(1)).as("d"))
        .agg(sum(expr("d * (d - 1) div 2"))).head().getLong(0)
      // bipartite one-id-space encoding, as rel_graph_butterfly_vp
      val enc = e.select((col("c") * 2).as("src"),
        (col("s") * 2 + 1).as("dst"))
      val (vpWedges, wedgeSec, _) =
        meter.timed(Butterfly.wedges(enc, "src", "dst").count())
      val (nVerts, vpSec, vp) =
        meter.timed(Butterfly.perVertexCounts(enc, "src", "dst").count())
      val vpShuffleMb = vp.shuffleBytes / 1e6
      val und = enc.union(enc.select(col("dst").as("src"),
        col("src").as("dst")))
      val (_, prSec, _) = meter.timed(PageRank.run(und, 3).count())
      val (_, lpaSec, _) = meter.timed(LabelPropagation.run(und, 3).count())
      // drop THIS scale's butterfly caches (undirected adjacency +
      // bounded wedge/pair entries) before the next, larger scale is
      // measured — accumulated storage from earlier scales would
      // otherwise contend with the multi-GB shuffles being timed
      Butterfly.releaseCaches(enc, "src", "dst")
      e.unpersist()
      println(f"[graphstress] scale=$k edges=$nEdges " +
        f"naive_wedges=$naiveWedges vp_wedges=$vpWedges " +
        f"wedge_sec=$wedgeSec%.1f vp_sec=$vpSec%.1f " +
        f"vp_shuffle_mb=$vpShuffleMb%.1f " +
        f"bf_verts=$nVerts pagerank_sec=$prSec%.1f lpa_sec=$lpaSec%.1f")
      s"""{"scale":$k,"edges":$nEdges,"naive_wedges":$naiveWedges,""" +
        s""""vp_wedges":$vpWedges,"vp_sec":$vpSec,""" +
        f""""vp_shuffle_mb":$vpShuffleMb%.6f,"bf_verts":$nVerts,""" +
        s""""pagerank_sec":$prSec,"lpa_sec":$lpaSec}"""
    }
    canary.checkpoint()
    println(s"""{"metric":"graphstress",""" +
      s"""${Bench.canaryFields(canary.readings, clean = true)},""" +
      s""""scales":[${lines.mkString(",")}]}""")
    spark.stop()
  }

  /** Dense-regime A/B (VERDICT r9 #2): the evidence the adaptive
    * attribution's regime switch rests on. The hub fixture above always
    * has a SMALL k ≥ 2 pair table (hubs funnel every wedge through 10
    * vertices), so it can never show the broadcast variant collapsing —
    * this fixture is its opposite: a union of `blocks` disjoint K(8,8)
    * bicliques. Every same-side pair inside a block shares all 8
    * opposite vertices (k = 8), so the pair table holds
    * 2·C(8,2)·blocks = 56·blocks rows — the SAME order as the ~112·
    * blocks priority-pruned wedges. At the default 200k blocks that is
    * 11.2M pairs: over the broadcast limit, and the dominated-edge
    * bound (≈ 7·E/2 = 44.8M) is over the probe bound, so
    * `perVertexCounts` must route to the windowed shape WITHOUT paying
    * an enumeration probe. The A/B then forces the broadcast shape via
    * its confs. Round-10 finding (BASELINE.md): the ROUTING evidence is
    * what this fixture delivers — forced broadcast does NOT collapse in
    * wall-clock on one JVM, because a same-process broadcast of the
    * 11.2M-row (~270 MB) pair table is nearly free. The collapse is
    * structural at cluster fan-out (that broadcast × every executor,
    * growing with the wedge set past Spark's 8 GB broadcast hard
    * limit), which is exactly the budget the 4M-row
    * broadcastPairLimit encodes.
    *
    * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.GraphStress dense" }}}
    */
  private def denseMain(args: Array[String]): Unit = {
    import graft.operators.Butterfly
    val blocks = args.headOption.map(_.toInt).getOrElse(200000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-densestress", cpus))

    // block i: A-side ids (i*8+j)*2, B-side ids (i*8+j)*2+1 — all 64
    // (a, b) pairs per block; ids stay packable (< 2^31 for <= ~10M
    // blocks) so the A/B isolates the ATTRIBUTION shapes, not encodings
    val e = spark.range(blocks.toLong * 64)
      .selectExpr(
        "((id div 64) * 8 + (id % 64) div 8) * 2 AS src",
        "((id div 64) * 8 + (id % 64) % 8) * 2 + 1 AS dst")
      .cache()
    val nEdges = e.count()

    val meter = QueryListener.attach(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()

    // adaptive default: tier-1 bound must already pick windowed here
    val (nAdaptive, adSec, ad) =
      meter.timed(Butterfly.perVertexCounts(e, "src", "dst").count())
    val (_, adWarmSec, adWarm) =
      meter.timed(Butterfly.perVertexCounts(e, "src", "dst").count())
    // forced broadcast: lift both tiers so the probe materializes and
    // broadcasts the wedge-sized pair table — the measured collapse
    spark.conf.set(GraftConf.ButterflyProbePairBound.name, "1000000000000")
    spark.conf.set(GraftConf.ButterflyBroadcastPairLimit.name, "1000000000000")
    val (nForced, bcSec, bc) =
      try meter.timed(Butterfly.perVertexCounts(e, "src", "dst").count())
      finally {
        spark.conf.unset(GraftConf.ButterflyProbePairBound.name)
        spark.conf.unset(GraftConf.ButterflyBroadcastPairLimit.name)
      }
    val Seq(adMb, adWarmMb, bcMb) = Seq(ad, adWarm, bc).map(_.shuffleBytes / 1e6)
    require(nForced == nAdaptive,
      s"regime results diverged: $nAdaptive adaptive vs $nForced forced")
    // every vertex is in C(8,2)·C(8,2)… butterflies: blocks*16 vertices
    require(nAdaptive == blocks.toLong * 16,
      s"expected ${blocks.toLong * 16} counted vertices, got $nAdaptive")
    println(f"[densestress] blocks=$blocks edges=$nEdges " +
      f"adaptive_windowed_cold=$adSec%.1f s/${adMb}%.1f MB " +
      f"warm=$adWarmSec%.1f s/${adWarmMb}%.1f MB " +
      f"forced_broadcast=$bcSec%.1f s/${bcMb}%.1f MB")
    println(s"""{"metric":"densestress","blocks":$blocks,""" +
      f""""edges":$nEdges,"adaptive_windowed_cold_sec":$adSec%.1f,""" +
      f""""adaptive_windowed_warm_sec":$adWarmSec%.1f,""" +
      f""""adaptive_windowed_warm_mb":$adWarmMb%.1f,""" +
      f""""forced_broadcast_sec":$bcSec%.1f,"forced_broadcast_mb":$bcMb%.1f}""")
    spark.stop()
  }

  /** Triangle-operator scaling rung (unipartite sibling of the hub
    * ladder above): `blocks` disjoint K8 cliques are the power-law
    * tail, 10 hub vertices adjacent to EVERY clique vertex (and to each
    * other) are the head. The naive shared-endpoint self-join
    * materializes Σ C(deg, 2) wedges — the hubs contribute
    * 10·C(8·blocks, 2), QUADRATIC in scale — while the degree-ordered
    * orientation (operators/Triangles.scala) walks hub wedges from the
    * clique vertices (out-degree ≤ 7 tie-split clique peers + 10 hubs),
    * keeping enumerated volume LINEAR. The fixture's triangle count has
    * the closed form 696·blocks + C(10,3) — intra-clique 56·blocks,
    * hub×clique-edge 280·blocks, hub-pair×vertex 360·blocks — so every
    * rung doubles as an exactness check at a scale far beyond the
    * oracle's.
    *
    * {{{ sbt "runMain graft.tools.GraphStress triangles 1,10,50" }}}
    */
  private def trianglesMain(args: Array[String]): Unit = {
    import graft.operators.Triangles
    val scales = args.headOption.getOrElse("1,10,50").split(",").map(_.toInt)
    val blocksBase = if (args.length > 1) args(1).toLong else 10000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.pinDialect(Tables.localSession("graft-tristress", cpus))
    import spark.implicits._
    val nHubs = 10

    // canonical (lo, hi) by construction: intra-clique pairs are
    // ordered within the block, hub ids sit above every clique id
    def fixture(b: Long): DataFrame = {
      val hubBase = b * 8
      val cliquePairs = for { j <- 0 until 8; k <- j + 1 until 8 }
        yield (j, k)
      val intra = spark.range(b).toDF("blk")
        .crossJoin(broadcast(cliquePairs.toDF("j", "k")))
        .select((col("blk") * 8 + col("j")).as("lo"),
          (col("blk") * 8 + col("k")).as("hi"))
      val hubs = spark.range(b * 8).toDF("n")
        .crossJoin(broadcast(spark.range(nHubs).toDF("h")))
        .select(col("n").as("lo"), (col("h") + hubBase).as("hi"))
      val hubhub = (for { a <- 0 until nHubs; c <- a + 1 until nHubs }
        yield (hubBase + a, hubBase + c)).toDF("lo", "hi")
      intra.unionAll(hubs).unionAll(hubhub)
    }

    val meter = QueryListener.attach(spark)
    val canary = new Bench.Canary(spark)
    val lines = scales.map { k =>
      val b = blocksBase * k
      val e = fixture(b).cache()
      val nEdges = e.count()
      // what the naive self-join would emit — from the degree
      // distribution, never materialized
      val naiveWedges = Triangles.degrees(e)
        .agg(sum(expr("deg * (deg - 1) div 2"))).head().getLong(0)
      val orientedWedges =
        Triangles.orientedWedgeCount(e).head().getLong(0)
      val (nTri, coldSec, cold) = meter.timed(
        Triangles.globalFromCanonical(e).head().getLong(0))
      val (_, warmSec, warm) = meter.timed(
        Triangles.globalFromCanonical(e).head().getLong(0))
      val (coldMb, warmMb) = (cold.shuffleBytes / 1e6, warm.shuffleBytes / 1e6)
      val expected = 696L * b + 120
      require(nTri == expected,
        s"scale $k: expected $expected triangles, got $nTri")
      e.unpersist()
      println(f"[tristress] scale=$k blocks=$b edges=$nEdges " +
        f"naive_wedges=$naiveWedges oriented_wedges=$orientedWedges " +
        f"triangles=$nTri cold=$coldSec%.1f s/$coldMb%.1f MB " +
        f"warm=$warmSec%.1f s/$warmMb%.1f MB")
      s"""{"scale":$k,"blocks":$b,"edges":$nEdges,""" +
        s""""naive_wedges":$naiveWedges,""" +
        s""""oriented_wedges":$orientedWedges,"triangles":$nTri,""" +
        f""""cold_sec":$coldSec%.1f,"cold_mb":$coldMb%.6f,""" +
        f""""warm_sec":$warmSec%.1f,"warm_mb":$warmMb%.6f}"""
    }
    canary.checkpoint()
    println(s"""{"metric":"tristress",""" +
      s"""${Bench.canaryFields(canary.readings, clean = true)},""" +
      s""""scales":[${lines.mkString(",")}]}""")
    spark.stop()
  }
}
