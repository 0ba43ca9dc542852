package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that make these plans
  * survive a 100× scale-up — filters reaching the parquet scan, column
  * pruning, broadcast joins for dims, top-k instead of total sort, and no
  * accidental cartesian products — asserted so a regression fails CI, not
  * a cluster.
  */
class PlanSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.registry(name).build(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("no batch registry query plans a CartesianProduct") {
    // the global scale-hygiene gate: every similarity/dedup/join path
    // must block on an equi-key or broadcast a bounded side — a
    // CartesianProduct anywhere is O(n²) at 100 TB. (st_ queries are
    // excluded: building them executes the stream; their operators are
    // the same aggregate/dedup/state shapes gated here in batch form.)
    for (name <- SparkEntry.registry.keys.filterNot(_.startsWith("st_"))
        .toSeq.sorted) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("rel_filter_project pushes predicates into the parquet scan") {
    val p = plan("rel_filter_project")
    // (the toString truncates the PushedFilters list — assert on the
    // leading entries that fit)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"), p)
  }

  test("timestamp filters reach the parquet scan (no NTZ cast above it)") {
    // the files store timestamp[us] with isAdjustedToUTC=false; read as
    // TimestampNTZ plus a cast-to-timestamp (the pre-round-9 loader),
    // a comparison filter sits ABOVE the cast and never pushes down —
    // free at test SF, a full unpruned column scan at 100 TB. The
    // reader-level type (inferTimestampNTZ=false in pinDialect) keeps
    // the filter eligible; this gate fails if the cast ever comes back.
    import org.apache.spark.sql.functions._
    val p = Tables.load(spark, sfDir, "events")
      .filter(col("ts") >= lit("2024-03-01").cast("timestamp"))
      .select("event_id", "ts")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"), p)
  }

  test("the PQ chain evaluates subspace distances via the codegen kernel") {
    // the encode and ADC stages run the distance candidates × codes
    // times; as interpreted higher-order functions they made the PQ
    // queries compute-bound (11.9 s warm at sf0.1 in round 8). The
    // fused SubspaceL2 expression must stay in the plan — this fails
    // if anyone rewrites the l2 helper back to aggregate(transform(...)
    val p = plan("td_ann_pq")
    assert(p.contains("graft_subspace_l2"), p.take(4000))
  }

  test("td_ann_pq's whole-stage code compiles, with no interpreted fallback") {
    // with the fallback off, a whole-stage compile failure throws
    // instead of silently running the stage interpreted — as the PQ
    // kernel did in r8-r12, when a generated line started with "||"
    // and the enclosing template's stripMargin ate it
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(Bench.consume(
      SparkEntry.registry("td_ann_pq").build(spark, sfDir)) > 0)
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("rel_filter_project prunes the scan to referenced columns only") {
    val p = plan("rel_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_comment"), readSchema)
  }

  test("rel_join_broadcast_agg joins dims with BroadcastHashJoin, no SMJ") {
    val p = plan("rel_join_broadcast_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rel_agg_group does map-side partial aggregation") {
    val p = plan("rel_agg_group")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("partial_"), p)
  }

  test("rel_sort_limit plans TakeOrderedAndProject, not a global sort") {
    val p = plan("rel_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("rel_bloom_join probes the sketch in a Filter on the fact scan") {
    val p = plan("rel_bloom_join")
    // the probe must be a scalar-subquery Filter directly over the
    // orders scan (pruning BEFORE the exact join), not a condition on
    // some join above it — the property that cuts the shuffled volume
    // at scale. DataFilters on the FileScan proves the placement.
    assert(p.contains("Filter graft_bloom_contains"), p)
    assert(p.contains("DataFilters: [graft_bloom_contains"), p)
  }

  test("rel_skew_salted_join shuffles on (key, salt), no broadcast") {
    val p = plan("rel_skew_salted_join")
    // the pattern targets dims too big to broadcast: assert the salted
    // equi-join actually shuffle-joins on the widened key
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("_salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup candidate generation is an equi-join, never a cross join") {
    for (name <- Seq("td_dedup_ngram_jaccard", "td_dedup_minhash_lsh",
        "td_dedup_simhash", "td_embed_neardup")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
    }
  }

  test("ANN brute force broadcasts the small query side") {
    val p = plan("td_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("the ANN kNN build blocks on cell id — TopKPerKey cuts, no corpus broadcast") {
    // the registry query's visible plan is truncated by its checkpoint
    // barriers (Scan ExistingRDD), so the gate inspects the
    // un-checkpointed build directly
    val p = graft.queries.SimilarityQueries.annKnnEdges(spark,
        graft.queries.DedupQueries.normalizedEmbeddings(spark, sfDir),
        k = 3, checkpoint = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the bounded centroid
    // broadcast (≤ √n rows by the ivf.cells sizing); the corpus-sized
    // candidate pairing must be an equi-join on the cell id, and both
    // k-cuts must ride the map-side TopKPerKey plan (shuffle O(n·k)).
    // Un-checkpointed, the probe subtree (and with it the one centroid
    // BNLJ) appears on BOTH sides of the cell join — the production
    // build materializes it once — so the bound is 2, and every BNLJ
    // must broadcast the bounded centroid side (IdentityBroadcastMode
    // over the vec_id < cells scan), never the corpus.
    val nested = p.linesIterator
      .count(_.contains("BroadcastNestedLoopJoin"))
    assert(nested <= 2, s"corpus-sized nested loop in:\n$p")
    assert(p.contains("LessThan(vec_id,16)"), p)
    // two cuts (probe top-2, neighbor top-3), each planned as a
    // partial + final TopKPerKey pair
    assert(p.linesIterator.count(_.contains("TopKPerKey")) >= 4, p)
  }

  test("incremental ANN blocks on cell id — no corpus broadcast or cross join") {
    // registry build minus its checkpoint barrier would need a
    // test-only escape like annKnnEdges'; the registry plan suffices
    // here because the candidate join and both TopKPerKey cuts sit
    // ABOVE the checkpoint — only the probe-scoring subtree truncates
    val p = plan("td_incremental_ann")
    assert(!p.contains("CartesianProduct"), p)
    // the pair join must be a hash equi-join on the cell id; the one
    // permissible broadcast below the checkpoint (the ≤cells centroid
    // table via TakeOrdered+limit) is invisible here, so NO nested
    // loop may appear at all in the visible plan
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.count(_.contains("TopKPerKey")) >= 2, p)
  }

  test("narrow text-analysis queries shuffle only for the final sort") {
    for (name <- Seq("td_fingerprint", "td_token_count", "td_quality_score")) {
      val p = plan(name)
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 2, s"$name has $exchanges exchanges:\n$p")
    }
  }

  test("codegen'd dot product stays out of interpreted eval in pair queries") {
    val p = plan("td_embed_neardup")
    assert(p.contains("graft_dot"), p)
  }

  test("td_contamination is a hash equi-join on the shingle hash") {
    val p = plan("td_contamination")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p) // benchmark side broadcasts
  }

  test("td_lm_surprisal broadcasts the trained model, never shuffles docs") {
    val p = plan("td_lm_surprisal")
    // ONE one-row ratio-map broadcast reaches the document side (a free
    // 1-row BNLJ); the bigram⋈context model join is itself broadcast
    // (both sides ≤ charset² rows); docs shuffle only for the final sort
    assert(p.linesIterator.count(_.contains("IdentityBroadcastMode")) == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.linesIterator.count(_.contains("Exchange rangepartitioning")) == 1, p)
  }

  test("narrow curation maps add no extra shuffles") {
    for (name <- Seq("td_repetition", "td_split_assign")) {
      val p = plan(name)
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 2, s"$name has $exchanges exchanges:\n$p")
    }
  }

  test("exchange budgets hold for the top-5 warm bench queries") {
    // VERDICT r17 #5: the IncrementalDedupSpec ==1 class-exchange pin,
    // generalized. For the five most expensive warm entries the
    // NON-ADAPTIVE physical plan's canonical ShuffleExchangeExec count
    // (and the ReusedExchange count where sharing is the design) is
    // pinned, so a Spark upgrade or refactor that splits a shared
    // exchange — re-running a corpus-wide pass once per consumer —
    // fails HERE instead of silently at the rungs. The two iterative
    // graph queries read 1 because their per-round plans sit behind
    // localCheckpoint barriers; what is pinned is exactly the visible
    // final-stage plan (a checkpoint-discipline regression would
    // surface as the whole iteration's exchange chain reappearing).
    val budgets = Seq(
      // (name, canonical forms, total exchanges, reused)
      // fuzzy_join_sig +1 / fuzzy_join +1 (round 18): the explicit
      // verifyWidth repartition of the candidate frame — the exchange
      // that keeps the levenshtein verify off AQE's one-partition
      // coalesce (warm 6.75->3.45 and 5.14->0.99 own-JVM). Dropping
      // back to the old counts means the verify went single-task again.
      ("rel_graph_pagerank", 1, 1, 0),
      ("rel_fuzzy_join_sig", 6, 6, 2),
      // lsh_recall +3 (round 18): +2 from the keyless verify-width
      // repartition inside withJ (one per pair frame: truth +
      // candidate), +1 from a duplicated ENSURE_REQUIREMENTS
      // hashpartitioning(a_id, b_id) exchange whose reuse was lost as a
      // side effect of the new repartitions (ADVICE r18 — the earlier
      // comment attributed all three to withJ). Keyless because a
      // repartition BY the distinct's own keys at the same width is
      // collapsed as redundant and AQE's one-partition coalesce returns
      // (measured: warm 4.07 with the collapse, 3.20 with the keyless
      // form, verify stage 5 -> 32 tasks).
      ("td_dedup_lsh_recall", 7, 7, 3),
      ("rel_graph_kcore", 1, 1, 0),
      ("rel_fuzzy_join", 2, 2, 0))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for ((name, forms, total, reused) <- budgets) {
        val p = SparkEntry.registry(name).build(spark, sfDir)
          .queryExecution.executedPlan
        val exchanges = p.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            => e
        }
        val reusedN = p.collect {
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec
            => r
        }.size
        val formsN = exchanges.map(_.canonicalized).distinct.size
        assert((formsN, exchanges.size, reusedN) == ((forms, total, reused)),
          s"$name exchange budget moved: canonical=$formsN (pinned $forms), " +
            s"total=${exchanges.size} (pinned $total), reused=$reusedN " +
            s"(pinned $reused) — a split shared exchange re-runs a " +
            "corpus-wide pass per consumer at the rungs")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
