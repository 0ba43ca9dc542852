package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins Butterfly.perVertexCounts' vertex-priority counting against a
  * naive per-pair C(shared, 2) oracle: hand-computed bicliques, the
  * no-butterfly degenerate shapes, a seeded random bipartite graph, and
  * the wedge-volume reduction that is the operator's reason to exist.
  * Fixtures keep the two sides in disjoint id ranges (A < 100 <= B) —
  * the operator folds both directions into one vertex space, so an id
  * shared across sides would alias.
  */
class ButterflySpec extends AnyFunSuite with SparkTestSession {

  private def counts(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Butterfly.perVertexCounts(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Same computation through the dense-regime windowed shape (probe
    * disabled), so every correctness fixture can pin BOTH regimes. */
  private def countsWindowed(edges: Seq[(Long, Long)]): Map[Long, Long] =
    withConf(graft.GraftConf.ButterflyProbePairBound.name, "0") { counts(edges) }

  /** Naive oracle: for every same-side pair, C(|common neighbours|, 2)
    * butterflies attributed to both pair members. */
  private def naive(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.distinct
    def sideCounts(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val nbrs = pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val ids = nbrs.keys.toSeq.sorted
      val out = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for (i <- ids.indices; j <- i + 1 until ids.size) {
        val shared = (nbrs(ids(i)) & nbrs(ids(j))).size.toLong
        val bf = shared * (shared - 1) / 2
        if (bf > 0) { out(ids(i)) += bf; out(ids(j)) += bf }
      }
      out.toMap
    }
    sideCounts(es) ++ sideCounts(es.map(_.swap)) // disjoint id ranges
  }

  test("K2,2 is one butterfly, credited to all four vertices") {
    val k22 = Seq(1L -> 101L, 1L -> 102L, 2L -> 101L, 2L -> 102L)
    assert(counts(k22) == Map(1L -> 1L, 2L -> 1L, 101L -> 1L, 102L -> 1L))
  }

  test("K2,3: three butterflies; A-side in all 3, B-side in 2 each") {
    val k23 = for (a <- Seq(1L, 2L); b <- Seq(101L, 102L, 103L)) yield a -> b
    assert(counts(k23) ==
      Map(1L -> 3L, 2L -> 3L, 101L -> 2L, 102L -> 2L, 103L -> 2L))
  }

  test("paths and stars contain no butterflies") {
    assert(counts(Seq(1L -> 101L, 2L -> 101L, 2L -> 102L)).isEmpty)
    assert(counts((101L to 160L).map(1L -> _)).isEmpty)
  }

  test("duplicate edge rows do not inflate counts") {
    val k22 = Seq(1L -> 101L, 1L -> 102L, 2L -> 101L, 2L -> 102L)
    assert(counts(k22 ++ k22) == counts(k22))
  }

  test("matches the naive per-pair oracle on a random bipartite graph") {
    val rnd = new scala.util.Random(42)
    val edges = for {
      a <- 1L to 40L; b <- 101L to 130L if rnd.nextDouble() < 0.15
    } yield a -> b
    val expected = naive(edges)
    assert(expected.nonEmpty, "fixture should contain butterflies")
    assert(counts(edges) == expected)
  }

  test("broadcast and windowed attribution regimes agree with the oracle") {
    val rnd = new scala.util.Random(9)
    val edges = for {
      a <- 1L to 35L; b <- 101L to 128L if rnd.nextDouble() < 0.2
    } yield a -> b
    val expected = naive(edges)
    assert(expected.nonEmpty, "fixture should contain butterflies")
    assert(counts(edges) == expected, "broadcast regime")
    assert(countsWindowed(edges) == expected, "windowed regime")
  }

  test("ids past the packable range use the struct priority and stay exact") {
    // ids ≥ 2^31 cannot ride the packed single-long priority — a silent
    // wrap would scramble the ≻ order and miscount; the range check must
    // route them through the struct encoding with identical results
    val off = 3000000000L // > 2^31
    val rnd = new scala.util.Random(13)
    val edges = for {
      a <- 1L to 30L; b <- 101L to 125L if rnd.nextDouble() < 0.2
    } yield (a + off) -> (b + off)
    val expected = naive(edges)
    assert(expected.nonEmpty, "fixture should contain butterflies")
    assert(counts(edges) == expected)
    import spark.implicits._
    val plan = Butterfly.wedges(edges.toDF("a", "b"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("shiftleft"),
      s"out-of-range ids must not take the packed priority:\n${plan.take(2000)}")
  }

  test("in-range ids ride the packed single-long priority") {
    import spark.implicits._
    val edges = Seq(1L -> 101L, 1L -> 102L, 2L -> 101L, 2L -> 102L)
    val plan = Butterfly.wedges(edges.toDF("a", "b"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("shiftleft"),
      s"packable ids should use the 8-byte packed priority:\n${plan.take(2000)}")
  }

  test("globalCount equals the naive total; null on butterfly-free graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = for {
      a <- 1L to 40L; b <- 101L to 130L if rnd.nextDouble() < 0.15
    } yield a -> b
    // each butterfly credits its 4 vertices once → naive total = Σ/4
    val expected = naive(edges).values.sum / 4
    assert(expected > 0, "fixture should contain butterflies")
    val got = Butterfly.globalCount(edges.toDF("a", "b")).collect()
    assert(got.length == 1 && got(0).getLong(0) == expected)
    val empty = Butterfly.globalCount(
      Seq(1L -> 101L, 2L -> 102L).toDF("a", "b")).collect()
    assert(empty.length == 1 && empty(0).isNullAt(0))
    // wedges EXIST here (1 and 2 share 101) but every pair has k = 1:
    // the k >= 2 pair filter must leave the sum an empty-set NULL,
    // matching the DuckDB oracle's HAVING count(*) >= 2 — not a 0 from
    // summing C(1, 2) terms (a sparse regenerated dataset could land
    // exactly on this shape and hash-mismatch otherwise).
    val wedgyNoButterfly = Butterfly.globalCount(
      Seq(1L -> 101L, 2L -> 101L, 2L -> 102L).toDF("a", "b")).collect()
    assert(wedgyNoButterfly.length == 1 && wedgyNoButterfly(0).isNullAt(0))
  }

  test("windowed regime: one wedge exchange, one window sort, no union") {
    // scale-shape history: round 8's union-of-branches let column
    // pruning make the two branch exchanges structurally different, so
    // the wedge set shuffled (and enumerated) twice; round 9 pinned a
    // single REUSED exchange, but the union still executed the window
    // SORT once per branch — half the query's warm time recomputing an
    // identical window. The round-10 shape emits endpoint and center
    // terms from ONE projection (conditional explode above the window),
    // so the gate is: exactly one wedge (u, w) exchange, exactly one
    // Window node, and no ReusedExchange/Union above it at all.
    // AQE off so the static plan is inspectable directly.
    import spark.implicits._
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val edges = (for { a <- 1L to 20L; b <- 101L to 115L
        if (a * 7 + b) % 3 != 0 } yield (a, b)).toDF("a", "b")
      // executedPlan forced INSIDE withConf: the deferred build reads
      // plan-shaping confs when the plan is first demanded, not when
      // the frame is composed
      val p = withConf(graft.GraftConf.ButterflyProbePairBound.name, "0") {
        Butterfly.perVertexCounts(edges).queryExecution.executedPlan.toString
      }
      val wedgeExchanges = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(u") &&
          !l.contains("ReusedExchange"))
      assert(wedgeExchanges == 1,
        s"wedge set must shuffle exactly once, found $wedgeExchanges:\n$p")
      val windows = p.linesIterator.count(_.contains("Window ["))
      assert(windows == 1,
        s"the window over the wedge set must execute exactly once, found $windows:\n$p")
      // above the window = the attribution; the und-cache provenance
      // BELOW it legitimately contains a Union and a reused distinct
      // exchange (both edge directions from one exchange)
      val above = p.linesIterator.takeWhile(!_.contains("Window [")).toSeq
      assert(!above.exists(l => l.contains("ReusedExchange") || l.contains("Union")),
        s"single-consumer shape must not branch over the wedge set:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("broadcast regime never hash-partitions the wedge set") {
    // the adaptive path's point: when the probe proves the pair table
    // small, the wedge set is joined map-side against the broadcast
    // pair table and NEVER shuffled by (u, w); the pair table itself is
    // served from the probe's cache (InMemoryTableScan), not re-agged
    import spark.implicits._
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val edges = (for { a <- 1L to 20L; b <- 101L to 115L
        if (a * 7 + b) % 3 != 0 } yield (a, b)).toDF("a", "b")
      val df = Butterfly.perVertexCounts(edges)
      val p = df.queryExecution.executedPlan.toString
      // the windowed shape's wedge movement is the REPARTITION_BY_COL
      // (u, w) exchange + count window — neither may appear live here.
      // (An ENSURE_REQUIREMENTS (u, w) exchange still shows inside the
      // InMemoryRelation provenance text: that is the probe's already-
      // materialized cache plan, not something this query re-executes.)
      assert(!p.contains("REPARTITION_BY_COL"),
        s"broadcast regime must not repartition the wedge set by (u, w):\n$p")
      assert(!p.contains("Window"),
        s"broadcast regime must not use the count window:\n$p")
      assert(p.contains("BroadcastHashJoin [u"),
        s"centers must join the broadcast pair table:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"the pair table must come from the probe's cache:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("globalCount primes the bounded caches perVertexCounts reuses") {
    // the natural query pair (global total, then per-vertex counts)
    // must enumerate once: when tier 1 proves the wedge set
    // cache-sized, globalCount persists the same canonical wedge/pair
    // plans the perVertexCounts probe uses, so the second query's
    // probe and final plan are cache reads. The observable pin: after
    // a globalCount ACTION, the canonical wedge plan reports a live
    // storage level (cache-manager lookup by canonicalized plan).
    import spark.implicits._
    val edges = (for { a <- 1L to 18L; b <- 101L to 113L
      if (a * 5 + b) % 4 != 0 } yield (a, b)).toDF("a", "b")
    Butterfly.globalCount(edges).collect()
    assert(Butterfly.wedges(edges).storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
      "globalCount must leave the bounded wedge cache primed")
    // lifecycle hook: a long-lived session iterating many graphs drops
    // THIS graph's entries without touching unrelated caches
    Butterfly.releaseCaches(edges)
    assert(Butterfly.wedges(edges).storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE,
      "releaseCaches must drop the wedge cache")
  }

  test("middle regime keeps the materialized wedge cache feeding the windowed shape") {
    // probe allowed, broadcast forbidden (bcastLimit 0): the probe
    // materializes the wedge cache to count pairs, guesses wrong, and
    // falls back to the windowed shape — which must CONSUME the cache
    // it just paid for, not unpersist it and re-enumerate (ADVICE r10)
    import spark.implicits._
    val edges = (for { a <- 1L to 18L; b <- 101L to 113L
      if (a * 3 + b) % 4 != 0 } yield (a, b)).toDF("a", "b")
    try withConf(graft.GraftConf.ButterflyBroadcastPairLimit.name, "0") {
      val expected = naive(for { a <- 1L to 18L; b <- 101L to 113L
        if (a * 3 + b) % 4 != 0 } yield (a, b))
      val got = Butterfly.perVertexCounts(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, "middle regime must stay exact")
      assert(Butterfly.wedges(edges).storageLevel !=
          org.apache.spark.storage.StorageLevel.NONE,
        "windowed fallback must keep the probe's wedge cache")
    } finally Butterfly.releaseCaches(edges)
  }

  test("globalCount/perVertexCounts compose with zero jobs and zero caches (VERDICT r11 #5)") {
    // plan composition must be free: the sizing aggregates, the
    // dominated-edge bound, and the probe all defer to the first
    // action, and nothing is persisted or registered until then
    import spark.implicits._
    val edges = Seq(31L -> 901L, 31L -> 902L, 32L -> 901L, 32L -> 902L)
      .toDF("a", "b")
    val group = "bf-lazy-build"
    spark.sparkContext.setJobGroup(group, "ButterflySpec")
    val (g, pv) = try {
      (Butterfly.globalCount(edges), Butterfly.perVertexCounts(edges))
    } finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
      "plan composition must run zero Spark jobs")
    assert(!Butterfly.hasPersistedEntries(edges),
      "plan composition must register zero caches")
    // the frames are fully composable before execution: fixed schema,
    // downstream operators resolve against it
    assert(g.columns.toSeq == Seq("butterflies"))
    assert(pv.columns.toSeq == Seq("id", "butterflies"))
    val derived = pv.filter(org.apache.spark.sql.functions.col("id") < 900L)
      .orderBy("id")
    // first action pays the deferred sizing/probe work, results exact
    assert(g.collect()(0).getLong(0) == 1L)
    assert(derived.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      == Seq(31L -> 1L, 32L -> 1L))
    assert(pv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(31L -> 1L, 32L -> 1L, 901L -> 1L, 902L -> 1L))
    assert(Butterfly.hasPersistedEntries(edges),
      "execution in the bounded regime registers its caches")
    Butterfly.releaseCaches(edges)
    assert(!Butterfly.hasPersistedEntries(edges))
  }

  test("a re-requested graph reuses the built plan: zero sizing jobs (VERDICT r12 #1)") {
    // every call mints a fresh closure, but the sizing ladder (the
    // adjacency aggregate, the dominated-edge bound, the pair-count
    // probe) is a pure function of (operator, edge set, decision
    // confs) over fixed data — the round-12 vp regression was warm
    // bench runs re-paying it (2.3-3.2 s at sf0.1). The built-frame
    // memo must make a SECOND call's build jobless.
    import spark.implicits._
    val edges = Seq(61L -> 931L, 61L -> 932L, 62L -> 931L, 62L -> 932L)
      .toDF("a", "b")
    val first = Butterfly.perVertexCounts(edges)
    assert(first.count() == 4L)
    val group = "bf-built-memo"
    spark.sparkContext.setJobGroup(group, "ButterflySpec")
    val second = try {
      val f = Butterfly.perVertexCounts(edges)
      f.queryExecution.executedPlan // forces build + optimize
      f
    } finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
      "a repeat build of the same (graph, confs) must run ZERO sizing jobs")
    assert(second.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(61L -> 1L, 62L -> 1L, 931L -> 1L, 932L -> 1L))
    // a changed decision conf must re-decide (fresh memo key) ...
    val windowed = withConf(graft.GraftConf.ButterflyProbePairBound.name, "0") {
      Butterfly.perVertexCounts(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(windowed == Map(61L -> 1L, 62L -> 1L, 931L -> 1L, 932L -> 1L))
    // ... and release drops the memo with the caches: the next build
    // re-runs the sizing ladder (observable as jobs again)
    Butterfly.releaseCaches(edges)
    spark.sparkContext.setJobGroup(group + "-post", "ButterflySpec")
    try Butterfly.perVertexCounts(edges).queryExecution.executedPlan
    finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker
        .getJobIdsForGroup(group + "-post").nonEmpty,
      "after releaseCaches the sizing ladder must run again (the memo " +
        "must not outlive the lifecycle hook)")
    Butterfly.releaseCaches(edges)
  }

  test("re-executing a frame after releaseCaches recomputes without resurrecting caches") {
    // the deferral must not freeze the first action's cache state: the
    // build memoizes the expensive sizing work, but cache substitution
    // re-resolves per action. After release, a pre-release frame must
    // (a) still answer correctly, and (b) run as a plain recompute —
    // no stale InMemoryRelation re-persisting storage the registry no
    // longer tracks (a second release could never free it)
    import spark.implicits._
    val edges = Seq(51L -> 921L, 51L -> 922L, 52L -> 921L, 52L -> 922L,
      53L -> 921L, 53L -> 922L).toDF("a", "b")
    val g = Butterfly.globalCount(edges)
    assert(g.collect()(0).getLong(0) == 3L) // C(3,2) hub pairs
    assert(Butterfly.hasPersistedEntries(edges))
    Butterfly.releaseCaches(edges)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    assert(g.collect()(0).getLong(0) == 3L,
      "a pre-release frame must stay correct after release")
    assert(!Butterfly.hasPersistedEntries(edges),
      "re-execution must not re-register registry entries")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty,
      s"re-execution resurrected unmanaged cache storage: $leaked")
  }

  test("releaseCaches survives plan-shaping conf changes between build and release") {
    // ADVICE r11: release used to re-derive the wedge plan under the
    // CURRENT confs and unpersist by canonical-plan match — a conf
    // changed since build rebuilt a different plan and stranded the
    // original entries. The registry releases the exact frames that
    // were persisted, so the conf change is irrelevant.
    import spark.implicits._
    val edges = Seq(41L -> 911L, 41L -> 912L, 42L -> 911L, 42L -> 912L)
      .toDF("a", "b")
    Butterfly.perVertexCounts(edges).collect()
    assert(Butterfly.hasPersistedEntries(edges))
    withConf("spark.graft.pagerank.broadcastNodeLimit", "0") {
      Butterfly.releaseCaches(edges)
    }
    assert(!Butterfly.hasPersistedEntries(edges),
      "a conf change between build and release must not strand entries")
  }

  test("releaseCaches on a never-cached graph runs zero jobs") {
    // the O(E) sizing aggregate inside adjacency would be pure waste
    // when there is nothing to release; the undirected-plan probe must
    // short-circuit before any action (ADVICE r10)
    import spark.implicits._
    val edges = Seq(7L -> 701L, 8L -> 701L, 7L -> 702L, 8L -> 702L)
      .toDF("a", "b")
    // group-scoped job count: suites share one SparkContext and may
    // run in parallel, so a global listener would see THEIR jobs too
    val group = "bf-release-nocache"
    spark.sparkContext.setJobGroup(group, "ButterflySpec")
    try Butterfly.releaseCaches(edges)
    finally spark.sparkContext.clearJobGroup()
    val jobs =
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    assert(jobs == 0,
      s"releaseCaches with nothing cached ran $jobs job(s)")
  }

  test("hub wedges are walked from the hub, not squared through it") {
    // hub customer 1 with 60 suppliers; customer 2 shares two of them.
    // Naive wedge volume through shared suppliers is sum_b C(deg_b, 2)
    // = C(60,2) + ... no — through shared CUSTOMERS for supplier pairs:
    // sum_c C(deg_c, 2) = C(60,2) + C(2,2) = 1771. Vertex priority
    // enumerates only the 2 wedges (1, 2, b101) and (1, 2, b102):
    // the hub dominates every center it starts through, and nothing
    // out-ranks the hub to use IT as a center.
    import spark.implicits._
    val edges = (101L to 160L).map(1L -> _) ++ Seq(2L -> 101L, 2L -> 102L)
    val wedgeRows = Butterfly.wedges(edges.toDF("a", "b")).collect()
    assert(wedgeRows.length == 2, s"expected 2 wedges, got ${wedgeRows.length}")
    assert(counts(edges) == Map(1L -> 1L, 2L -> 1L, 101L -> 1L, 102L -> 1L))
  }
}
