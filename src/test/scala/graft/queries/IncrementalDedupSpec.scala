package graft.queries

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Admitted-pair-universe preservation for the round-16
  * td_incremental_dedup plan (VERDICT r15 #1): the linear-shuffle plan
  * (digest-class contraction + in-stage verification,
  * [[DedupQueries.incrementalDedup]]) must emit row-identical survivor
  * sets to the pair-materializing plan that literally mirrors the
  * oracle SQL ([[DedupQueries.incrementalDedupDirect]]) — on the driver
  * fixture AND on constructed corpora that force every contraction edge
  * case the fixture may not cover: mixed-parity duplicate classes,
  * sub-3-word texts on both sides, within-batch-only duplicates, and
  * the StressSmoke replica growth model (exact-dup even replicas +
  * suffix near-dup odd replicas) that made the r15 rung superlinear.
  */
class IncrementalDedupSpec extends AnyFunSuite with SparkTestSession {

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, text) => (id, text, "en", "unit") }
      .toDF("doc_id", "text", "lang", "source")
  }

  private def assertEquivalent(docs: DataFrame, clue: String): Unit = {
    val fast = DedupQueries.incrementalDedup(docs).collect().toSeq
    val direct = DedupQueries.incrementalDedupDirect(docs).collect().toSeq
    assert(fast == direct, s"$clue: staged plan diverges from direct plan\n" +
      s"fast=${fast.take(20)}\ndirect=${direct.take(20)}")
  }

  test("fixture equivalence: sf0.01 and sf0.001 survivor sets identical") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = graft.Tables.load(spark, s"/root/testdata/$sf", "documents")
      assertEquivalent(docs, sf)
    }
  }

  test("mixed-parity duplicate classes: exact leg drops, ver leg unaffected") {
    // text X exists as BOTH new (id 4, 14) and existing (id 1) — the
    // contraction must route its new members to the exact leg, keep X
    // on the EXISTING band side (a near-dup new doc of X must still be
    // dropped), and never band X as a new class
    val x = "alpha beta gamma delta epsilon zeta eta theta"
    val nearX = x + " iota" // J(x, nearX) = 6/7 >= 0.5
    val docs = docsDf(Seq(
      1L -> x, 4L -> x, 14L -> x,         // mixed class
      9L -> nearX,                        // new near-dup of existing X
      2L -> "totally different words about something else entirely here",
      24L -> "unrelated new document with its own vocabulary and phrasing"))
    assertEquivalent(docs, "mixed-parity classes")
    // and the semantics themselves: 4/14 exact-dropped, 9 near-dropped,
    // 24 admitted
    val out = DedupQueries.incrementalDedup(docs)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(24L), s"expected only 24 admitted, got $out")
  }

  test("short texts: never banded, exact leg still applies") {
    val docs = docsDf(Seq(
      1L -> "tiny one",        // existing, <3 words
      4L -> "tiny one",        // new exact dup of a short text -> dropped
      9L -> "tiny two",        // new short, no existing match -> admitted
      14L -> "x",              // new single word -> admitted
      2L -> "three word text")) // existing with hs, no new partner
    assertEquivalent(docs, "short texts")
    val out = DedupQueries.incrementalDedup(docs)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(9L, 14L), s"expected 9,14 admitted, got $out")
  }

  test("within-batch duplicates are NOT dropped (next full pass's job)") {
    val y = "brand new content shared by two arriving documents today"
    val docs = docsDf(Seq(
      4L -> y, 14L -> y,       // all-new duplicate class: both admitted
      1L -> "some existing corpus document with different words entirely"))
    assertEquivalent(docs, "within-batch dups")
    val out = DedupQueries.incrementalDedup(docs)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(4L, 14L), s"expected 4,14 admitted, got $out")
  }

  test("replica growth model: wide same-sig buckets stay equivalent") {
    // the r15 superlinear regime in miniature: base docs replicated
    // with parity-preserving id stride (10 % 5 == 0), even replicas
    // exact, odd replicas suffix near-dups — band buckets get one
    // class per odd replica plus the contracted even class
    val bases = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again today",
      1L -> "pack my box with five dozen liquor jugs before midnight",
      4L -> "sphinx of black quartz judge my vow said the editor",
      9L -> "how vexingly quick daft zebras jump over fences at dawn")
    val docs = docsDf(for {
      (id, text) <- bases
      rep <- 0L until 8L
    } yield (id + rep * 10L,
      if (rep % 2 == 0) text else s"$text r$rep"))
    assertEquivalent(docs, "replica growth model")
  }

  test("null and empty texts: class grouping matches the direct joins") {
    // null digests behave differently in groupBy (null keys group) vs
    // equi-joins (engine-defined struct-null equality) — whatever
    // Spark's semantics, the two plans must agree on them
    import spark.implicits._
    val docs = Seq[(Long, Option[String])](
      1L -> None, 4L -> None,          // null text, both parities
      2L -> Some(""), 9L -> Some(""),  // empty text, both parities
      14L -> Some("plain new document with enough words to shingle"))
      .map { case (id, t) => (id, t.orNull, "en", "unit") }
      .toDF("doc_id", "text", "lang", "source")
    assertEquivalent(docs, "null/empty texts")
  }

  test("fused merge-walk predicate ≡ jaccard >= 0.5 on the full size/overlap grid") {
    // round 17 (VERDICT r16 #1): the in-join verification is the
    // SortedJaccardGeHalf merge walk (integer 3·|∩| >= |A|+|B| with
    // length-ratio / accept-early / abandon-early exits folded into one
    // loop). This pins it cell-by-cell against the oracle-shaped
    // double test |∩|/|∪| >= 0.5 over EVERY (|A|, |B|, |∩|)
    // combination up to 8 non-empty — including the equality
    // boundaries 3·|∩| = |A|+|B| (J exactly 0.5, must verify) and
    // 2·min = max (the abandon bound's edge, must not over-prune),
    // where an off-by-one in any exit would silently change the
    // survivor set. (Both-empty arrays — where the double test is
    // 0/0 = NaN — are unreachable in the plan: banding requires
    // size(ws) >= 3, hence a non-empty shingle set.)
    // Interleaved value layouts exercise every merge-cursor path, not
    // just prefix overlaps.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val grid = for {
      sa <- 1 to 8; sb <- 1 to 8; i <- 0 to math.min(sa, sb)
      layout <- 0 to 1
    } yield
      if (layout == 0)
        ((1L to sa.toLong).toArray,                               // A = 1..sa
          ((1L to i.toLong) ++ (101L until (101L + sb - i))).toArray)
      else (
        // shared values interleave with exclusives on BOTH sides
        (0 until sa).map(k => if (k < i) k * 1000L else 500L + k * 1000L)
          .sorted.toArray,
        (0 until sb).map(k => if (k < i) k * 1000L else 700L + k * 1000L)
          .sorted.toArray)
    val df = grid.toDF("a_hs", "b_hs")
    val fused = graft.functions.GraftFunctions
      .jaccardGeHalfSorted(col("a_hs"), col("b_hs"))
    val oracle = size(array_intersect(col("a_hs"), col("b_hs")))
      .cast("double") / size(array_union(col("a_hs"), col("b_hs"))) >= 0.5
    val diverging = df.filter(fused =!= oracle).collect()
    assert(diverging.isEmpty,
      s"fused predicate diverges from jaccard>=0.5 on: ${diverging.toSeq}")
    // and null propagation matches the oracle's null jaccard
    val withNull = Seq((Array(1L, 2L), null: Array[Long]))
      .toDF("a_hs", "b_hs")
    assert(withNull.select(
      graft.functions.GraftFunctions
        .jaccardGeHalfSorted(col("a_hs"), col("b_hs"))).head().isNullAt(0))
  }

  test("delta-varint codec: roundtrip + encoded kernel ≡ array kernel on the grid") {
    // round 18 (VERDICT r17 #1): the band frames carry the shingle set
    // as a delta-varint binary and the join predicate merge-walks the
    // ENCODED form. Two pins: (a) encode∘decode is the identity on
    // sorted distinct P-reduced sets, including the adversarial
    // boundary values; (b) DeltaJaccardGeHalf over encoded pairs gives
    // the bit-identical verdict to SortedJaccardGeHalf over the arrays
    // on the full size/overlap grid — so swapping the carrier cannot
    // move the survivor set.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.{DeltaVarint, GraftFunctions}
    // (a) roundtrip, driver-side: empty, singleton 0, max P-1 values,
    // dense run, wide gaps
    val cases = Seq(
      Array.emptyLongArray,
      Array(0L), Array(graft.functions.Sketches.P - 1),
      (0L until 100L).toArray,
      Array(0L, 1L, graft.functions.Sketches.P / 2, graft.functions.Sketches.P - 1))
    for (c <- cases) {
      val rt = DeltaVarint.decode(DeltaVarint.encode(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(c)))
      assert(rt.toSeq == c.toSeq, s"roundtrip broke on ${c.toSeq}")
    }
    // (b) verdict identity through the SQL layer on the same grid the
    // array kernel is pinned on (plus the interleaved layouts)
    val grid = for {
      sa <- 1 to 8; sb <- 1 to 8; i <- 0 to math.min(sa, sb)
      layout <- 0 to 1
    } yield
      if (layout == 0)
        ((1L to sa.toLong).toArray,
          ((1L to i.toLong) ++ (101L until (101L + sb - i))).toArray)
      else (
        (0 until sa).map(k => if (k < i) k * 1000L else 500L + k * 1000L)
          .sorted.toArray,
        (0 until sb).map(k => if (k < i) k * 1000L else 700L + k * 1000L)
          .sorted.toArray)
    val df = grid.toDF("a_hs", "b_hs")
    val enc = GraftFunctions.jaccardGeHalfDelta(
      GraftFunctions.deltaVarint(col("a_hs")),
      GraftFunctions.deltaVarint(col("b_hs")))
    val arr = GraftFunctions.jaccardGeHalfSorted(col("a_hs"), col("b_hs"))
    val diverging = df.filter(enc =!= arr).collect()
    assert(diverging.isEmpty,
      s"encoded kernel diverges from array kernel on: ${diverging.toSeq}")
    // SQL-layer roundtrip too (decode expression under codegen):
    // decode(encode(x)) must be x for every grid row
    val rtDiverging = df.filter(GraftFunctions.deltaVarintDecode(
      GraftFunctions.deltaVarint(col("a_hs"))) =!= col("a_hs")).collect()
    assert(rtDiverging.isEmpty,
      s"SQL-layer roundtrip broke on: ${rtDiverging.toSeq}")
    // null propagation matches (null binary -> null verdict)
    val withNull = Seq((Array(1L, 2L), null: Array[Long])).toDF("a_hs", "b_hs")
    assert(withNull.select(GraftFunctions.jaccardGeHalfDelta(
      GraftFunctions.deltaVarint(col("a_hs")),
      GraftFunctions.deltaVarint(col("b_hs")))).head().isNullAt(0))
  }

  test("J = 0.5 boundary corpus: prefix near-dups stay equivalent") {
    // pairs engineered to land EXACTLY on the threshold: existing = 6
    // distinct words (4 shingles), new = its 4-word prefix (2 shingles,
    // both shared) -> J = 2/4 = 0.5, and 2·min = max on sizes too.
    // Enough pairs that a substantial fraction band-collides, so the
    // boundary is exercised THROUGH the join, not just the unit grid.
    val docs = docsDf((0L until 40L).flatMap { b =>
      val w = (0 until 6).map(j => s"w${b}_$j")
      Seq((b * 10L + 1L) -> w.mkString(" "),          // existing, 4 shingles
          (b * 10L + 4L) -> w.take(4).mkString(" "))  // new prefix, J = 0.5
    })
    assertEquivalent(docs, "J=0.5 prefix boundary")
  }

  test("class exchange is shared: ≤2 distinct canonical (dig, text) shuffles") {
    // round-17 review: the vacuous has_new >= 0 conjunct on the eB leg
    // exists only to align column pruning so the corpus-wide class
    // aggregation's exchange canonicalizes equal across consumers —
    // measured three materializations without it, two with it. This
    // pins the ≤2 count in the non-adaptive physical plan, so a future
    // optimizer that constant-folds the tautology (re-specializing the
    // aggregates back to three full corpus passes) fails HERE instead
    // of silently tripling the dominant linear stage at stress scale.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      val plan = DedupQueries.incrementalDedup(docs)
        .queryExecution.executedPlan
      val classExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("_dig") &&
              e.outputPartitioning.toString.contains("text") =>
          e.canonicalized
      }
      assert(classExchanges.nonEmpty, "expected (dig, text) class exchanges")
      val distinct = classExchanges.distinct.size
      // exactly ONE since the noPushdown pin (r17): the eB conjunct
      // aligns column pruning and the barrier keeps the shingling
      // precondition above the aggregate, so the filtered/unfiltered
      // split cannot re-specialize the corpus-wide pass
      assert(distinct == 1,
        s"class exchange specialized into $distinct canonical forms — " +
          "the pruning alignment (eB conjunct) or the noPushdown pin " +
          "regressed; the corpus-wide class pass would run that many times")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("the verify stage is the BucketAdmitJoin operator on flat band legs") {
    // round-18 plan-shape pin, rewritten with the verify stage itself:
    // the LEFT SEMI band join was measured GENUINELY QUADRATIC by the
    // deterministic work probe (pair evals ×3.99/octave — wide LSH
    // buckets scan to reject, accepts are 0.03% of evals), so the
    // verify stage is now the custom BucketAdmitJoinExec: (a) NO join
    // node carries the jaccard kernel anywhere in the plan, (b) the
    // operator appears exactly once, with its two FLAT band legs
    // hash-clustered on the single packed-LONG band key by exactly
    // two exchanges (the aggregate alternative wrapped both legs in
    // per-partial-group arrays — measured +45% band-frame exchange
    // bytes — and a union leg would null-pad; the operator keeps the
    // bytes the SMJ moved, byte for byte), and (c) its output is the
    // dig struct alone. A refactor or optimizer change reverting any
    // of these re-opens the n² cliff at the top rungs and fails HERE.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force the SHUFFLE variant — the rung shape this test pins; the
    // broadcast variant's selection is pinned separately below
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try {
        val docs =
          graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
        DedupQueries.incrementalDedup(docs).queryExecution.executedPlan
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
    val kernelJoins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.condition.exists(_.toString.contains("graft_jaccard")) => j
    }
    assert(kernelJoins.isEmpty,
      s"the jaccard kernel must not run as a join condition (pairwise " +
        s"bucket scans are quadratic):\n$kernelJoins")
    val admits = plan.collect {
      case b: graft.plans.BucketAdmitJoinExec => b
    }
    assert(admits.size == 1,
      s"expected exactly one BucketAdmitJoinExec, got ${admits.size}:\n$plan")
    val exec = admits.head
    assert(exec.left.output.head.dataType ==
        org.apache.spark.sql.types.LongType &&
      exec.right.output.head.dataType ==
        org.apache.spark.sql.types.LongType,
      "band key must be the packed long on both legs")
    assert(exec.left.output.map(_.dataType).count(_ ==
        org.apache.spark.sql.types.BinaryType) == 1 &&
      exec.right.output.last.dataType ==
        org.apache.spark.sql.types.BinaryType,
      "band legs must carry the delta-varint BINARY payload, flat")
    val bkeyExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
              if h.expressions.size == 1 &&
                h.expressions.head.dataType ==
                  org.apache.spark.sql.types.LongType &&
                h.expressions.head.toString.contains("bkey") => Some(e)
          case _ => None
        }
    }.flatten
    assert(bkeyExchanges.size == 2,
      s"expected the two flat band-leg exchanges on the packed band " +
        s"key, got ${bkeyExchanges.size}:\n$plan")
    assert(exec.output.size == 1 &&
      exec.output.head.dataType.isInstanceOf[
        org.apache.spark.sql.types.StructType],
      s"operator must emit the dig struct alone, got ${exec.output}")
  }

  test("small probe side selects the BROADCAST admit variant, exchange-free") {
    // mode selection mirrors Spark's join selection: under the default
    // autoBroadcastJoinThreshold the sf0.001 probe side is small, so
    // the planner must choose BucketAdmitBroadcastExec — the shape
    // that keeps bench-scale runs free of BOTH band-leg exchanges
    // (the pre-rewrite plan got this via AQE's broadcast semi join;
    // a custom node only gets static selection, pinned here)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try {
        val docs =
          graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
        DedupQueries.incrementalDedup(docs).queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val bcasts = plan.collect {
      case b: graft.plans.BucketAdmitBroadcastExec => b
    }
    assert(bcasts.size == 1,
      s"expected the broadcast admit variant at fixture scale:\n$plan")
    val bkeyExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("bkey") => e
    }
    assert(bkeyExchanges.isEmpty,
      s"broadcast variant must not shuffle either band leg:\n$plan")
  }

  test("shuffle and broadcast admit variants emit identical survivor sets") {
    // both variants run the same prefix-filter theorem from opposite
    // directions (index over existing vs index over broadcast new);
    // their survivor sets must be row-identical on the corpora that
    // exercise wide buckets and the J = 0.5 boundary
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val viaBroadcast = DedupQueries.incrementalDedup(docs).collect().toSeq
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val viaShuffle = DedupQueries.incrementalDedup(docs).collect().toSeq
      assert(viaShuffle == viaBroadcast,
        "shuffled and broadcast admit variants diverged")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("chunked existing-side walk emits the identical survivor set") {
    // round 19 (VERDICT r18 #5): the shuffled merge walk streams the
    // existing side in bounded chunks. chunkBytes=1 forces every
    // existing row into its own chunk — the maximal split — and the
    // survivor set must match the unsplit walk bit-for-bit on the
    // fixture AND the wide-bucket replica corpus (EXISTS distributes
    // over existing-side chunks; the admitted mask dedups emissions).
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevCh = spark.conf.getOption("spark.graft.dedup.bucketChunkBytes")
    val bases = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again today",
      1L -> "pack my box with five dozen liquor jugs before midnight",
      4L -> "sphinx of black quartz judge my vow said the editor")
    val replicas = docsDf(for {
      (id, text) <- bases
      rep <- 0L until 8L
    } yield (id + rep * 10L, if (rep % 2 == 0) text else s"$text r$rep"))
    val fixture = graft.Tables.load(spark, "/root/testdata/sf0.01",
      "documents")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((docs, clue) <- Seq((replicas, "replicas"), (fixture, "sf0.01"))) {
        val unsplit = DedupQueries.incrementalDedup(docs).collect().toSeq
        spark.conf.set("spark.graft.dedup.bucketChunkBytes", "1")
        val split =
          try DedupQueries.incrementalDedup(docs).collect().toSeq
          finally spark.conf.unset("spark.graft.dedup.bucketChunkBytes")
        assert(split == unsplit, s"$clue: chunked walk diverged")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      prevCh.foreach(
        spark.conf.set("spark.graft.dedup.bucketChunkBytes", _))
    }
  }

  test("spark.graft.dedup.bucketChunkBytes must be an integer >= 1, named on failure") {
    val chunkBytes = graft.GraftConf.DedupBucketChunkBytes
    val key = chunkBytes.name
    val conf = new org.apache.spark.sql.internal.SQLConf
    assert(chunkBytes(conf) == 8388608L)
    conf.setConfString(key, "1")
    assert(chunkBytes(conf) == 1L)
    for (bad <- Seq("abc", "0", "-5", "1.5", "")) {
      conf.setConfString(key, bad)
      val e = intercept[IllegalArgumentException](chunkBytes(conf))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"))
    }
    // a query on the shuffled walk surfaces that message
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(key, "0")
    try {
      val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      val e = intercept[Exception](
        DedupQueries.incrementalDedup(docs).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains(key) && m.contains("'0'")),
        msgs.mkString("\n"))
    } finally {
      spark.conf.unset(key)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("staged plan is deterministic across runs") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val a = DedupQueries.incrementalDedup(docs).collect().toSeq
    val b = DedupQueries.incrementalDedup(docs).collect().toSeq
    assert(a == b)
  }
}
