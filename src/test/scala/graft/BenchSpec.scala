package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench output contract (VERDICT r4 item 5): totals count
  * SUCCEEDED queries only, both lines are valid JSON, and both carry
  * `n_errors` so a round with broken queries can never compare favorably
  * on `value` alone.
  */
class BenchSpec extends AnyFunSuite with SparkTestSession {

  private val mapper = new ObjectMapper

  private val results: Seq[Bench.Res] = Seq(
    ("q_ok_fast", Right(1.5), Right(0.5), 2.25),
    ("q_ok_slow", Right(4.0), Right(3.0), 0.0),
    ("q_broken", Left("StreamingQueryException: boom \"quoted\"\nline2"),
      Left("StreamingQueryException: boom \"quoted\"\nline2"), 0.0))

  private val (full, compact) =
    Bench.renderLines(results, "/tmp/sf0.001", Seq(0.50, 0.55, 1.00))

  test("both lines parse as JSON") {
    mapper.readTree(full)
    mapper.readTree(compact)
  }

  test("totals cover succeeded queries only and error counts are explicit") {
    for (line <- Seq(full, compact)) {
      val n = mapper.readTree(line)
      assert(n.get("value").asDouble() === 5.5) // 1.5 + 4.0, error excluded
      assert(n.get("cold_total").asDouble() === 5.5)
      assert(n.get("warm_total").asDouble() === 3.5)
      assert(n.get("n_queries").asInt() === 3)
      assert(n.get("n_succeeded").asInt() === 2)
      assert(n.get("n_errors").asInt() === 1)
      assert(n.get("errors").has("q_broken"))
    }
  }

  test("full line carries per-query detail; erroring query reports -1, not a time") {
    val n = mapper.readTree(full)
    assert(n.get("queries").get("q_broken").asDouble() === -1.0)
    assert(n.get("warm").get("q_broken").asDouble() === -1.0)
    assert(n.get("queries").get("q_ok_fast").asDouble() === 1.5)
    assert(n.get("warm_shuffle_mb").get("q_ok_fast").asDouble() === 2.25)
  }

  test("the full line stamps the non-default graft confs; the compact line does not") {
    assert(mapper.readTree(full).get("confs").size == 0)
    val sink = GraftConf.StreamSink.name
    spark.conf.set(sink, "noop")
    val (f, c) =
      try Bench.renderLines(results, "/tmp/sf",
        confs = GraftConf.nonDefaults(spark))
      finally spark.conf.unset(sink)
    val confs = mapper.readTree(f).get("confs")
    assert(confs.size == 1 && confs.get(sink).asText == "noop", f)
    assert(!mapper.readTree(c).has("confs"))
  }

  test("warm_shuffle_mb keeps six decimals, so a 1% change at fixture scale shows") {
    // two decimals printed 0.38 or 0.37 for a query whose warm shuffle
    // is 0.374739 MB on every run
    val (f, _) = Bench.renderLines(
      Seq(("rel_orc_roundtrip", Right(1.0), Right(0.5), 0.374739)), "/tmp/sf")
    assert(f.contains("\"warm_shuffle_mb\":{\"rel_orc_roundtrip\":0.374739}"))
    assert(mapper.readTree(f).get("warm_shuffle_mb")
      .get("rel_orc_roundtrip").asDouble() === 0.374739)
  }

  test("full line's three per-query maps cover one identical key set (schema contract)") {
    // VERDICT r13 #7: cold (`queries`), `warm` and `warm_shuffle_mb`
    // must ship EVERY round over the SAME keys — a round whose full
    // file lacks one of the maps (r12 had no warm detail) makes the
    // next method-level diff archaeology
    val n = mapper.readTree(full)
    import scala.jdk.CollectionConverters._
    def keys(f: String): Set[String] =
      n.get(f).fieldNames().asScala.toSet
    val cold = keys("queries")
    assert(cold === results.map(_._1).toSet)
    assert(keys("warm") === cold)
    assert(keys("warm_shuffle_mb") === cold)
  }

  test("both lines carry the contention canary and its drift ratio") {
    for (line <- Seq(full, compact)) {
      val n = mapper.readTree(line)
      assert(n.get("canary").size() === 3)
      assert(n.get("canary").get(0).asDouble() === 0.50)
      assert(n.get("canary_drift").asDouble() === 2.0) // 1.00 / 0.50
    }
    // no canaries recorded -> sentinel, never a fake 1.0
    val (f2, _) = Bench.renderLines(results, "/tmp/sf0.001")
    assert(mapper.readTree(f2).get("canary_drift").asDouble() === -1.0)
  }

  // VERDICT r12 #3: record status (anchor-eligible or not) is stamped
  // into the line instead of re-derived by every consumer each round.
  test("anchor_eligible demands drift <= 1.15 AND zero errors") {
    // this record: drift 2.0 -> ineligible on both lines
    for (line <- Seq(full, compact))
      assert(!mapper.readTree(line).get("anchor_eligible").asBoolean())
    val clean: Seq[Bench.Res] = Seq(
      ("q_a", Right(1.0), Right(0.8), 1.0),
      ("q_b", Right(2.0), Right(1.5), 2.0))
    // steady box, no errors -> eligible
    val (f1, c1) = Bench.renderLines(clean, "/tmp/sf", Seq(0.50, 0.52, 0.55))
    for (line <- Seq(f1, c1))
      assert(mapper.readTree(line).get("anchor_eligible").asBoolean())
    // steady box but an error -> ineligible (a broken sweep can never
    // anchor a cross-round comparison, however quiet the box was)
    val (f2, _) = Bench.renderLines(results, "/tmp/sf", Seq(0.50, 0.52))
    assert(!mapper.readTree(f2).get("anchor_eligible").asBoolean())
    // drift just over the bar -> ineligible
    val (f3, _) = Bench.renderLines(clean, "/tmp/sf", Seq(0.50, 0.58))
    assert(!mapper.readTree(f3).get("anchor_eligible").asBoolean())
    // no canaries recorded -> ineligible, never a default-true
    val (f4, _) = Bench.renderLines(clean, "/tmp/sf")
    assert(!mapper.readTree(f4).get("anchor_eligible").asBoolean())
    // EMPTY sweep (a filter matching zero queries) -> ineligible even
    // on a steady box: 0 errors over 0 queries is vacuous, and a
    // consumer anchoring on the value-0 record would report a phantom
    // regression against every real total
    val (f5, _) = Bench.renderLines(Seq.empty, "/tmp/sf",
      Seq(0.50, 0.52, 0.55))
    assert(!mapper.readTree(f5).get("anchor_eligible").asBoolean())
  }

  test("compact line bounds error text and lists only succeeded in slowest map") {
    val n = mapper.readTree(compact)
    assert(!n.get("queries").has("q_broken"))
    assert(n.get("queries").has("q_ok_slow"))
    assert(n.get("errors").get("q_broken").asText().length <= 60)
  }

  // VERDICT r8 #3: JVM heap aging inverted warm > cold on an idle box
  // (rel_pivot 1.44 -> 6.97 s); per-query warm timings get the canary's
  // min-after-GC discipline so they are usable for regression gating.
  // VERDICT r11 #2: the trigger is ANY warm > cold, not only > 1.5x —
  // labelprop's 1.38x inversion escaped the old bound and cost a
  // cross-round watch cycle as a phantom regression.
  test("ANY warm exceeding cold is re-measured once and the min kept") {
    var reran = 0
    val rerun = () => { reran += 1; Right(1.6): Either[String, Double] }
    // aged warm (7.0 > 1.44) -> retry, min(7.0, 1.6) wins
    assert(Bench.settledWarm(Right(1.44), Right(7.0), rerun) === Right(1.6))
    assert(reran === 1)
    // a MODERATE inversion (5.67 vs 4.12 = 1.38x, the labelprop shape
    // the 1.5x bound let through) must now trigger the re-measure too
    assert(Bench.settledWarm(Right(4.12), Right(5.67), rerun) === Right(1.6))
    assert(reran === 2)
    reran = 1
    // warm at-or-below cold -> first warm stands, no retry spent
    assert(Bench.settledWarm(Right(4.0), Right(3.0), rerun) === Right(3.0))
    assert(reran === 1)
    // genuine regression: retry still slow -> reported honestly
    val slowRerun = () => { reran += 1; Right(6.8): Either[String, Double] }
    assert(Bench.settledWarm(Right(1.44), Right(7.0), slowRerun) === Right(6.8))
    // errors pass through untouched, retry never invoked on them
    val boom = Left("boom"): Either[String, Double]
    assert(Bench.settledWarm(boom, boom, rerun) === boom)
    assert(reran === 2)
  }

  // VERDICT r9 #6: bench_full.json is overwritten each round, so
  // cross-round per-query diffing was lossy; the detail line also lands
  // in a round-stamped sibling inferred from the driver's artifacts.
  test("detail file gets a round-stamped sibling named from BENCH_r artifacts") {
    val files = Seq("BENCH_r01.json", "BENCH_r09.json", "CORRECTNESS_r09.json",
      "bench_full.json", "notes.txt")
    assert(Bench.roundStampedPath("bench_full.json", files)
      === Some("bench_full_r10.json"))
    // no driver artifacts (ad-hoc run outside the repo root) -> no stamp
    assert(Bench.roundStampedPath("bench_full.json", Seq("whatever.json"))
      === None)
    // custom SPARK_GRAFT_BENCH_OUT paths stamp the same way
    assert(Bench.roundStampedPath("/tmp/out.json", Seq("BENCH_r04.json"))
      === Some("/tmp/out_r05.json"))
  }

  // Round 13: the bench action must execute the query's FULL
  // user-visible output. count() lets the optimizer eliminate a
  // row-preserving left join whose right side aggregates on the join
  // key — td_dup_spans benched at 0.0 MB shuffle while its real plan
  // shuffles a gigabyte at 100×.
  test("guardedRecordWrite never clobbers an anchor_eligible record") {
    // VERDICT r16 #3: the overwrite gotcha, fixed in code. An existing
    // eligible record diverts later writes to an -unpromoted sibling;
    // ineligible/missing records are overwritten; force overrides.
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-benchguard-")
    val rec = dir.resolve("bench_full_r99.json").toString
    val eligible = """{"metric":"total","anchor_eligible":true,"v":1}"""
    val noisy = """{"metric":"total","anchor_eligible":false,"v":2}"""
    // missing file: plain write
    assert(Bench.guardedRecordWrite(rec, noisy, force = false) == rec)
    // ineligible previous run: overwritten (an eligible run SHOULD win)
    assert(Bench.guardedRecordWrite(rec, eligible, force = false) == rec)
    assert(Files.readString(Paths.get(rec)) == eligible)
    // eligible record in place: the new content lands in the
    // bench_unpromoted/ subdirectory (ADVICE r17 — root-level side
    // files sorted next to real records and were mistakable for them)
    val diverted = Bench.guardedRecordWrite(rec, noisy, force = false)
    assert(diverted != rec && diverted.contains("-unpromoted-")
      && diverted.endsWith(".json")
      && Paths.get(diverted).getParent.getFileName.toString
        == "bench_unpromoted")
    assert(Files.readString(Paths.get(rec)) == eligible,
      "the promoted record must survive byte-for-byte")
    assert(Files.readString(Paths.get(diverted)) == noisy)
    // force: explicit overwrite is still possible
    assert(Bench.guardedRecordWrite(rec, noisy, force = true) == rec)
    assert(Files.readString(Paths.get(rec)) == noisy)
  }

  test("consume executes subtrees that count() would eliminate") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions._
    val acc = sess.sparkContext.longAccumulator("consumed")
    val expensive = sess.range(100).as[Long]
      .map { x => acc.add(1); x }.toDF("id")
      .groupBy("id").agg(count(lit(1)).as("c"))
    val q = sess.range(100).toDF("id").join(expensive, Seq("id"), "left")
    Bench.consume(q)
    assert(acc.value === 100, "the aggregate side must actually run")
    // the hazard consume exists for: the same frame under count()
    // skips some or all of the aggregate subtree
    acc.reset()
    q.count()
    assert(acc.value < 100,
      "count() no longer prunes the join — consume may be simplifiable")
  }
}
