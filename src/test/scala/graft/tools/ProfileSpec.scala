package graft.tools

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Profile]]: one registry query cold then warm, per-run rows and
  * stage tables, the exchange line, and the one-line JSON record whose
  * keys earlier single-query tooling emitted. */
class ProfileSpec extends AnyFunSuite with graft.SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"
  private val name = "rel_agg_group"

  test("cold and warm runs report the registry's rows, stages and a JSON line") {
    val lines = ArrayBuffer.empty[String]
    val report = Profile.run(spark, name, sfDir, lines += _)
    val expected = graft.SparkEntry.registry(name).build(spark, sfDir)
      .collect().length.toLong
    assert(expected > 0)
    assert(report.cold.rows == expected && report.warm.rows == expected)
    assert(report.cold.stages.nonEmpty && report.warm.stages.nonEmpty)
    // AQE submits stages from a thread pool; rows are named by the plan
    // node they computed, never by the pool's call site
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val names = (report.cold.stages ++ report.warm.stages).map(_.name)
    assert(!names.exists(_.contains("CompletableFuture")), names)
    assert(names.exists(n => n.startsWith("Exchange") ||
      n.startsWith("HashAggregate")), names)
    for (r <- Seq(report.cold, report.warm)) {
      assert(r.buildSec >= 0 && r.execSec >= 0 &&
        r.sec + 1e-6 >= r.buildSec + r.execSec)
      assert(r.phasesMs.keySet == Set("analysis", "optimization", "planning"))
      assert(r.phasesMs.values.forall(_ >= 0))
      assert(r.codegenClasses >= 0 && r.codegenMs >= 0)
      assert(r.batches.isEmpty) // a batch query starts no stream
    }
    assert(lines.exists(_.matches(s"\\[profile\\] cold $name rows=$expected .* " +
      "build=\\d+\\.\\d+ s analysis=\\d+ optimization=\\d+ planning=\\d+ ms " +
      "exec=\\d+\\.\\d+ s codegen=\\d+ classes/\\d+ ms batches=0")), lines)
    assert(lines.exists(_.startsWith(s"[profile] warm $name rows=$expected")))
    assert(lines.contains(report.exchanges))
    assert(report.exchanges.matches(
      s"\\[profile\\] $name: \\d+ exchanges, \\d+ canonical forms, " +
        "\\d+ ReusedExchange nodes"), report.exchanges)
    val json = new ObjectMapper().readTree(report.json)
    assert(json.fieldNames().asScala.toSet == Set("query", "cold_sec",
      "cold_shuffle_mb", "warm_sec", "warm_shuffle_mb", "sf"))
    assert(json.get("query").asText == name && json.get("sf").asText == sfDir)
    assert(json.get("cold_sec").asDouble > 0 && json.get("warm_sec").asDouble > 0)
    // the record carries each run's shuffle MB as its [profile] line does
    for (tag <- Seq("cold", "warm")) {
      val mb = lines.collectFirst {
        case l if l.startsWith(s"[profile] $tag $name ") =>
          "shuffle_mb=(\\S+)".r.findFirstMatchIn(l).get.group(1)
      }.get
      assert(json.get(s"${tag}_shuffle_mb").asDouble == mb.toDouble, report.json)
    }
    assert(report.cold.shuffleMb > 0, "rel_agg_group shuffles")
  }

  test("a streaming query prints each micro-batch's durationMs") {
    val st = "st_state_v2_dedup"
    val lines = ArrayBuffer.empty[String]
    val report = Profile.run(spark, st, sfDir, lines += _)
    for ((tag, r) <- Seq("cold" -> report.cold, "warm" -> report.warm)) {
      assert(r.batches.nonEmpty, tag)
      assert(r.batches.forall(_.durationMs.contains("triggerExecution")), tag)
      assert(lines.exists(l => l.startsWith(s"[profile] $tag batch ") &&
        l.contains("triggerExecution=")), lines)
      assert(lines.exists(_.startsWith(
        s"[profile] $tag $st rows=${r.rows} ")) && r.rows > 0)
    }
  }

  test("td_incremental_dedup prints its admit operator's metrics on both runs") {
    val q = "td_incremental_dedup"
    val lines = ArrayBuffer.empty[String]
    val report = Profile.run(spark, q, sfDir, lines += _)
    for ((tag, r) <- Seq("cold" -> report.cold, "warm" -> report.warm)) {
      val admits = r.ops.filter(_._1.startsWith("BucketAdmit"))
      assert(admits.size == 1, r.ops)
      val (node, m) = admits.head
      assert(m("admitted") > 0 && m("pairs") >= m("admitted"), m)
      assert(lines.contains(s"[profile] $tag op $node " +
        m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")), lines)
      // every stage starts and ends inside its run
      val endMs = r.startMs + (r.sec * 1000).toLong + 50
      assert(r.stages.forall(s => s.submitMs >= r.startMs &&
        s.completeMs >= s.submitMs && s.completeMs <= endMs), r.stages)
    }
  }

  test("an unknown query fails naming it") {
    val e = intercept[IllegalArgumentException](
      Profile.run(spark, "no_such_query", sfDir, _ => ()))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("args are <query> [dir] [key=value ...]; a conf without '=' fails naming it") {
    assert(Profile.parseArgs(Seq("q", "/d", "a=1", "b=x=y")) ==
      (("q", "/d", Seq("a" -> "1", "b" -> "x=y"))))
    assert(Profile.parseArgs(Seq("q", "a=1"))._3 == Seq("a" -> "1"))
    for (bad <- Seq("spark.sql.shuffle.partitions", "=32")) {
      val e = intercept[IllegalArgumentException](
        Profile.parseArgs(Seq("q", "/d", "a=1", bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    assert(intercept[IllegalArgumentException](Profile.parseArgs(Nil))
      .getMessage.contains("usage"))
  }
}
