package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.sweep]], the one registry sweep behind Bench and the stress
  * harnesses: cold and warm per query, a settled warm shuffle reading,
  * NonFatal errors recorded per query, and the canary read at start
  * (twice), middle and end. */
class SweepSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("rel_agg_group", "rel_filter_project")
  private val failing = "rel_zz_failing"

  private lazy val swept = Bench.sweep(spark, dir,
    Bench.registry(names.contains) :+ (failing ->
      ((_: org.apache.spark.sql.SparkSession, _: String) =>
        throw new IllegalStateException("no such table"))))

  test("every query comes back in order with cold and warm times and shuffle") {
    val (results, _) = swept
    assert(results.map(_._1) == names.sorted :+ failing)
    for ((name, cold, warm, mb) <- results.filter(_._1 != failing)) {
      assert(cold.exists(_ > 0) && warm.exists(_ > 0), name)
      assert(mb >= 0, name)
    }
    // the aggregate's exchange bills its own job group
    assert(results.find(_._1 == "rel_agg_group").get._4 > 0)
  }

  test("a throwing query is recorded as an error, not a time") {
    val (_, cold, warm, mb) = swept._1.find(_._1 == failing).get
    assert(cold == Left("IllegalStateException: no such table"))
    assert(warm == cold && mb == 0.0)
  }

  test("the canary is read at start, start again, middle and end") {
    val (_, canaries) = swept
    assert(canaries.size == 4 && canaries.forall(_ > 0), canaries)
  }

  test("the stress record carries every key of the per-harness line it replaced") {
    val (results, canaries) = swept
    val line = Bench.renderLines(results, dir, canaries,
      "relstress_total", Some(1))._1
    val n = new ObjectMapper().readTree(line)
    val keys = n.fieldNames().asScala.toSet
    val stressKeys = Set("metric", "value", "unit", "warm_total", "scale",
      "n_errors", "canary", "canary_drift", "anchor_eligible", "queries",
      "warm", "warm_shuffle_mb", "errors")
    assert(stressKeys.subsetOf(keys), stressKeys -- keys)
    assert(n.get("metric").asText == "relstress_total")
    assert(n.get("scale").asInt == 1 && n.get("n_errors").asInt == 1)
    assert(n.get("canary").size == 4)
    assert(!n.get("anchor_eligible").asBoolean) // one query failed
    // the bench record itself stays unstamped
    val bench = new ObjectMapper().readTree(
      Bench.renderLines(results, dir, canaries)._1)
    assert(!bench.has("scale") && bench.get("metric").asText == "total")
  }
}
