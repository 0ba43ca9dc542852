package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-deployment wiring: a session built with
  * `withExtensions(new GraftExtensions)` (equivalent to
  * --conf spark.sql.extensions=graft.GraftExtensions) must expose the
  * custom functions AND plan through the custom operator, with no
  * runtime registration calls.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions injects functions, strategy, and optimizer rule") {
    // getOrCreate would silently return any existing session and skip the
    // extensions — stop it first; later suites re-create via getOrCreate
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.ui.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      // functions resolve from SQL without GraftFunctions.register
      val dot = spark.sql(
        """SELECT graft_dot(array(CAST(2 AS DOUBLE)),
          |                 array(CAST(3 AS DOUBLE))) AS d""".stripMargin)
        .collect().head.getDouble(0)
      assert(dot == 6.0)
      // every registered name resolves through the extensions path (the
      // builders list is the single source for both wirings)
      graft.functions.GraftFunctions.builders.foreach { case (id, _, _) =>
        assert(spark.sessionState.functionRegistry
          .functionExists(id), s"${id.funcName} missing via extensions")
      }
      // the ranking-filter rewrite plans through TopKPerKey
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      val df = spark.range(100)
        .selectExpr("id", "id % 5 AS g", "id * 7 % 13 AS v")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("id", "g", "v")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), plan)
      assert(df.count() == 10)
    } finally spark.stop()
  }

  test("install is idempotent and installs exactly what the extensions path injects") {
    // what GraftExtensions injects, recorded at the injection calls
    val strategies = ArrayBuffer.empty[SparkStrategy]
    val rules = ArrayBuffer.empty[Rule[LogicalPlan]]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectPlannerStrategy(b: StrategyBuilder): Unit =
        strategies += b(null)
      override def injectOptimizerRule(b: RuleBuilder): Unit =
        rules += b(null)
    })
    // the shared test session (the test above stopped any earlier one)
    val spark = Tables.localSession("graft-test", "4")
    Tables.pinDialect(spark)
    Tables.pinDialect(spark)
    val ex = spark.experimental
    for (s <- strategies)
      assert(ex.extraStrategies.count(_ == s) == 1, s"$s installed != once")
    for (r <- rules)
      assert(ex.extraOptimizations.count(_ == r) == 1, s"$r installed != once")
    assert(ex.extraStrategies.toSet == strategies.toSet)
    assert(ex.extraOptimizations.toSet == rules.toSet)
    assert(strategies.nonEmpty && rules.nonEmpty)
  }
}
