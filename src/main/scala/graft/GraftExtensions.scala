package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** SparkSessionExtensions entry point for cluster deployments:
  * `--conf spark.sql.extensions=graft.GraftExtensions` makes the engine's
  * custom expressions available as SQL functions in every session.
  * (Local/embedded callers can equivalently use GraftFunctions.register.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {

  /** The engine's planner strategies and optimizer rules, declared once
    * for both wirings: the extensions path injects them, [[install]]
    * appends them to a running session. */
  val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.TopKPerKeyStrategy, graft.plans.BucketAdmitJoinStrategy)
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.RewriteRankingFilterToTopK, graft.plans.RewriteDeferredBuild)

  /** Append whichever [[strategies]] and [[rules]] `spark` lacks to its
    * experimental methods; idempotent, so every entry point may call it. */
  def install(spark: SparkSession): SparkSession = {
    val ex = spark.experimental
    ex.extraStrategies ++= strategies.filterNot(ex.extraStrategies.contains)
    ex.extraOptimizations ++= rules.filterNot(ex.extraOptimizations.contains)
    spark
  }
}
