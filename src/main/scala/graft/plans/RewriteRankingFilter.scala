package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the declarative per-key top-k idiom
  *
  * {{{ Project(cols, Filter(rn <= k, Window(row_number() AS rn, ...))) }}}
  *
  * into the [[TopKPerKey]] operator whenever the rank column itself is
  * dropped by the outer projection. Users (and the SQL front door) keep
  * writing the standard window form; the physical plan gets the
  * bounded-heap operator instead of a full partition sort — the same
  * trick Catalyst itself applies for global `ORDER BY ... LIMIT k`
  * (TakeOrderedAndProject), generalized to per-key.
  *
  * Conservative by construction: fires only on a single row_number
  * window expression, a non-empty order spec, a simple `rn <= k` /
  * `rn < k` / `rn = 1` predicate, and an outer Project that does not
  * reference the rank attribute (so dropping it is observationally
  * equivalent).
  *
  * Memory trade-off (see [[TopKPerKeyExec]]): the heap state is
  * O(distinct keys × k) per task versus the window form's spillable
  * sort. For extreme key cardinalities set
  * `spark.graft.topk.rewrite=false` to keep the sort-based plan.
  */
object RewriteRankingFilterToTopK extends Rule[LogicalPlan] {

  /** Extract k from the supported predicate shapes over `rn`. */
  private def limitFromCond(cond: Expression, rn: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, _))
        if a.semanticEquals(rn) && k > 0 => Some(k)
      case LessThan(a: Attribute, Literal(k: Int, _))
        if a.semanticEquals(rn) && k > 1 => Some(k - 1)
      case EqualTo(a: Attribute, Literal(1, _)) if a.semanticEquals(rn) =>
        Some(1)
      case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute)
        if a.semanticEquals(rn) && k > 0 => Some(k)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!graft.GraftConf.TopkRewrite(conf)) return plan
    plan.transformUp {
    case p @ Project(projectList,
        Filter(cond, w @ Window(Seq(alias @ Alias(
          WindowExpression(RowNumber(), WindowSpecDefinition(ps, os, _)),
          _)), _, _, child, _)))
      // ps.nonEmpty: an empty PARTITION BY (global top-k) must keep
      // Spark's window/WindowGroupLimit plan — ClusteredDistribution
      // over zero clustering expressions is invalid.
      if ps.nonEmpty && os.nonEmpty &&
        limitFromCond(cond, alias.toAttribute).isDefined &&
        !projectList.exists(_.references.contains(alias.toAttribute)) =>
      val k = limitFromCond(cond, alias.toAttribute).get
      // Spark's InferWindowGroupLimit may already have inserted its
      // sort-based group-limit below the Window — ours replaces it
      val input = child match {
        case wgl: WindowGroupLimit => wgl.child
        case other => other
      }
      Project(projectList,
        TopKPerKey(ps, os, k,
          TopKPerKey(ps, os, k, input, partial = true)))
    }
  }
}
