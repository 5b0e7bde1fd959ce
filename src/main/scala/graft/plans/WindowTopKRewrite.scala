package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, EqualTo, Expression, IntegerLiteral, LessThan, LessThanOrEqual, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Injected optimizer rule — the (c)-tier Catalyst surface completing the
  * set (Expression ✓, LogicalPlan+Strategy+SparkPlan ✓, Rule[LogicalPlan]
  * here): recognize the ubiquitous window-top-k idiom
  *
  *   df.withColumn("rn", row_number().over(W.partitionBy(k).orderBy(o)))
  *     .filter(col("rn") <= k).drop("rn")
  *
  * and reroute it to [[TopKPerKeyNode]], whose partial/final bounded-heap
  * execution caps shuffle volume at keys·k rows where the window form
  * shuffles EVERY row (see TopKPerKey's doc). Spark's own
  * InferWindowGroupLimit prunes map-side too but still materializes the
  * rank and pays the windowed sort; this rewrite removes the Window node
  * outright when the rank is provably unused.
  *
  * The rewrite fires ONLY on the exact safe shape:
  *   - the Window computes exactly ONE expression, a row_number;
  *   - the Filter condition is a sole `rn <= k` / `rn < k` / `rn = 1`
  *     comparison on that row_number;
  *   - the Project above discards the rank column (so the operator's
  *     child-output contract holds);
  *   - the window has a non-empty ORDER BY (same total-order determinism
  *     contract as every rank window in this repo).
  */
object WindowTopKRewrite extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rn: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k))
        if a.exprId == rn.exprId && k > 0 => Some(k)
      case LessThan(a: Attribute, IntegerLiteral(k))
        if a.exprId == rn.exprId && k > 1 => Some(k - 1)
      case EqualTo(a: Attribute, IntegerLiteral(1))
        if a.exprId == rn.exprId => Some(1)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
        Filter(cond, w @ Window(Seq(al @ Alias(we: WindowExpression, _)),
          partSpec, orderSpec, child, _)))
        if we.windowFunction.isInstanceOf[RowNumber] &&
          orderSpec.nonEmpty && partSpec.nonEmpty =>
      val rn = al.toAttribute
      limitOf(cond, rn) match {
        case Some(k)
          if projList.forall(!_.references.contains(rn)) &&
            // every projected column must come from the window's child
            projList.forall(_.references.subsetOf(child.outputSet)) =>
          Project(projList, TopKPerKeyNode(partSpec, orderSpec, k, local = false, child))
        case _ => p
      }
  }
}
