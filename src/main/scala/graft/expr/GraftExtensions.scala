package graft.expr

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers the engine's native expressions with a SparkSession, making
  * them available to SQL and to `call_function`.
  *
  * Two registration paths:
  *   - `spark.sql.extensions=graft.expr.GraftExtensions` at session build
  *     (the production path — survives session cloning), or
  *   - `GraftFunctions.register(spark)` on an existing session (the
  *     harness/test path).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftFunctions.cosineSimDescriptor)
    e.injectFunction(GraftFunctions.dotProductDescriptor)
    e.injectPlannerStrategy(graft.plans.TopKPerKeyStrategy.apply)
    e.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    // manifest-sized broadcast decisions for versioned-table joins
    // (matches pre- AND post-pushdown relation shapes, so the batch this
    // injection lands in does not matter)
    e.injectOptimizerRule(_ => graft.sources.VTableBroadcastHints)
  }
}

object GraftFunctions {

  private[expr] val cosineSimDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"cosine_sim expects 2 arguments, got ${exprs.length}")
      CosineSimilarity(exprs.head, exprs(1))
    })

  private[expr] val dotProductDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"dot_product expects 2 arguments, got ${exprs.length}")
      DotProduct(exprs.head, exprs(1))
    })

  /** Imperative registration for an already-built session. Reuses the
    * descriptor's builder so wrong arity fails with a clear message rather
    * than an IndexOutOfBoundsException from inside analysis. Idempotent:
    * re-registering every query would log a "function replaced" WARN per
    * call and pollute harness output (the round-1 bench JSON drowned in it).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("cosine_sim")))
      reg.createOrReplaceTempFunction(
        "cosine_sim", cosineSimDescriptor._3, "built-in")
    if (!reg.functionExists(FunctionIdentifier("dot_product")))
      reg.createOrReplaceTempFunction(
        "dot_product", dotProductDescriptor._3, "built-in")
    // planner strategy for the custom per-key top-k physical operator
    // (idempotent, same reasoning as above)
    graft.plans.TopKPerKey.install(spark)
    // optimizer rule routing the window-top-k idiom to that operator
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.WindowTopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.WindowTopKRewrite
    // manifest-sized broadcast decisions for versioned-table joins; the
    // last optimizer batch runs AFTER scan pushdown, so the rule sees
    // the V1ScanWrapper shape and can reuse the scan's pruned estimate
    if (!spark.experimental.extraOptimizations
        .contains(graft.sources.VTableBroadcastHints))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.sources.VTableBroadcastHints
  }
}
