package graft.tools

import graft.SparkEntry

/** Dev tool: sweep every registered query's physical plan and flag scale
  * hazards — cartesian products, nested-loop joins, and exchange counts.
  *
  * {{{ runMain graft.tools.PlanAudit <sfDir> }}}
  */
object PlanAudit {

  /** Unpartitioned logical Window count in a query's optimized plan — the
    * "global window" scale hazard (one partition walks every row). Queries
    * ending in Q.materialized show a LogicalRDD scan here (their window
    * audit lives in their own specs, via the exposed lazy builders).
    */
  def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-26s ${"exch"}%5s ${"bcast"}%5s ${"sorts"}%5s ${"gwin"}%5s  hazards")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).length
        // BroadcastNestedLoopJoin is NOT flagged: it is the intended plan
        // for the similarity queries' broadcast(query-set) × corpus cross
        // join (k rows against n — the loop is over the broadcast side).
        // An unpartitioned CartesianProduct is always a hazard.
        val hazards = Seq("CartesianProduct" -> n("CartesianProduct"))
          .filter(_._2 > 0).map { case (k, v) => s"$k x$v" }.mkString(", ")
        val bnlj = if (n("BroadcastNestedLoopJoin") > 0) s"bnlj=${n("BroadcastNestedLoopJoin")}" else ""
        println(f"$name%-26s ${n("Exchange hashpartitioning")}%5d ${n("BroadcastExchange")}%5d ${n("Sort ")}%5d ${unpartitionedWindows(df)}%5d  ${if (hazards.isEmpty) if (bnlj.isEmpty) "-" else bnlj else "!! " + hazards}")
      } catch { case e: Throwable =>
        println(f"$name%-26s PLAN FAILED: ${e.getMessage.take(60)}")
      }
      graft.ops.Q.releaseAll(spark)
    }
    spark.stop()
  }
}
