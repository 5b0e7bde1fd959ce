package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** The plan facts the three registry sweeps check ([[WindowAuditSpec]],
  * [[BroadcastAuditSpec]], [[PruningAuditSpec]]), built once per test JVM:
  * every registered query is built ONCE per scale, with AQE off so the
  * physical plan is the deterministic pre-runtime plan, and the facts are
  * read off its plans. The test session registers graft's rules before
  * its first query (`GraftSession.setup`), so the facts do not depend on
  * which suite or query happened to build first.
  */
object PlanCorpus {

  /** One query's facts.
    *
    * @param unpartitionedWindows unpartitioned logical Windows in the
    *   optimized plan ([[graft.tools.PlanAudit.unpartitionedWindows]])
    * @param cartesian `CartesianProductExec` nodes in the physical plan
    * @param bnlj `BroadcastNestedLoopJoinExec` nodes in the physical plan
    * @param scans (input table, columns read) for each parquet scan of an
    *   input table in the physical plan
    */
  final case class Facts(
      unpartitionedWindows: Int,
      cartesian: Int,
      bnlj: Int,
      scans: Seq[(String, Int)])

  /** The input tables a scan is attributed to. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val built = scala.collection.mutable.Map[String, Map[String, Facts]]()

  /** Every registered query's facts at `sfDir`, built on first use. */
  def facts(spark: SparkSession, sfDir: String): Map[String, Facts] =
    synchronized(built.getOrElseUpdate(sfDir, build(spark, sfDir)))

  private def build(spark: SparkSession, sfDir: String): Map[String, Facts] = {
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.headOption.map(_.toString)
            .flatMap(p => Tables.find(t => p.endsWith(s"$t.parquet")))
            .map(t => (t, f.requiredSchema.size))
      }.flatten
      val facts = Facts(
        graft.tools.PlanAudit.unpartitionedWindows(df),
        plan.collect { case c: CartesianProductExec => c }.size,
        plan.collect { case b: BroadcastNestedLoopJoinExec => b }.size,
        scans)
      Q.releaseAll(spark)
      name -> facts
    }.toMap
    finally saved match {
      case Some(v) => conf.set("spark.sql.adaptive.enabled", v)
      case None => conf.unset("spark.sql.adaptive.enabled")
    }
  }
}
