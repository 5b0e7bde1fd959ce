package graft.ops

import graft.SparkSpec

/** Machine-verifies COLUMN PRUNING across every registered query's physical
  * plan (the WindowAudit/BroadcastAudit discipline applied to scans, read
  * from the shared [[PlanCorpus]]): a
  * parquet scan of a wide driver table (≥ [[PruningAuditSpec.WideCols]]
  * columns) must not read the FULL schema unless the query is on the
  * audited allowlist with a justification — at warehouse scale the scan IS
  * the dominant cost, and a projection that silently stops reaching the
  * reader multiplies it by the table's width ratio. Set equality both
  * ways: a new full-width scan fails, and a stale allowlist entry (query
  * improved) fails too.
  *
  * Like the sibling audits, `Q.materialized` queries are opaque here
  * (executed-RDD plans carry no scan nodes); their scan behavior is
  * covered by their own specs via the exposed lazy builders.
  */
class PruningAuditSpec extends SparkSpec {

  /** Minimum table width for the full-scan rule to apply — narrow dims
    * (region 3, nation 4) are fully read by design and carry no
    * meaningful pruning win.
    */
  private val WideCols = 5

  /** query → why its full-width scan of a wide table is the honest plan
    * (audited r11). ONE query in the whole registry reads a wide driver
    * table in full — even the whole-row operators (q43 profile, q65 diff,
    * q90 evolution, d58 source report) turn out to prune at least one
    * column or read sub-width tables.
    */
  private val audited: Map[String, String] = Map(
    "q02_filter_scan" -> "filters+projection together touch all 6 orders columns — the full read is the query")

  test("wide-table scans prune columns except on the audited full-read set") {
    // full widths of the input tables at the audit sf
    val widths: Map[String, Int] = PlanCorpus.Tables
      .map(t => t -> spark.read.parquet(s"$sf0001/$t.parquet").schema.size)
      .toMap
    val fullReaders = PlanCorpus.facts(spark, sf0001).map { case (name, f) =>
      name -> f.scans.collect {
        case (t, read) if widths(t) >= WideCols && read >= widths(t) => t
      }.toSet
    }.filter(_._2.nonEmpty)
    val unaudited = fullReaders.keySet -- audited.keySet
    val stale = audited.keySet -- fullReaders.keySet
    assert(unaudited.isEmpty,
      s"NEW full-width wide-table scans (select only the needed columns " +
        s"before heavy ops, or audit + allowlist): " +
        unaudited.toSeq.sorted
          .map(n => s"$n(${fullReaders(n).toSeq.sorted.mkString("+")})")
          .mkString(", "))
    assert(stale.isEmpty,
      s"STALE allowlist entries (query now prunes — remove them): " +
        stale.toSeq.sorted.mkString(", "))
  }
}
