package graft.ops

import graft.SparkSpec

/** Machine-verifies the repo's broadcast-crossJoin convention (the r10
  * WindowAudit pattern applied to joins): a cross join is only acceptable
  * when its build side is a BROADCAST of a VALUE-bounded (not data-bounded)
  * frame — a one-row aggregate, a query/constant set, a k-bounded cut.
  * Every registered query's physical plan is swept (AQE off, so the
  * pre-runtime plan is inspected deterministically; read from the shared
  * [[PlanCorpus]]) and two invariants
  * hold:
  *
  *  1. NO `CartesianProductExec` anywhere, ever — an unpartitioned
  *     cartesian product is always a scale hazard; there is no allowlist.
  *  2. The set of queries planning a `BroadcastNestedLoopJoinExec` (the
  *     physical form of every `crossJoin(broadcast(...))`) must EQUAL the
  *     audited allowlist below. A new BNLJ over an unaudited frame fails;
  *     a stale entry (query improved or renamed) fails too.
  *
  * Like WindowAuditSpec, queries ending in `Q.materialized` are opaque to
  * this sweep (their optimized plan is an executed RDD scan); their
  * cross-join audits live in their own specs via the exposed lazy
  * builders.
  */
class BroadcastAuditSpec extends SparkSpec {

  /** query → why its broadcast nested-loop build side is value-bounded
    * (audited r11). Three recurring shapes: ONE-ROW aggregate (a grand
    * total / corpus stat every row needs), a FIXED QUERY SET (the ANN
    * retrieval shape — the nested loop rides the tiny broadcast side,
    * never the corpus), and a CONSTANT dimension grid (calendar days,
    * codebooks, shard tables).
    */
  private val audited: Map[String, String] = Map(
    "d36_tfidf" -> "one-row corpus doc-count (idf denominator)",
    "d71_bpe_merge_round" -> "one-row winning-pair argmax, applied in two stages",
    "d74_weighted_systematic" -> "one-row total-weight row",
    "d81_interleave_schedule" -> "distinct language set (value-bounded)",
    "d83_rendezvous_shards" -> "constant 32/33-row shard tables (assign + grow + report)",
    "d85_psi_drift" -> "one-row split totals",
    "d88_temperature_mix" -> "one-row mixture totals",
    "d92_heldout_perplexity" -> "one-row vocab/total stats",
    "e50_cosine_topk" -> "fixed 5-query set x corpus — loop rides the broadcast side",
    "e51b_ann_recall" -> "fixed query set in the recall compare",
    "e52_cosine_expr" -> "fixed query set (e50 via the native expr)",
    "e53_ann_ivf" -> "fixed query set x centroid table (both value-bounded)",
    "e55_mips_topk" -> "fixed query set x corpus",
    "e56_kmeans_step" -> "K-row centroid table",
    "e57_pq_codes" -> "constant per-subspace codebooks",
    "e58_matryoshka_recall" -> "fixed query set at each prefix width",
    "e59_hamming_topk" -> "fixed query set over packed signatures",
    "e59b_hamming_recall" -> "fixed query set + one-row recall row",
    "e63_matryoshka_grid" -> "fixed query set x constant prefix-width grid",
    "e64_asymmetric_topk" -> "fixed uncompressed query set x PQ corpus",
    "e65_ivfpq_recall" -> "fixed query set + one-row recall row",
    "e67_rrf_fusion" -> "fixed query set in both retrieval arms",
    "e69_hard_negatives" -> "fixed query set mining its negatives",
    "e70_radius_search" -> "fixed query set x corpus radius cut",
    "e72_ivf_balance" -> "one-row total/ideal-load row",
    "e73_nn_descent" -> "k-bounded neighbor lists + one-row bounds across the local-join stages",
    "e78_intra_list_diversity" -> "k-bounded top-10 lists per fixed query",
    "e85_sq_search" -> "fixed query set x int8-coded corpus — loop rides the broadcast side",
    "e85b_sq_recall" -> "fixed query set in both the SQ and exact arms",
    "e86_sq_refine_sweep" -> "fixed query set + constant 3-row refinement grid",
    "e79_pq_distortion" -> "constant codebooks + one-row share total",
    "e80_bm25_topk" -> "9-row keyword query table",
    "e82_ndcg_eval" -> "fixed query set + one-row ideal-DCG",
    "g65_kcore" -> "one-row converged flag",
    "g75_degree_histogram" -> "one-row node total",
    "q47_gap_fill" -> "bounded calendar-day grid",
    "q63_exact_deciles" -> "one-row grand totals (two-phase shard bounds)",
    "q64_fk_orphans" -> "six one-row per-relationship orphan summaries",
    "q69_active_users" -> "one-row total",
    "q73_ratio_to_report" -> "one-row grand total",
    "q78_abc_pareto" -> "one-row revenue total",
    "q83_linear_interp" -> "bounded day grid",
    "q84_dormant_value" -> "one-row corpus max-date",
    "q88_feature_store" -> "one-row corpus max-date",
    "q91_seasonality" -> "one-row annual total",
    "q99_cusum_changepoint" -> "one-row mean/threshold stats",
    "q101_expectations" -> "one-row expectation summary",
    "q103_benford" -> "one-row grand total over the 9-row digit report")

  test("cross joins appear only as broadcasts of audited value-bounded frames") {
    val facts = PlanCorpus.facts(spark, sf0001)
    val cartesian = facts.collect { case (n, f) if f.cartesian > 0 => n }.toSeq
    val bnlj = facts.collect { case (n, f) if f.bnlj > 0 => n -> f.bnlj }
    assert(cartesian.isEmpty,
      s"CartesianProductExec (never acceptable — broadcast the bounded " +
        s"side or add an equi/range key): ${cartesian.sorted.mkString(", ")}")
    val unaudited = bnlj.keySet -- audited.keySet
    val stale = audited.keySet -- bnlj.keySet
    assert(unaudited.isEmpty,
      s"NEW broadcast nested-loop joins (audit the build side is " +
        s"value-bounded, then allowlist with a justification): " +
        unaudited.toSeq.sorted.map(n => s"$n(x${bnlj(n)})").mkString(", "))
    assert(stale.isEmpty,
      s"STALE allowlist entries (query no longer plans a BNLJ — remove " +
        s"them): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
