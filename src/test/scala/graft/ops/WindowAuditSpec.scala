package graft.ops

import graft.SparkSpec

/** Turns the repo's bounded-window CONVENTION into an assertion: an
  * unpartitioned Window (`Window.orderBy` with no partitionBy) serializes
  * its whole input through ONE task, so it is only acceptable over a
  * VALUE-bounded (not data-bounded) input — one row per shard / calendar
  * day / dimension / top-V cut. Every registered query's optimized logical
  * plan is swept (read from the shared [[PlanCorpus]]); the set of queries
  * carrying an unpartitioned Window must EQUAL the audited allowlist
  * below — a new global window over raw data fails, and a stale allowlist
  * entry (query improved or renamed) fails too, keeping the audit honest.
  *
  * Materialized queries (Q.materialized ends in an eager localCheckpoint,
  * so their optimized plan is an opaque RDD scan) are out of this sweep's
  * reach by construction; their plan audits live in their own specs via
  * the exposed lazy builders (see SimilaritySpec / GridLshSpec).
  */
class WindowAuditSpec extends SparkSpec {

  /** query → why its unpartitioned window is value-bounded (audited r10). */
  private val audited: Map[String, String] = Map(
    "q61_peak_concurrency" -> "two-phase prefix sum: ranks one row per calendar-day shard",
    "q63_exact_deciles" -> "two-phase prefix sum: one row per value-magnitude shard",
    "q78_abc_pareto" -> "two-phase prefix sum: one row per revenue-magnitude shard",
    "q100_stats_histogram" -> "two-phase prefix sum over fixed histogram-bucket shards",
    "q99_cusum_changepoint" -> "daily-aggregate walk: one row per calendar day, plus argmax over days",
    "q92_cumulative_uniques" -> "cumsum over the calendar-day grid (sequence of days)",
    "q93_leaderboard_churn" -> "re-ranks a limit(20) top-k cut",
    "q98_skyline" -> "two-phase prefix over value-magnitude shards",
    "q81_chi_square" -> "grand-total window over segmentxpriority contingency cells",
    "g75_degree_histogram" -> "suffix sum over log2 degree buckets (<=64 rows)",
    "e81_subspace_rebalance" -> "snake ranking over the 64 embedding dims",
    "d74_weighted_systematic" -> "two-phase prefix sum: one row per weight-magnitude shard",
    "d80_zipf_fit" -> "ranks a limit(V) top-token cut",
    "d81_interleave_schedule" -> "indexes the distinct language set",
    "d82_packed_layout" -> "two-phase prefix sum: one row per token-budget shard")

  test("unpartitioned windows appear exactly on the audited value-bounded set") {
    val offenders = PlanCorpus.facts(spark, sf0001).collect {
      case (name, f) if f.unpartitionedWindows > 0 => name -> f.unpartitionedWindows
    }
    val unaudited = offenders.keySet -- audited.keySet
    val stale = audited.keySet -- offenders.keySet
    assert(unaudited.isEmpty,
      s"NEW unpartitioned windows (audit the input is value-bounded, then " +
        s"allowlist with a justification): ${unaudited.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"STALE allowlist entries (query no longer has a global window — " +
        s"remove them): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
