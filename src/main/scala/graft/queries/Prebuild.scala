package graft.queries

import org.apache.spark.sql.SparkSession

import graft.tables.Tables

/** One combined concurrent artifact phase for the bench session: the
  * LLM-index units and the core/CDC units share one
  * pool instead of running as two sequential phases, so the second
  * phase's builds back-fill the first's straggler tail (guide §2.6 —
  * r22: the tail of the LLM phase left the pool near-idle for its last
  * long unit while the whole CDC phase still waited). Units run
  * longest-first (LPT order on the measured estimates carried by each
  * unit list), which bounds the phase's makespan under the fixed pool.
  * This is the one artifact phase: Bench's warm-up calls it so the
  * serving queries (`d4_topk_ivf`, the CDC lookups, ...) measure the
  * recurring cost, not the one-time builds. */
object Prebuild {
  def all(s: SparkSession, sf: String): Unit =
    Tables.runNamedBuildUnits(
      (LlmQueries.prebuildUnits(s, sf) ++ CoreQueries.prebuildUnits(s, sf))
        .sortBy(-_._2)
        .map { case (n, _, u) => (n, u) })
}
