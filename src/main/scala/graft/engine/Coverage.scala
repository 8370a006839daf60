package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Coverage metadata semantics — the reference's cache-or-fetch brain
  * (reference: binance_data_framework/database_handler.py:257-307),
  * re-expressed as declarative joins over epoch-millis columns.
  *
  * Scale notes: `meta` is one row per series — tiny at any scale — so every
  * probe join is a broadcast hash join on the equi-part of the condition;
  * the interval containment is a post-join filter, never a nested-loop join.
  * `now` is always injected (deterministic tests / oracle parity), never
  * `current_timestamp()` (SURVEY §7.3).
  */
object Coverage {

  /** S8 metadata derivation: per-series min/max stored time (reference:
    * database_handler.py:219-229). One partial+final hash agg. */
  def deriveMeta(df: DataFrame, keyCols: Seq[String], tsCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(unix_millis(min(col(tsCol))).as("cov_start_ms"),
        unix_millis(max(col(tsCol))).as("cov_end_ms"))

  /** J1/J2 coverage probe. `requests` needs (keyCols..., req_start_ms,
    * req_end_ms); `meta` as produced by [[deriveMeta]].
    *
    *  - exact hit: requested range contained in
    *    [cov_start, cov_end + dur - 1] (database_handler.py:296-298);
    *  - freshness hit: requested end exceeds coverage but coverage end is
    *    within 2×dur of `now` (database_handler.py:288-295).
    *
    * Two DELIBERATE divergences from the reference's freshness arithmetic
    * (same spirit as the documented 30m timeframe-bug fix in
    * [[Timeframes]]):
    *  1. the reference tests `abs(now - (cov_end + dur - 1)) < 2*dur` with
    *     no containment of the requested START — it will report a cache hit
    *     for a request that begins BEFORE stored coverage, then serve a
    *     range scan missing that head. Here a freshness hit additionally
    *     requires `req_start >= cov_start` (strict start containment);
    *  2. our staleness bound is `now - cov_end <= 2*dur` on the bucket
    *     START (inclusive at exactly 2×dur) rather than a strict `<` on the
    *     bucket end + dur - 1 — requests landing exactly on the boundary
    *     classify as fresh here, stale there. The truth table in
    *     CoverageSpec pins both choices.
    */
  def probe(requests: DataFrame, meta: DataFrame, keyCols: Seq[String],
      durMs: Long, nowMs: Long): DataFrame =
    requests.join(broadcast(meta), keyCols, "left")
      .withColumn("covered", covered(durMs))
      .withColumn("fresh_hit", freshHit(durMs, nowMs))

  /** The exact-hit flag over (req_start_ms, req_end_ms, cov_start_ms,
    * cov_end_ms); false when the series has no coverage row (NULL cov_*). */
  def covered(durMs: Long): Column = coalesce(coveredRaw(durMs), lit(false))

  /** The freshness-hit flag over the same four columns; never true
    * together with [[covered]]. */
  def freshHit(durMs: Long, nowMs: Long): Column =
    coalesce(!coveredRaw(durMs) && col("req_start_ms") >= col("cov_start_ms") &&
      lit(nowMs) - col("cov_end_ms") <= lit(2 * durMs), lit(false))

  private def coveredRaw(durMs: Long): Column =
    col("req_start_ms") >= col("cov_start_ms") &&
      col("req_end_ms") <= col("cov_end_ms") + lit(durMs) - 1

  /** Gap detection (the reference's planned missing-range fetch,
    * plan.md:79-80): requested bucket starts minus covered bucket starts —
    * a left anti join, shuffle-free when `covered` is small enough to
    * broadcast, SMJ otherwise. */
  def gaps(requestedBuckets: DataFrame, coveredBuckets: DataFrame,
      bucketCol: String): DataFrame =
    requestedBuckets.join(coveredBuckets, Seq(bucketCol), "left_anti")
}
