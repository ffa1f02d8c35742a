package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The per-corpus exact price histograms — the two value distributions the
 *  whole robust-stat family (sketch_stats, q52 percentiles, q69
 *  equiheight, q87 Tukey on lineitem; q80 MAD, q86 Bowley, q88
 *  winsorized on orders) is a pure
 *  functional of. Built once per (application, corpus) via
 *  [[ScalableRank.sharedValueCounts]]; each table is bounded by its VALUE
 *  DOMAIN (~600k distinct price cents regardless of row count), so after
 *  the one build scan every consumer runs in O(domain) — no further
 *  corpus scans. This is the classic warehouse statistics artifact
 *  (equi-height histogram source), kept exact. */
object SharedHistograms {
  /** (cents, __c) over lineitem l_extendedprice in exact decimal cents. */
  def lineitemPriceCounts(spark: SparkSession, dir: String): DataFrame =
    ScalableRank.sharedValueCounts(spark, dir, "lineitem_extendedprice_cents", "cents") {
      Tables.lineitem(spark, dir).select(
        expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as decimal(38,0))")
          .cast("long").as("cents"))
    }

  /** (cents, __c) over orders o_totalprice in exact decimal cents. */
  def ordersPriceCounts(spark: SparkSession, dir: String): DataFrame =
    ScalableRank.sharedValueCounts(spark, dir, "orders_totalprice_cents", "cents") {
      Tables.orders(spark, dir).select(
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))")
          .cast("long").as("cents"))
    }

  /** The per-corpus PART-REVENUE RANK artifact the revenue-concentration
   *  family (q74 ABC, q75 Gini, q76 Lorenz) is a pure functional of:
   *  one row per part — `(l_partkey, r = lifetime revenue cents,
   *  i = exact global row number ascending by (r, l_partkey),
   *  cum = inclusive ascending prefix sum of r)` — plus the two scalars
   *  every consumer needs, `n` (parts) and `t` (total cents). Before this
   *  artifact each of the three queries re-ran the SAME 600M-row lineitem
   *  scan + part aggregate + range exchange (three full builds per run);
   *  now the build runs once per (application, corpus) and each consumer
   *  is an O(parts) aggregate over the snapshot. Descending-order
   *  cumulatives derive exactly as `t - cum + r` (per-class outputs are
   *  invariant to tie order within equal-revenue groups: the cumulative
   *  values within a tie group form the same set under either
   *  orientation), and ntile buckets derive from `i` and `n` with
   *  [[ScalableRank.withNtile]]'s exact arithmetic. */
  private val revRankCache = graft.CorpusCaches.memo[String, (DataFrame, Long, Long)]()
  def partRevenueRanked(spark: SparkSession, dir: String): (DataFrame, Long, Long) =
    revRankCache(spark, dir) {
      import org.apache.spark.sql.graft.DatasetBridge
      val rev = Tables.lineitem(spark, dir)
        .groupBy(col("l_partkey"))
        .agg(expr("cast(sum(cast(cast(l_extendedprice as decimal(12,2)) * 100 as decimal(38,0))) as long)")
          .as("r"))
      val (ranked, n, t, releaseScratch) = ScalableRank.withRowNumberAndPrefixSum(
        rev, Seq(col("r"), col("l_partkey")), "r", "i", "cum")
      val snap = DatasetBridge.snapshot(ranked)
      // materialize the artifact NOW so the rank build's range-partitioned
      // scratch frame can release immediately instead of staying pinned
      // (part-level, application-lifetime) behind a lazy first consumer
      snap.rdd.count()
      releaseScratch()
      (snap.df, n, t)
    }
}
