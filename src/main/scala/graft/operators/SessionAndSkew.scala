package graft.operators

import graft.Tuning
import graft.Tables
import graft.Tables.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Native session windows + explicit skew salting.
 *
 * `q30_session_window` uses Spark's built-in `session_window` aggregation —
 * the dedicated gap-session operator (vs q15's lag+running-sum formulation;
 * both carry oracles and must agree on session counts).
 *
 * `q31_salted_join` demonstrates manual key salting: when BOTH join sides
 * are too big to broadcast and the key is heavily skewed (here a 3-value
 * key), a plain shuffle join sends each hot key to ONE reducer. Salting
 * fans the hot side across `Salts` reducers by a deterministic row hash
 * and replicates the small side once per salt — the classic pre-AQE skew
 * fix, still needed when AQE's skew-split can't apply (e.g. hash joins on
 * extreme single-key skew). Correctness is provable: the oracle is the
 * UNsalted join.
 */
object SessionAndSkew {

  /** The per-corpus GAP-SESSION artifact — one row per (user, session):
   *  `(user_id, sess_id, s_us, e_us, n_events)` under the suite-wide
   *  30-min half-open gap rule, built ONCE per (application, corpus) and
   *  snapshotted. q15's census and q67's concurrency sweep previously
   *  each ran the identical sessionization window over the full event
   *  log; both are now pure functionals of this table (the
   *  per-corpus-artifact discipline of the shingle index / edge base).
   *  q30 deliberately stays on the native session_window operator — it
   *  exists to exercise that operator, not to share this plan. */
  private val sessCache = graft.CorpusCaches.snapshots[String]()
  private[operators] def gapSessions(spark: SparkSession, dir: String): DataFrame =
    sessCache(spark, dir) {
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
        .withColumn("new_sess",
          when(col("ts_us") - lag("ts_us", 1).over(byUser) >= 1800000000L, 1).otherwise(0))
        .withColumn("sess_id",
          sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_id")
        .agg(min("ts_us").as("s_us"), max("ts_us").as("e_us"),
          count(lit(1)).as("n_events"))
    }

  /** Gap-based sessions per user via the native session_window operator;
   *  emits the same per-user session census as q15 (30-min gap). */
  def q30SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).as("sess_len"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), max("sess_len").as("max_len"))
      .orderBy("user_id")

  /** Conversion FUNNEL — the staged event-analytics operator: how many
   *  users viewed, then clicked AT OR AFTER their first view, then
   *  purchased at or after that click. Each stage is one groupBy-min over
   *  the (pruned, pushed-filter) event scan joined to the previous
   *  stage's per-user threshold — three small hash shuffles keyed by
   *  user, no windows, no per-user event materialization, so stage state
   *  is one timestamp per user regardless of per-user event volume. */
  def q44Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("view_us"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") >= col("view_us"))
      .groupBy("user_id").agg(min("us").as("click_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") >= col("click_us"))
      .groupBy("user_id").agg(min("us").as("purchase_us"))
    v.agg(count(lit(1)).as("n_viewed")).crossJoin(
      c.agg(count(lit(1)).as("n_clicked"))).crossJoin(
      p.agg(count(lit(1)).as("n_purchased")))
  }

  /** SNAPSHOT DIFF — CDC-style reconciliation of two table versions: the
   *  "old" snapshot is the orders table minus a deterministic slice, the
   *  "new" one minus a different slice, and the diff classifies every key
   *  as added/removed/changed (value hash differs). One full-outer hash
   *  join on the key, comparing md5 row hashes — no row-by-row driver
   *  work, the standard reconciliation shape at any scale. */
  def q45SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"),
        md5(concat_ws("|", col("o_orderstatus"), col("o_totalprice").cast("decimal(12,2)").cast("string"))).as("h"),
        col("o_orderkey") % 97 as "slice")
    val oldSnap = ord.filter(col("slice") =!= 0).select(col("key"), col("h").as("h_old"))
    // the "new" snapshot drops a different slice and changes status for slice 1
    val newSnap = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 97 =!= 3)
      .select(col("o_orderkey").as("key"),
        md5(concat_ws("|",
          when(col("o_orderkey") % 97 === 1, lit("X")).otherwise(col("o_orderstatus")),
          col("o_totalprice").cast("decimal(12,2)").cast("string"))).as("h_new"))
    oldSnap.join(newSnap, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed").as("change"))
      .filter(col("change").isNotNull)
      .groupBy("change")
      .agg(count(lit(1)).as("n"), min("key").as("min_key"), max("key").as("max_key"))
      .orderBy("change")
  }

  /** SKEW REPORT — the diagnostic a pipeline runs BEFORE choosing a join
   *  strategy: per-key frequencies of a prospective join key, top-5 hot
   *  keys with exact-integer share and skew ratio (n·nkeys/total, in
   *  basis points — the "how many× the average reducer load" number that
   *  decides between plain shuffle, salting, and AQE skew-split). One
   *  partial-aggregated groupBy + a TakeOrdered top-k; the two global
   *  scalars ride a broadcast single-row frame, never a window. */
  def q49SkewReport(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("n"))
    val totals = freq.agg(
      sum("n").as("total"), count(lit(1)).as("nkeys"))
    freq.crossJoin(broadcast(totals))
      .select(col("key"), col("n"),
        expr("n * 10000 div total").as("share_bp"),
        expr("n * nkeys * 10000 div total").as("skew_ratio_bp"))
      .orderBy(col("n").desc, col("key"))
      .limit(5)
  }

  val Salts = 8

  /** Salted aggregation-join on a 3-value skewed key: lineitem enriched by
   *  a per-(returnflag,linestatus) label table. The fact side gets a
   *  deterministic salt from its unique row key; the label side is
   *  replicated once per salt; join on (key, salt) spreads each hot key
   *  over `Salts` reducers. Aggregated so the output is small and
   *  oracle-comparable. */
  def q31SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(Salts)))
    // the 6-row label dim is the column DOMAIN ({A,N,R} × {F,O}) as a
    // literal local relation — a pipeline ships tiny dims as config rather
    // than re-scanning the fact table to distinct() them (inner join, so a
    // domain value absent from the data can't appear in the output).
    // shuffle_hash pins the demo to the salted SHUFFLE plan: the operator
    // models a dim too big to broadcast.
    val labels = Seq(("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O"))
      .toDF("rf", "ls")
      .withColumn("label", concat_ws("/", col("rf"), col("ls")))
      .crossJoin(spark.range(Salts).select(col("id").cast("int").as("salt")))
      .hint("shuffle_hash")
    li.join(labels,
        col("l_returnflag") === col("rf") && col("l_linestatus") === col("ls") &&
        li("salt") === labels("salt"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .orderBy("label")
  }

  /** RETENTION COHORTS — the cohort × age activity matrix: each user's
   *  cohort is their first active week; each (cohort_week, age_weeks)
   *  cell counts the distinct users of that cohort still active that many
   *  weeks later. Two shuffles, both on user_id: the per-user min-week
   *  aggregate, then a co-partitioned join back to the event stream (the
   *  cohort frame is O(users) — NOT broadcastable at scale) and the final
   *  cell rollup, whose distinct-count partial-aggregates map-side
   *  because the join preserved the user_id clustering. */
  def q50Retention(spark: SparkSession, dir: String): DataFrame = {
    val weeks = Tables.events(spark, dir)
      .select(col("user_id"), expr("(ts div 1000) div 604800000000").as("week"))
    val cohorts = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    weeks.join(cohorts, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "age_weeks")
  }

  /** RFM SEGMENTATION — the classic customer-value grid: per customer,
   *  Recency (last order day), Frequency (order count) and Monetary
   *  (lifetime cents) are each quintiled over the WHOLE population, the
   *  three digits concatenated into a segment code (555 = best), and the
   *  grid reported as segment → customer count + revenue. All three
   *  quintiles run through [[ScalableRank.withNtile]] — the
   *  range-partitioned distributed ntile, never a global window — over
   *  total orders (value, custkey); the three 1-column rank frames join
   *  back on the customer key (co-partitioned, AQE-broadcast while they
   *  fit). All integers. */
  def q81Rfm(spark: SparkSession, dir: String): DataFrame = {
    // persisted: each of the three quintile passes range-shuffles this
    // frame on a DIFFERENT key — without the persist the orders
    // aggregation runs three times (9.2 s → the agg once at sf1).
    // Catalog-registered, so the harness' per-query clearCache drops it.
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        max(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")).as("last_day"),
        count(lit(1)).as("freq"),
        expr("cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))) as long)").as("mon"))
      .persist(Tuning.persistLevel)
    // CHAINED quintile passes — each adds its bucket column to the running
    // frame (a quintile depends only on its own sort key, so order is
    // free), eliminating the three join-back shuffles of the previous
    // rank-frames-then-join form: 3 range exchanges total instead of
    // 3 range exchanges + 3 joins re-shuffling the customer frame.
    val withR = ScalableRank.withNtile(per, Seq(col("last_day"), col("o_custkey")), 5, "r")
    val withF = ScalableRank.withNtile(withR, Seq(col("freq"), col("o_custkey")), 5, "f")
    ScalableRank.withNtile(withF, Seq(col("mon"), col("o_custkey")), 5, "m")
      .groupBy(expr("r * 100 + f * 10 + m").as("segment"))
      .agg(count(lit(1)).as("n_customers"), sum("mon").as("segment_cents"))
      .orderBy("segment")
  }

  /** Power-of-two CASE ladder shared verbatim by both engines (the
   *  pipeline_length_buckets discipline — no float log2 at bucket
   *  boundaries). Day gaps use 2¹² (11 years); minute lags use 2²⁰
   *  (~2 years) so nothing top-codes. */
  private def ladder(topPow: Int): String = {
    val cases = (topPow to 0 by -1).map(k => s"WHEN gap >= ${1L << k} THEN ${1L << k}").mkString(" ")
    s"CASE $cases ELSE 0 END"
  }
  private val gapLadder: String = ladder(12)
  private val minuteLadder: String = ladder(20)

  /** INTER-ORDER GAP HISTOGRAM — time-between-purchases, the
   *  replenishment-cycle curve behind churn prediction and send-time
   *  optimization: per customer, the day gaps between consecutive
   *  orders, rolled into power-of-two day buckets (0 = same day).
   *  The lag window partitions per CUSTOMER — millions of small
   *  partitions, distributes evenly — and the histogram is one bounded
   *  rollup. All integers. */
  def q82GapHist(spark: SparkSession, dir: String): DataFrame = {
    val byCust = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("day", "o_orderkey")
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"))
      .withColumn("gap", col("day") - lag("day", 1).over(byCust))
      .filter(col("gap").isNotNull)
      .groupBy(expr(gapLadder).as("gap_bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        countDistinct("o_custkey").as("n_customers"),
        min("gap").as("min_gap"), max("gap").as("max_gap"))
      .orderBy("gap_bucket")
  }

  /** CONVERSION LAG HISTOGRAM — how long from first view to first
   *  subsequent purchase, the latency curve behind attribution windows
   *  and remarketing timing: per converting user, the lag in minutes,
   *  rolled into power-of-two minute buckets. Same staged shape as
   *  [[q44Funnel]] (per-user min aggregates joined forward — no
   *  windows, state is one timestamp per user), one bounded rollup. */
  def q85ConversionLag(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("view_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("us") >= col("view_us"))
      .groupBy("user_id").agg(min("us").as("purchase_us"), min("view_us").as("view_us2"))
    p.select(col("user_id"), expr("(purchase_us - view_us2) div 60000000").as("gap"))
      .groupBy(expr(minuteLadder).as("lag_bucket_min"))
      .agg(count(lit(1)).as("n_users"), min("gap").as("min_lag"), max("gap").as("max_lag"))
      .orderBy("lag_bucket_min")
  }

  /** LAST-TOUCH REVENUE ATTRIBUTION — every purchase's cents credited to
   *  the hour-of-day of the user's most recent PRECEDING click (organic
   *  purchases, with no prior click, land in bucket −1): the marketing
   *  report behind "which click hours drive revenue". The last-click
   *  carry-forward is `last(click_us, ignoreNulls)` over the per-USER
   *  (us, event_id) order — millions of small partitions, the
   *  distributable window shape — and the rollup is 25 bounded cells.
   *  Value is cents-exact via the suite's decimal(12,2) convention. */
  def q90Attribution(spark: SparkSession, dir: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"),
        expr("cast(cast(value as decimal(12,2)) * 100 as decimal(38,0))")
          .cast("long").as("cents"))
      .withColumn("click_us",
        last(when(col("event_type") === "click", col("us")), ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("click_us").isNull, lit(-1L))
          .otherwise(expr("(click_us div 3600000000) % 24")).as("click_hour"),
        col("cents"))
      .groupBy("click_hour")
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("attributed_cents"))
      .orderBy("click_hour")
  }

  /** TOP EVENT PATHS — sequence mining lite: the 10 most common 3-step
   *  event-type paths WITHIN a session (the q15 30-min gap sessions),
   *  the product-analytics readout behind "how do users actually move".
   *  Per-session trigrams come from two leads over the per-user window
   *  (millions of small partitions); the count+top-10 is one
   *  partial-aggregated rollup + TakeOrdered. All deterministic: ties
   *  break on the path string. */
  def q97EventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val byUser = w.partitionBy("user_id").orderBy("us", "event_id")
    val sessed = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("new_sess",
        when(col("us") - lag("us", 1).over(byUser) >= 1800000000L, 1).otherwise(0))
      .withColumn("sess_id",
        sum("new_sess").over(byUser.rowsBetween(w.unboundedPreceding, w.currentRow)))
    val bySess = w.partitionBy("user_id", "sess_id").orderBy("us", "event_id")
    sessed
      .withColumn("t2", lead("event_type", 1).over(bySess))
      .withColumn("t3", lead("event_type", 2).over(bySess))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  val defs: Vector[QueryDef] = Vector(
    // exact twin: the same session ids, the same two leads per session,
    // the same (count desc, path) order
    QueryDef("q97_event_paths", q97EventPaths, Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      g AS (
        SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                                               ORDER BY us, event_id)
                       >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        FROM e),
      s AS (
        SELECT user_id, event_id, event_type, us,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM g),
      p AS (
        SELECT event_type || '>' ||
               lead(event_type, 1) OVER (PARTITION BY user_id, sess_id ORDER BY us, event_id) || '>' ||
               lead(event_type, 2) OVER (PARTITION BY user_id, sess_id ORDER BY us, event_id) AS path,
               lead(event_type, 2) OVER (PARTITION BY user_id, sess_id ORDER BY us, event_id) AS t3
        FROM s)
      SELECT path, count(*) AS n
      FROM p WHERE t3 IS NOT NULL
      GROUP BY path ORDER BY n DESC, path LIMIT 10""")),
    // exact twin: the same ignore-nulls carry-forward window over the
    // identical per-user total order
    QueryDef("q90_attribution", q90Attribution, Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               cast(cast(value as decimal(12,2)) * 100 as bigint) AS cents
        FROM events),
      t AS (
        SELECT event_type, cents,
               last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_us
        FROM e)
      SELECT CASE WHEN click_us IS NULL THEN -1
                  ELSE (click_us // 3600000000) % 24 END AS click_hour,
             count(*) AS n_purchases,
             cast(sum(cents) as bigint) AS attributed_cents
      FROM t WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY click_hour""")),
    // exact twin: same staged min-aggregates and the same integer ladder
    QueryDef("q85_conversion_lag", q85ConversionLag, Some(s"""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      v AS (SELECT user_id, min(us) AS view_us FROM e
            WHERE event_type = 'view' GROUP BY 1),
      p AS (SELECT e.user_id, min(us) AS purchase_us, min(view_us) AS view_us2
            FROM e JOIN v USING (user_id)
            WHERE event_type = 'purchase' AND us >= view_us GROUP BY 1),
      g AS (SELECT (purchase_us - view_us2) // 60000000 AS gap FROM p)
      SELECT $minuteLadder AS lag_bucket_min,
             count(*) AS n_users, min(gap) AS min_lag, max(gap) AS max_lag
      FROM g GROUP BY 1 ORDER BY lag_bucket_min""")),
    // exact twin: three window ntiles over the same (value, custkey)
    // total orders
    QueryDef("q81_rfm", q81Rfm, Some("""
      WITH per AS (
        SELECT o_custkey,
               max(epoch_us(o_orderdate) // 86400000000) AS last_day,
               count(*) AS freq,
               cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS mon
        FROM orders GROUP BY 1),
      k AS (
        SELECT o_custkey, mon,
               ntile(5) OVER (ORDER BY last_day, o_custkey) AS r,
               ntile(5) OVER (ORDER BY freq, o_custkey) AS f,
               ntile(5) OVER (ORDER BY mon, o_custkey) AS m
        FROM per)
      SELECT cast(r * 100 + f * 10 + m as bigint) AS segment,
             count(*) AS n_customers,
             cast(sum(mon) as bigint) AS segment_cents
      FROM k GROUP BY 1 ORDER BY segment""")),
    // exact twin: same per-customer lag and the same integer CASE ladder
    QueryDef("q82_gap_hist", q82GapHist, Some(s"""
      WITH d AS (
        SELECT o_custkey, o_orderkey,
               epoch_us(o_orderdate) // 86400000000 AS day
        FROM orders),
      g AS (
        SELECT o_custkey,
               day - lag(day) OVER (PARTITION BY o_custkey
                                    ORDER BY day, o_orderkey) AS gap
        FROM d),
      f AS (SELECT o_custkey, gap FROM g WHERE gap IS NOT NULL)
      SELECT $gapLadder AS gap_bucket,
             count(*) AS n_gaps,
             count(DISTINCT o_custkey) AS n_customers,
             min(gap) AS min_gap, max(gap) AS max_gap
      FROM f GROUP BY 1 ORDER BY gap_bucket""")),
    QueryDef("q50_retention", q50Retention, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
      c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1)
      SELECT cohort_week, week - cohort_week AS age_weeks,
             count(DISTINCT e.user_id) AS n_active
      FROM e JOIN c ON e.user_id = c.user_id
      GROUP BY 1, 2 ORDER BY cohort_week, age_weeks""")),
    QueryDef("q49_skew_report", q49SkewReport, Some("""
      WITH freq AS (SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
      t AS (SELECT sum(n) AS total, count(*) AS nkeys FROM freq)
      SELECT key, n,
             cast(n * 10000 // total as bigint) AS share_bp,
             cast(n * nkeys * 10000 // total as bigint) AS skew_ratio_bp
      FROM freq, t
      ORDER BY n DESC, key LIMIT 5""")),
    QueryDef("q44_funnel", q44Funnel, Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      v AS (SELECT user_id, min(us) AS view_us FROM e WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(us) AS click_us
            FROM e JOIN v USING (user_id)
            WHERE event_type = 'click' AND us >= view_us GROUP BY 1),
      p AS (SELECT e.user_id, min(us) AS purchase_us
            FROM e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND us >= click_us GROUP BY 1)
      SELECT (SELECT count(*) FROM v) AS n_viewed,
             (SELECT count(*) FROM c) AS n_clicked,
             (SELECT count(*) FROM p) AS n_purchased""")),
    QueryDef("q45_snapshot_diff", q45SnapshotDiff, Some("""
      WITH oldsnap AS (
        SELECT o_orderkey AS key,
               md5(o_orderstatus || '|' || cast(cast(o_totalprice as decimal(12,2)) as varchar)) AS h_old
        FROM orders WHERE o_orderkey % 97 <> 0),
      newsnap AS (
        SELECT o_orderkey AS key,
               md5((CASE WHEN o_orderkey % 97 = 1 THEN 'X' ELSE o_orderstatus END)
                   || '|' || cast(cast(o_totalprice as decimal(12,2)) as varchar)) AS h_new
        FROM orders WHERE o_orderkey % 97 <> 3)
      SELECT change, count(*) AS n, min(key) AS min_key, max(key) AS max_key FROM (
        SELECT coalesce(o.key, n.key) AS key,
               CASE WHEN o.key IS NULL THEN 'added'
                    WHEN n.key IS NULL THEN 'removed'
                    WHEN h_old <> h_new THEN 'changed' END AS change
        FROM oldsnap o FULL OUTER JOIN newsnap n ON o.key = n.key) t
      WHERE change IS NOT NULL
      GROUP BY change ORDER BY change""")),
    QueryDef("q30_session_window", q30SessionWindow, Some("""
      SELECT user_id, count(*) AS n_sessions, max(sess_len) AS max_len FROM (
        SELECT user_id, sess_id, count(*) AS sess_len FROM (
          SELECT user_id,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                          OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                        >= 1800000000 THEN 1 ELSE 0 END AS new_sess
            FROM events) g) s
        GROUP BY user_id, sess_id) c
      GROUP BY user_id
      ORDER BY user_id""")),
    QueryDef("q31_salted_join", q31SaltedJoin, Some("""
      SELECT concat_ws('/', l_returnflag, l_linestatus) AS label,
             count(*) AS n,
             cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty
      FROM lineitem
      GROUP BY 1 ORDER BY label"""))
  )
}
