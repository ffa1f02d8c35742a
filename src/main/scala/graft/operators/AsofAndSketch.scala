package graft.operators

import graft.Tables
import graft.Tables.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * As-of join + sketch aggregates — operators Spark has no dedicated node
 * for, composed from primitives it optimizes well.
 *
 * The as-of join uses the union+window technique instead of a range join:
 * tag both sides, union, and carry the most recent left-side timestamp
 * forward with `last(..., ignoreNulls)` over an ordered per-key window.
 * One shuffle on the key, one sort — no interval cross-product, no
 * per-row probe, and it scales linearly where a naive range join is
 * O(n·m) per key.
 */
object AsofAndSketch {

  /** Attribution as-of join: for every purchase event, the most recent
   *  click of the same user at or before it (micros, so the oracle's
   *  truncated view agrees). */
  def q25AsofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      .filter(col("event_type").isin("click", "purchase"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_us",
        last(when(col("event_type") === "click", col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_us"), col("last_click_us"),
        (col("ts_us") - col("last_click_us")).as("gap_us"))
      .orderBy("user_id", "purchase_id")
  }

  /** FORWARD as-of join — the other direction: for every click, the next
   *  purchase of the same user at or after it (conversion-lag analysis).
   *  Same scale shape as [[q25AsofAttribution]]: one shuffle on the key,
   *  one per-key sort, a forward-looking frame — never an interval
   *  cross-product. Clicks with no later purchase keep NULLs. */
  def q43AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      .filter(col("event_type").isin("click", "purchase"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev.withColumn("next_purchase_us",
        first(when(col("event_type") === "purchase", col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("click_us"), col("next_purchase_us"),
        (col("next_purchase_us") - col("ts_us")).as("wait_us"))
      .orderBy("user_id", "click_id")
  }

  /** NEAREST as-of join — the third direction: for every purchase, the
   *  click of the same user CLOSEST in time, either side (sensor/event
   *  alignment semantics; ties go backward, matching the attribution
   *  convention). One shuffle on the user key, one per-key sort, BOTH
   *  frames read off the same sorted pass (max-click-behind,
   *  min-click-ahead) — still never an interval cross-product. */
  def q70AsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      .filter(col("event_type").isin("click", "purchase"))
    val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev
      .withColumn("back_us", max(when(col("event_type") === "click", col("ts_us"))).over(wb))
      .withColumn("fwd_us", min(when(col("event_type") === "click", col("ts_us"))).over(wf))
      .filter(col("event_type") === "purchase")
      .withColumn("near_click_us",
        when(col("fwd_us").isNull, col("back_us"))
          .when(col("back_us").isNull, col("fwd_us"))
          .when(col("ts_us") - col("back_us") <= col("fwd_us") - col("ts_us"), col("back_us"))
          .otherwise(col("fwd_us")))
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_us"), col("near_click_us"),
        abs(col("ts_us") - col("near_click_us")).as("abs_gap_us"))
      .orderBy("user_id", "purchase_id")
  }

  /** Streaming dedup: watermarked dropDuplicates on (user_id, event_type),
   *  run inside [[graft.streaming.EventStreams]]'s shared AvailableNow
   *  replay (one pass for all four stream_* entries). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamDedup(spark, dir)

  /** Sketch aggregates: HyperLogLog distinct and approximate quantiles —
   *  the constant-memory forms a 100 TB profile pass uses. Raw sketch
   *  outputs are engine-specific, so the entry emits the EXACT figures
   *  plus WITHIN-BOUND verdicts on the sketches instead: HLL counts must
   *  land within 3σ of the exact distinct counts (rsd 5% → 15%), the
   *  approximate quantiles must land inside the exact P49–P51 / P98.9–
   *  P99.1 rank windows (accuracy 10 000 → rank error ≤ 0.01%, two
   *  orders of magnitude inside the window). The DuckDB twin recomputes
   *  every exact figure and asserts the verdicts as literal 1s — a
   *  sketch that ever breaks its bound flips a flag and fails the hash
   *  compare. Rank values come from the
   *  [[ScalableRank.valuesAtRanksFromCounts]] value-count locator (integer
   *  rank arithmetic ⌈q·n⌉ = (q·n+99) div 100 on both engines); only
   *  exact values and verdicts cross the compare boundary, so the output
   *  is stable under any partitioning. */
  def sketchStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // TWO aggregate passes, deliberately split: fusing the exact multi-
    // distinct with the sketch aggregates makes Catalyst's Expand rewrite
    // key the partial aggregate on ~n distinct values, allocating a
    // QuantileSummaries + HLL buffer PER KEY — measured 60 s (vs 9 + 3 s
    // split) at sf10, and an OOM at real scale. The sketches pass carries
    // only constant-size state; the distinct pass carries only counters.
    val sketches = li.agg(
      count(lit(1)).as("n_rows"),
      approx_count_distinct(col("l_orderkey")).as("ao"),
      approx_count_distinct(col("l_partkey")).as("ap"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
        .cast("decimal(12,2)").as("am"),
      percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000))
        .cast("decimal(12,2)").as("a99"))
    val exacts = li.agg(
      countDistinct(col("l_orderkey")).as("exact_orders"),
      countDistinct(col("l_partkey")).as("exact_parts"))
    val base = sketches.crossJoin(broadcast(exacts)) // 1-row × 1-row
    // the exact rank windows only need the VALUE at each rank — the
    // tie-break columns the old row locator carried never influenced the
    // emitted cents — so the shared per-corpus price histogram
    // ([[SharedHistograms.lineitemPriceCounts]]) replaces all three
    // locator scans with O(domain) reads of one snapshot
    val (hit, n) = ScalableRank.valuesAtRanksFromCounts(
      SharedHistograms.lineitemPriceCounts(spark, dir), "cents", "__c",
      t => Seq((49L * t + 99) / 100, (51L * t + 99) / 100,
               (989L * t + 999) / 1000, (991L * t + 999) / 1000), "rk")
    val r49 = (49L * n + 99) / 100; val r51 = (51L * n + 99) / 100
    val r989 = (989L * n + 999) / 1000; val r991 = (991L * n + 999) / 1000
    val bounds = broadcast(hit.agg(
      min(when(col("rk") === r49, col("cents"))).as("p49_cents"),
      min(when(col("rk") === r51, col("cents"))).as("p51_cents"),
      min(when(col("rk") === r989, col("cents"))).as("p989_cents"),
      min(when(col("rk") === r991, col("cents"))).as("p991_cents")))
    base.crossJoin(bounds) // 1-row × 1-row
      .select(col("n_rows"), col("exact_orders"), col("exact_parts"),
        (abs(col("ao") - col("exact_orders")) * 100 <= col("exact_orders") * 15)
          .cast("bigint").as("orders_in_bound"),
        (abs(col("ap") - col("exact_parts")) * 100 <= col("exact_parts") * 15)
          .cast("bigint").as("parts_in_bound"),
        col("p49_cents"), col("p51_cents"), col("p989_cents"), col("p991_cents"),
        ((col("am") * 100).cast("long").between(col("p49_cents"), col("p51_cents")))
          .cast("bigint").as("median_in_bound"),
        ((col("a99") * 100).cast("long").between(col("p989_cents"), col("p991_cents")))
          .cast("bigint").as("p99_in_bound"))
  }

  /** Heavy hitters via the classic TWO-PASS bounded-state pattern:
   *  pass 1 runs a Misra–Gries summary (k=50 counters) inside each
   *  partition — O(k) state per task regardless of stream length — and
   *  unions the surviving candidate tokens; pass 2 exact-counts ONLY the
   *  candidates (a broadcast semi-join against the token stream) and keeps
   *  those above the n/k support threshold.
   *
   *  Determinism despite the sketch: any token with global frequency
   *  > n/k must exceed n_p/k in at least one partition (averaging
   *  argument), so it survives SOME partition's summary and reaches the
   *  exact pass — the final output is therefore EXACTLY the tokens with
   *  count > n div k, independent of partitioning and merge order. That
   *  is what makes an approximate sketch oracle-able: the sketch only
   *  prunes, the emitted numbers are exact.
   *
   *  100 TB shape: pass 1 is map-side only (no shuffle carries more than
   *  k rows per task); the candidate set is O(#partitions · k) —
   *  broadcastable by construction; pass 2 is one partial-aggregated
   *  groupBy over the filtered stream. */
  def q54HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val k = 50
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok")).as[String]
    val n = toks.count()
    val candidates = toks.mapPartitions { it =>
      // Misra–Gries: k counters; decrement-all when full evicts at zero
      val counters = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { t =>
        if (counters.contains(t)) counters(t) += 1
        else if (counters.size < k) counters(t) = 1
        else {
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.keysIterator.foreach { key =>
            counters(key) -= 1
            if (counters(key) == 0) dead += key
          }
          dead.foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.distinct()
    toks.join(broadcast(candidates.toDF("tok")), "tok")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(n / k))
      .orderBy(col("cnt").desc, col("tok"))
  }

  val defs: Vector[QueryDef] = Vector(
    // exact twin: same two frames off one sorted pass, same backward tie
    QueryDef("q70_asof_nearest", q70AsofNearest, Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events WHERE event_type IN ('click', 'purchase')),
      w AS (
        SELECT user_id, event_id, event_type, ts_us,
               max(CASE WHEN event_type = 'click' THEN ts_us END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_us,
               min(CASE WHEN event_type = 'click' THEN ts_us END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_us
        FROM e),
      p AS (
        SELECT user_id, event_id AS purchase_id, ts_us AS purchase_us,
               CASE WHEN fwd_us IS NULL THEN back_us
                    WHEN back_us IS NULL THEN fwd_us
                    WHEN ts_us - back_us <= fwd_us - ts_us THEN back_us
                    ELSE fwd_us END AS near_click_us
        FROM w WHERE event_type = 'purchase')
      SELECT user_id, purchase_id, purchase_us, near_click_us,
             abs(purchase_us - near_click_us) AS abs_gap_us
      FROM p ORDER BY user_id, purchase_id""")),
    // the sketch only PRUNES candidates; emitted counts are the exact
    // second pass, so plain SQL with the same support threshold agrees
    QueryDef("q54_heavy_hitters", q54HeavyHitters, Some("""
      WITH tok AS (
        SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                           ELSE regexp_split_to_array(trim(text), '\s+') END) AS tok
        FROM documents),
      n AS (SELECT count(*) AS n FROM tok)
      SELECT tok, count(*) AS cnt FROM tok
      GROUP BY tok
      HAVING count(*) > (SELECT n // 50 FROM n)
      ORDER BY cnt DESC, tok""")),
    QueryDef("q25_asof_attribution", q25AsofAttribution, Some("""
      SELECT user_id, purchase_id, purchase_us, last_click_us,
             purchase_us - last_click_us AS gap_us
      FROM (
        SELECT user_id, event_id AS purchase_id, event_type,
               epoch_us(ts) AS purchase_us,
               last(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
        FROM events
        WHERE event_type IN ('click', 'purchase')) t
      WHERE event_type = 'purchase'
      ORDER BY user_id, purchase_id""")),
    QueryDef("q43_asof_forward", q43AsofForward, Some("""
      SELECT user_id, click_id, click_us, next_purchase_us,
             next_purchase_us - click_us AS wait_us
      FROM (
        SELECT user_id, event_id AS click_id, event_type,
               epoch_us(ts) AS click_us,
               first_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_us
        FROM events
        WHERE event_type IN ('click', 'purchase')) t
      WHERE event_type = 'click'
      ORDER BY user_id, click_id""")),
    QueryDef("stream_dedup", streamDedup, Some("""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""")),
    // exact twin: identical ⌈q·n⌉ integer rank arithmetic under the same
    // (cents, orderkey, linenumber) total order; the sketch verdicts are
    // asserted as literal 1s — DuckDB states the CLAIM, Spark must meet it
    QueryDef("sketch_stats", sketchStats, Some("""
      WITH b AS (
        SELECT count(*) AS n_rows,
               count(DISTINCT l_orderkey) AS exact_orders,
               count(DISTINCT l_partkey) AS exact_parts
        FROM lineitem),
      r AS (
        SELECT cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint) AS cents,
               row_number() OVER (
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk
        FROM lineitem),
      q AS (
        SELECT
          min(CASE WHEN rk = (49 * (SELECT n_rows FROM b) + 99) // 100 THEN cents END) AS p49_cents,
          min(CASE WHEN rk = (51 * (SELECT n_rows FROM b) + 99) // 100 THEN cents END) AS p51_cents,
          min(CASE WHEN rk = (989 * (SELECT n_rows FROM b) + 999) // 1000 THEN cents END) AS p989_cents,
          min(CASE WHEN rk = (991 * (SELECT n_rows FROM b) + 999) // 1000 THEN cents END) AS p991_cents
        FROM r)
      SELECT cast(n_rows as bigint) AS n_rows,
             cast(exact_orders as bigint) AS exact_orders,
             cast(exact_parts as bigint) AS exact_parts,
             cast(1 as bigint) AS orders_in_bound,
             cast(1 as bigint) AS parts_in_bound,
             p49_cents, p51_cents, p989_cents, p991_cents,
             cast(1 as bigint) AS median_in_bound,
             cast(1 as bigint) AS p99_in_bound
      FROM b, q"""))
  )
}
