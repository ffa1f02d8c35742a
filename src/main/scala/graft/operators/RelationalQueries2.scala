package graft.operators

import graft.Tables
import graft.Tables.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Second relational batch: pivot, date/time buckets, string functions,
 * moment statistics from exact decimal sums, deterministic hash sampling,
 * median, CUBE grouping sets, conditional aggregation.
 *
 * Float discipline (same as batch 1): anything summed is cast to decimal
 * first; derived doubles (corr, median) are computed from exact sums or
 * exactly-represented inputs so both engines agree bit-for-bit.
 */
object RelationalQueries2 {

  private def dec(c: String) = col(c).cast("decimal(12,2)")

  /** Pivot: quantity by return flag × line status. Spark's relational
   *  pivot; the oracle spells it as conditional aggregation (what the
   *  pivot lowers to — grouping stays a single pass either way). */
  def q16Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec("l_quantity")).cast("double"))
      .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
      .orderBy("l_returnflag")

  /** Date-part bucketing: order counts and revenue by (year, month). */
  def q17Monthly(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("bigint").as("y"), month(col("o_orderdate")).cast("bigint").as("m"))
      .agg(count(lit(1)).as("n_orders"), sum(dec("o_totalprice")).cast("double").as("revenue"))
      .orderBy("y", "m")

  /** String function suite over part names: upper/substring/concat/
   *  replace/instr-style predicates — all codegen'd, all ANSI. */
  def q18Strings(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 5).as("name5"),
        concat_ws("|", col("p_type"), col("p_brand")).as("type_brand"),
        length(translate(col("p_name"), " ", "")).cast("bigint").as("name_nospace_len"),
        col("p_name").contains("widget").as("is_widget"))
      .orderBy("p_partkey")

  /** Pearson correlation of quantity vs extended price, computed from
   *  EXACT decimal component sums (n, Σx, Σy, Σxy, Σx², Σy²) and only then
   *  divided in double — both engines produce the identical rounded value,
   *  unlike a streaming corr() whose partial merges are order-sensitive. */
  def q19Corr(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      dec("l_quantity").as("x"), dec("l_extendedprice").as("y"))
    val s = li.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    s.select(
      col("n"),
      round(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) /
          sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
        6).as("corr_qty_price"))
  }

  /** Deterministic 10% sample via content hash (md5 — same function both
   *  engines), the reproducible form of stratified sampling: no RNG, no
   *  seed drift, stable across partitionings and engines. */
  def q20HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1"))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** Median (exact, interpolated) of an integer column per group — the
   *  continuous quantile at 0.5; .0/.5 halves are exactly representable so
   *  the double compares clean. Exact median sorts each group, which is the
   *  right default only while groups stay modest (150 part types here); the
   *  scale path for high-cardinality groups or 100 TB inputs is the sketch
   *  twin (`sketch_stats`' `percentile_approx`, bounded memory per group). */
  def q21Median(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy("p_type")
      .agg(median(col("p_size")).as("median_size"), count(lit(1)).as("n"))
      .orderBy("p_type")

  /** CUBE over two dims: all four grouping-set combinations in one pass. */
  def q22Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
   *  exactly the (status), (priority), and () sets in one pass (no
   *  (status, priority) set — the one CUBE would add), plus GROUPING()
   *  flags to disambiguate real NULLs from subtotal rows. SQL surface via
   *  a temp view; Catalyst expands it to one Expand + single aggregate. */
  def q40GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_gs")
    spark.sql("""
      SELECT o_orderstatus, o_orderpriority,
             cast(grouping(o_orderstatus) as bigint) AS g_status,
             cast(grouping(o_orderpriority) as bigint) AS g_prio,
             count(*) AS n,
             cast(sum(cast(o_totalprice as decimal(12,2))) as double) AS total
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
  }

  /** Conditional aggregation (FILTER/CASE): per-nation account profile. */
  def q23Conditional(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_cust"),
        count(when(col("c_acctbal") > 5000, 1)).as("n_rich"),
        sum(when(col("c_acctbal") < 0, dec("c_acctbal"))).cast("double").as("debt"),
        max(dec("c_acctbal")).cast("double").as("max_bal"))
      .orderBy("c_nationkey")

  /** Scalar correlated subquery shape: each order against its customer's
   *  order count (join + window re-expression on the Spark side; the
   *  oracle keeps the subquery form — same result, Catalyst decorrelates
   *  to the same join). Restricted to high-value orders. */
  def q24OrdersVsCustAvg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val custCounts = ord.groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("cust_orders"))
    ord.filter(col("o_totalprice") > 400000)
      .join(custCounts, col("o_custkey") === col("ck"))
      .select(col("o_orderkey"), col("o_custkey"), col("cust_orders"))
      .orderBy("o_orderkey")
  }

  /** Fixed-width histogram: 20 price buckets over [0, 500k) — integer
   *  bucket ids and counts, exact in both engines. */
  def q32Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(width_bucket(col("o_totalprice"), lit(0), lit(500000), lit(20)).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Quantile bucketing: customers split into account-balance quartiles,
   *  profiled per quartile. Uses [[ScalableRank.withNtile]] — exact ntile
   *  semantics via range-partitioned ranking, not a no-partitionBy window
   *  (which would single-task-sort the whole table). */
  def q33Ntile(spark: SparkSession, dir: String): DataFrame = {
    ScalableRank.withNtile(
        Tables.customer(spark, dir).select("c_custkey", "c_acctbal"),
        Seq(col("c_acctbal"), col("c_custkey")), 4, "quartile")
      .groupBy("quartile")
      .agg(
        count(lit(1)).as("n"),
        min(dec("c_acctbal")).cast("double").as("min_bal"),
        max(dec("c_acctbal")).cast("double").as("max_bal"))
      .orderBy("quartile")
  }

  /** Exact GLOBAL percentiles (p50/p90/p99 of lineitem price) — the
   *  complement of the grouped exact median (q21, per-group sort is fine)
   *  and the approximate sketch (sketch_stats, when error is acceptable):
   *  when an exact global quantile is required at scale, the only
   *  shuffle-safe form is [[ScalableRank.withGlobalRowNumber]] — range
   *  partition, local rank, broadcast offsets — then ONE equality join
   *  against the ceil(q·N) target ranks. A no-partitionBy percentile
   *  window would single-task-sort 100 TB; this sorts ~1/#partitions per
   *  task and ships only O(#partitions) bookkeeping rows. */
  /** Interval-union coverage (gaps-and-islands): every event opens a
   *  5-minute attention window; per user, overlapping windows merge into
   *  islands, reporting island count and total covered time — the
   *  "time-in-state" aggregate sessionization (gap-based, q15) cannot
   *  express, because coverage depends on interval ENDS overlapping, not
   *  on gaps between starts.
   *
   *  Scale shape: both windows partition by user_id — a high-cardinality
   *  key, so each task scans only its own users' events; the running
   *  `max(e)` + flag-sum island assignment is the one-pass linear merge
   *  (no self-join of intervals, which would be quadratic per user). All
   *  arithmetic in exact integer micros (`ts div 1000` is the suite's
   *  nanos→micros convention matching DuckDB's epoch_us). */
  def q53IntervalUnion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("s"))
      .withColumn("e", col("s") + lit(300000000L))
    val byUser = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(byUser.rowsBetween(Window.unboundedPreceding, -1))
    val islands = iv
      .withColumn("new_island", when(prevMax.isNull || prevMax < col("s"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy("user_id", "island")
      .agg(min(col("s")).as("is_start"), max(col("e")).as("is_end"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("is_end") - col("is_start")).as("covered_micros"))
      .orderBy("user_id")
  }

  def q52Percentiles(spark: SparkSession, dir: String): DataFrame = {
    // ceil in DOUBLE on both sides: identical IEEE math ⇒ identical target.
    // Only the VALUE at each rank is emitted, and under a price-led total
    // order it does not depend on the tie-break, so the ranks are located
    // in the shared lineitem price histogram — O(price domain), no scan.
    val qs = Seq(0.50, 0.90, 0.99)
    val (hit, total) = ScalableRank.valuesAtRanksFromCounts(
      SharedHistograms.lineitemPriceCounts(spark, dir), "cents", "__c",
      n => qs.map(q => math.ceil(q * n).toLong), "rn")
    import spark.implicits._
    val tDf = broadcast(qs.map(q => (q, math.ceil(q * total).toLong)).toDF("q", "target_rn"))
    // cents and 100 are exact doubles, so one division is the correctly
    // rounded price — the same double as casting the decimal(12,2)
    hit.join(tDf, col("rn") === col("target_rn"))
      .select(col("q"), (col("cents").cast("double") / 100).as("price"))
      .orderBy("q")
  }

  /** The full analytic-window set in one pass: ranking (dense_rank,
   *  percent_rank, cume_dist) and navigation (lag, lead, first_value,
   *  nth_value) over the per-priority price ordering. percent_rank /
   *  cume_dist are exact rational doubles — identical IEEE division in
   *  both engines. Restricted to two priorities for a compact result.
   *
   *  Unlike q7 (where top-k is the SEMANTICS and the bounded TopK
   *  aggregate replaces the window), percent_rank/cume_dist/lag need the
   *  whole ordered partition by definition — the low-cardinality window
   *  here IS the API surface being exercised. At scale this family runs
   *  on high-cardinality keys (see text_keywords, q41) or through
   *  ScalableRank's range-partitioned two-phase rank. */
  def q35WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(
        col("o_orderpriority"), col("o_orderkey"),
        dense_rank().over(w).cast("bigint").as("drank"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        first_value(col("o_orderkey")).over(w).as("top_key"),
        nth_value(col("o_orderkey"), 3).over(w).as("third_key"))
      .orderBy("o_orderpriority", "drank", "o_orderkey")
  }

  /** Date/time function family: ISO weekday distribution and month-end
   *  orders. Spark's weekday() is 0=Monday; +1 matches DuckDB's isodow. */
  def q36Datetime(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy((weekday(col("o_orderdate").cast("date")) + 1).cast("bigint").as("isodow"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("o_orderdate").cast("date") === last_day(col("o_orderdate").cast("date")), 1)).as("n_month_end"),
        min(year(col("o_orderdate"))).cast("bigint").as("min_year"))
      .orderBy("isodow")

  /** Time-based ROLLING window: per customer, the 30-day trailing order
   *  count and spend at every order — a RANGE frame over epoch days
   *  (`RANGE BETWEEN 29 PRECEDING AND CURRENT ROW`), the frame family the
   *  rest of the window suite doesn't cover (q8 is a ROWS running total).
   *  RANGE frames include day-peers by definition, so the result is
   *  order-independent within a day — no tiebreak needed, exact decimal
   *  sum inside. Partitioned by customer: each user's history sorts in
   *  its own task, no global sort at any scale. */
  def q41RollingRange(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy("day")
      .rangeBetween(-29, 0)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))).as("day"),
        dec("o_totalprice").as("price"))
      .select(col("o_custkey"), col("o_orderkey"), col("day").cast("bigint").as("day"),
        count(lit(1)).over(w).as("n_30d"),
        sum(col("price")).over(w).cast("double").as("spend_30d"))
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  /** Column PROFILING — the ANALYZE-style pass a pipeline runs before
   *  ingesting a new table: per column, row/null/exact-distinct counts and
   *  min/max (numeric and string kept in separate typed columns — no
   *  cross-engine float-to-string formatting).
   *
   *  Shape at scale: exact distinct counts run as ONE PRUNED SCAN PER
   *  COLUMN — `select(c).distinct.count` reads a single parquet column and
   *  partial-aggregates the dedup map-side, so only each partition's
   *  distinct values shuffle. The alternative (all `count(DISTINCT ...)`
   *  in one aggregate) plans a 4× row Expand that falls out of hash
   *  aggregation into a SortAggregate over the multiplied rows — measured
   *  5× slower at sf0.1 and sorting 4× the corpus at any scale. Counts and
   *  min/max stay a single no-distinct pass. Exact distinct of a
   *  near-unique key (l_orderkey) is excluded by design — that cardinality
   *  is what the approx sketch twin (sketch_stats) exists for; keys get
   *  min/max only. */
  def q42Profile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("ship_day",
        datediff(col("l_shipdate").cast("date"), to_date(lit("1970-01-01"))).cast("long"))
    // pruned per-column scans, submitted as CONCURRENT jobs: the four
    // counts are independent actions, and serializing them wastes the
    // cluster between job boundaries — concurrent submission overlaps
    // their stages (Spark schedules across jobs FIFO over free slots).
    // na.drop before distinct matches the oracle's count(DISTINCT c),
    // which excludes NULL (all four columns are non-null today; the drop
    // keeps the semantics aligned if one ever becomes nullable).
    val nd = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.sequence(Seq("l_quantity", "l_returnflag", "ship_day", "l_linestatus")
          .map(c => Future(c -> li.select(c).na.drop().distinct().count()))),
        Duration.Inf).toMap
    }
    val agg = li.agg(
      count(lit(1)).as("n_rows"),
      count(col("l_quantity")).as("nn_qty"),
      min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
      count(col("l_returnflag")).as("nn_rf"),
      min(col("l_returnflag")).as("min_rf"), max(col("l_returnflag")).as("max_rf"),
      count(col("ship_day")).as("nn_sd"),
      min(col("ship_day")).as("min_sd"), max(col("ship_day")).as("max_sd"),
      count(col("l_linestatus")).as("nn_ls"),
      min(col("l_linestatus")).as("min_ls"), max(col("l_linestatus")).as("max_ls"),
      count(col("l_orderkey")).as("nn_ok"),
      min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"))
    agg.selectExpr(
      s"""stack(5,
         'l_quantity',  n_rows, nn_qty, ${nd("l_quantity")}L, cast(min_qty as double), cast(max_qty as double), cast(null as string), cast(null as string),
         'l_returnflag', n_rows, nn_rf, ${nd("l_returnflag")}L, cast(null as double), cast(null as double), min_rf, max_rf,
         'l_shipdate_day', n_rows, nn_sd, ${nd("ship_day")}L, cast(min_sd as double), cast(max_sd as double), cast(null as string), cast(null as string),
         'l_linestatus', n_rows, nn_ls, ${nd("l_linestatus")}L, cast(null as double), cast(null as double), min_ls, max_ls,
         'l_orderkey', n_rows, nn_ok, cast(null as bigint), cast(min_ok as double), cast(max_ok as double), cast(null as string), cast(null as string)
       ) AS (col_name, n_rows, n_nonnull, n_distinct, min_num, max_num, min_str, max_str)""")
      .orderBy("col_name")
  }

  /** JSON function family: extract + type + aggregate over the raw props
   *  JSON strings (the scalar-query face of the schemer engine). */
  def q37Json(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(col("k")).as("n_with_k"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        count(when(col("k") > 50, 1)).as("n_large"))
      .orderBy("event_type")

  /** DATA-QUALITY RULE CHECK — the validation pass a pipeline runs before
   *  publishing a table: a rule set (range, domain, non-null, positivity)
   *  evaluated as conditional sums in ONE aggregate pass over the scan —
   *  never one job per rule — then pivoted to a row per rule with an
   *  exact basis-point violation rate (integer div, no float boundary).
   *  Rules are chosen so some fire and some don't on this corpus (the
   *  interesting output is the nonzero rows a publisher would gate on). */
  /** TPC-H Q17-shaped CORRELATED scalar subquery: order lines whose
   *  quantity falls below 20% of their part's average quantity — the
   *  "small-order revenue" probe. Declared as a correlated subquery so
   *  Catalyst's de-correlation rewrite (subquery → aggregate + join) is
   *  exercised and pinned; the physical plan must be one per-part
   *  aggregate joined back, never a per-row re-scan. Revenue is an exact
   *  decimal sum ÷ 7 rendered through the plain-string parse. */
  def q55BelowAvg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.createOrReplaceTempView("li_q55")
    // quantities are integer-valued doubles, so the correlated avg is an
    // exact integer sum ÷ count — deterministic on any partitioning; the
    // revenue sum goes through decimal + the plain-string parse
    li.sparkSession.sql("""
      SELECT cast(cast(sum(cast(l_extendedprice as decimal(12,2))) as string) as double) / 7.0
               AS avg_yearly,
             count(*) AS n_lines
      FROM li_q55 l
      WHERE l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM li_q55 l2 WHERE l2.l_partkey = l.l_partkey)""")
  }

  def q51DqRules(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val agg = li.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_quantity").isNull || !col("l_quantity").between(1.0, 45.0), 1L)
        .otherwise(0L)).as("v_qty"),
      sum(when(col("l_discount").isNull || !col("l_discount").between(0.0, 0.08), 1L)
        .otherwise(0L)).as("v_disc"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_ship"),
      sum(when(col("l_returnflag").isNull || !col("l_returnflag").isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("v_rf"),
      sum(when(col("l_extendedprice").isNull || col("l_extendedprice") > 100000.0, 1L)
        .otherwise(0L)).as("v_price"))
    agg.selectExpr(
      """stack(5,
         'discount_le_8pct',  n_rows, v_disc,
         'price_le_100k',     n_rows, v_price,
         'quantity_in_1_45',  n_rows, v_qty,
         'returnflag_domain', n_rows, v_rf,
         'shipdate_not_null', n_rows, v_ship
       ) AS (rule_name, n_rows, n_violations)""")
      .withColumn("violation_bp", expr("n_violations * 10000 div n_rows"))
      .orderBy("rule_name")
  }

  /** EXACT 3σ OUTLIER DETECTION per order priority — the anomaly gate a
   *  pipeline runs before trusting a batch, with the float-free trick that
   *  makes it oracle-exact AND order-independent: `|x − μ| > 3σ` is
   *  cross-multiplied into `(n·x − S)² > 9·(n·Q − S²)` over cents-integer
   *  prices (S = Σx, Q = Σx²), so there is no division, no square root,
   *  and no accumulation-order sensitivity anywhere. All arithmetic is
   *  DECIMAL(38,0) (hugeint in the oracle): at sf100 the extreme term
   *  9·(n·Q − S²) is ~10³¹ of the 10³⁸ headroom, so the identity holds
   *  exactly at any plausible scale.
   *
   *  Scale shape: one partial-aggregated stats pass (5 rows), broadcast
   *  back, one filtered re-aggregate — two scans, zero shuffles of data
   *  rows beyond the map-side-combined aggregates. */
  def q56Outliers(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), cents.as("c"))
    val stats = o.groupBy("o_orderpriority").agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("c")).as("s"),
      sum(expr("c * c")).as("q"))
    val dev = expr("(n * c - s) * (n * c - s)")
    val bound = expr("9 * (n * q - s * s)")
    o.join(broadcast(stats), "o_orderpriority")
      .select(col("o_orderpriority"), col("o_totalprice"), col("n"),
        (dev > bound).as("is_outlier"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        max(when(col("is_outlier"), col("o_totalprice"))).as("max_outlier"))
      .withColumn("outlier_bp", expr("n_outliers * 10000 div n_orders"))
      .orderBy("o_orderpriority")
  }

  /** EXACT PER-GROUP TREND (OLS slope) of monthly revenue per brand — the
   *  "is this segment growing" regression, kept bit-exact by emitting the
   *  slope's integer NUMERATOR and DENOMINATOR (num = nΣxy − ΣxΣy,
   *  den = nΣx² − (Σx)², x = months since the corpus' first ship month,
   *  y = revenue cents) and deriving the double slope as one num/den
   *  division — a single correctly-rounded IEEE op both engines agree on.
   *  Normalizing x by the global min month (a broadcast 1-row aggregate,
   *  never a collect) keeps the slope identical and the magnitudes
   *  bigint-renderable even at sf100.
   *
   *  Scale shape: broadcast dim join (part), two hash aggregates
   *  (brand×month, then brand — both map-side combined), one 1-row
   *  broadcast. No windows, no sorts beyond the 25-row output. */
  def q57Trend(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        expr("year(l_shipdate) * 12 + month(l_shipdate)").as("mabs"),
        expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as decimal(38,0))").as("cents"))
    val minm = li.agg(min("mabs").as("m0")) // 1 row — broadcast, not collected
    val brand = broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand"))
    val monthly = li.join(brand, col("l_partkey") === col("p_partkey"))
      .crossJoin(broadcast(minm))
      .select(col("p_brand"), (col("mabs") - col("m0")).cast("decimal(38,0)").as("x"),
        col("cents").as("y"))
      .groupBy("p_brand", "x")
      .agg(sum("y").as("ym")) // monthly revenue per brand, exact cents
    monthly.groupBy("p_brand")
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"),
        sum(expr("x * x")).as("sxx"),
        sum(col("ym")).as("sy"),
        sum(expr("x * ym")).as("sxy"))
      .select(col("p_brand"),
        col("n").cast("bigint").as("n_months"),
        expr("cast(n * sxy - sx * sy as bigint)").as("slope_num"),
        expr("cast(n * sxx - sx * sx as bigint)").as("slope_den"))
      .withColumn("slope_cents_per_month",
        col("slope_num").cast("double") / col("slope_den").cast("double"))
      .orderBy("p_brand")
  }

  /** TIME-SERIES GAP FILL — hourly resampling with forward-fill, the
   *  densification every metrics/feature pipeline needs before a model
   *  sees the series: per-user hourly sums, a generated dense hour grid
   *  (`sequence` + `explode` — each user's span only, never a global
   *  calendar cross join), left-joined and carried forward with
   *  `last(ignoreNulls)` over the per-user ordered window. Restricted to
   *  a fixed user slice so the row-level output stays bounded at any SF;
   *  the filter pushes to the scan.
   *
   *  Scale shape: the grid explode is O(span) per user; the fill window
   *  partitions on user_id — high-cardinality, the per-key window
   *  discipline. The join key is (user_id, hr) — hash-distributed, no
   *  skew (one row per user-hour by construction). */
  def q58Gapfill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(spark, dir)
      .filter(col("user_id") < 10)
      .groupBy(col("user_id"), expr("ts div 3600000000000").as("hr"))
      .agg(sum(dec("value")).cast("double").as("v"))
    val bounds = hourly.groupBy("user_id").agg(min("hr").as("mn"), max("hr").as("mx"))
    val grid = bounds.select(col("user_id"),
      explode(sequence(col("mn"), col("mx"))).as("hr"))
    val w = Window.partitionBy("user_id").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"), col("v"),
        last(col("v"), ignoreNulls = true).over(w).as("filled"),
        col("v").isNull.as("is_gap"))
      .orderBy("user_id", "hr")
  }

  /** NEW vs RETURNING users per day — the incremental-distinct report:
   *  a user counts as NEW on their first active day, RETURNING after;
   *  `cum_users` is the running distinct-user total, computed WITHOUT a
   *  distinct-over-window (which Spark lacks and which would be
   *  quadratic anyway): first-seen day per user is one aggregate, and
   *  the cumulative count is a prefix sum over the per-day NEW counts.
   *
   *  Scale shape: the (user, day) distinct and the two groupBys are
   *  hash-partitioned on high-cardinality keys; the only unpartitioned
   *  window runs over the PER-DAY aggregate — rows bounded by the
   *  calendar, not the corpus. */
  def q63FirstSeen(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day")).distinct()
    val active = days.groupBy("day").agg(count(lit(1)).as("n_active"))
    val news = days.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(news, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .orderBy("day")
  }

  /** DOW × HOUR TRAFFIC HEATMAP — the weekly seasonality matrix every
   *  capacity plan starts from: event counts per (day-of-week, hour)
   *  cell with exact share bp. Day-of-week is PURE INTEGER calendar
   *  arithmetic — `(epoch_day + 3) mod 7`, 0 = Monday (1970-01-01 was a
   *  Thursday) — because the engines' dayofweek() builtins disagree on
   *  numbering and both must replay the identical formula. One scan,
   *  one 168-cell aggregate, total via a broadcast 1-row frame. */
  def q83DowHour(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      expr("((ts div 86400000000000) + 3) % 7").as("dow"),
      expr("(ts div 3600000000000) % 24").as("hour"))
    ev.groupBy("dow", "hour").agg(count(lit(1)).as("n_events"))
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("total"))))
      .select(col("dow"), col("hour"), col("n_events"),
        expr("(2 * n_events * 10000 + total) div (2 * total)").as("share_bp"))
      .orderBy("dow", "hour")
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE audit — the delta-merge pattern
   *  behind every materialized rollup: a per-customer (orders, cents)
   *  aggregate maintained as base (orders before the cutoff) MERGED with
   *  a CDC delta (orders after) via one full-outer join + coalesced
   *  sums, then reconciled cell-by-cell against the from-scratch
   *  recompute. The output is the audit row a pipeline alerts on:
   *  key/cell counts and a mismatch count that must be zero. Three
   *  aggregates over date-pruned scans (the cutoff predicate pushes to
   *  parquet) and two co-partitioned joins on the customer key. */
  def q84DeltaAgg(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "timestamp '1998-01-01 00:00:00'"
    def agg(pred: String) = Tables.orders(spark, dir)
      .filter(expr(pred))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))) as long)").as("cents"))
    val base = agg(s"o_orderdate < $cutoff")
      .select(col("o_custkey"), col("n").as("bn"), col("cents").as("bc"))
    val delta = agg(s"o_orderdate >= $cutoff")
      .select(col("o_custkey"), col("n").as("dn"), col("cents").as("dc"))
    val merged = base.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("mn"),
        (coalesce(col("bc"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("mc"),
        col("bn").isNull.as("is_new"), col("dn").isNotNull.as("touched"))
    val full = agg("true")
    merged.join(full, Seq("o_custkey"), "full_outer")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("touched"), 1L).otherwise(0L)).as("n_touched"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("mn").isNull || col("n").isNull ||
          col("mn") =!= col("n") || col("mc") =!= col("cents"), 1L).otherwise(0L)).as("n_mismatch"),
        sum("mc").as("total_cents"))
  }

  /** CONTRIBUTION (ratio-to-parent) ROLLUP — the two-level share report
   *  every BI tool calls "percent of parent": each nation's revenue as a
   *  share of its region and of the grand total, plus the region's share
   *  of total, all half-up integer bp. One aggregate per level (nation →
   *  region → total) with broadcast joins back down — never a window
   *  over the fact table; the level frames are dimension-sized. */
  def q94Contribution(spark: SparkSession, dir: String): DataFrame = {
    val byNation = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))) as long)").as("cents"))
    val byRegion = byNation.groupBy("r_name").agg(sum("cents").as("rc"))
    val total = broadcast(byNation.agg(sum("cents").as("t")))
    byNation.join(broadcast(byRegion), "r_name").crossJoin(total)
      .select(col("r_name"), col("n_name"), col("cents"),
        expr("(2 * cents * 10000 + rc) div (2 * rc)").as("share_of_region_bp"),
        expr("(2 * cents * 10000 + t) div (2 * t)").as("share_of_total_bp"),
        expr("(2 * rc * 10000 + t) div (2 * t)").as("region_share_bp"))
      .orderBy("r_name", "n_name")
  }

  /** NEW vs REPEAT revenue split per month — the acquisition-vs-retention
   *  lens on the revenue line: each order is NEW iff it falls in its
   *  customer's first-ever order month. One per-customer min aggregate
   *  (first month), one co-partitioned join back, one calendar-bounded
   *  rollup; shares in half-up bp. Calendar month via year()·100+month()
   *  — identical Gregorian arithmetic in both engines under the UTC pin. */
  def q98NewVsRepeat(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      expr("cast(year(o_orderdate) * 100 + month(o_orderdate) as bigint)").as("month_id"),
      expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))")
        .cast("long").as("cents"))
    val first = o.groupBy("o_custkey").agg(min("month_id").as("first_month"))
    o.join(first, "o_custkey")
      .withColumn("is_new", col("month_id") === col("first_month"))
      .groupBy("month_id")
      .agg(
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_repeat"),
        sum(when(col("is_new"), col("cents")).otherwise(0L)).as("new_cents"),
        sum(when(!col("is_new"), col("cents")).otherwise(0L)).as("repeat_cents"))
      .withColumn("new_share_bp",
        expr("(2 * new_cents * 10000 + (new_cents + repeat_cents)) div (2 * (new_cents + repeat_cents))"))
      .orderBy("month_id")
  }

  /** MONTHLY CHURN LEDGER — the month-over-month movement of the active
   *  customer base: retained (active both months), churned (active last
   *  month, silent this month), appeared (active this month, silent
   *  last). Months on a LINEAR index ((year−1990)·12 + month−1) so
   *  "previous month" is plain integer arithmetic across year
   *  boundaries. One distinct (month, customer) projection, one
   *  self-join shifted by a month (co-partitioned on the customer key),
   *  one calendar-bounded rollup; retention in half-up bp. */
  def q99Churn(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir)
      .select(col("o_custkey").as("cust"),
        expr("cast((year(o_orderdate) - 1990) * 12 + month(o_orderdate) - 1 as bigint)").as("mi"))
      .distinct()
    val cur = a.select(col("cust"), col("mi"))
    val prev = a.select(col("cust"), (col("mi") + 1).as("mi"), lit(true).as("was_active"))
    cur.withColumn("is_active", lit(true))
      .join(prev, Seq("cust", "mi"), "full_outer")
      .groupBy("mi")
      .agg(
        sum(when(col("is_active").isNotNull && col("was_active").isNotNull, 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("is_active").isNotNull && col("was_active").isNull, 1L).otherwise(0L)).as("n_appeared"),
        sum(when(col("is_active").isNull && col("was_active").isNotNull, 1L).otherwise(0L)).as("n_churned"))
      .withColumn("n_active", col("n_retained") + col("n_appeared"))
      .withColumn("retention_bp",
        expr("""CASE WHEN n_retained + n_churned = 0 THEN NULL
                ELSE (2 * n_retained * 10000 + (n_retained + n_churned))
                     div (2 * (n_retained + n_churned)) END"""))
      .orderBy("mi")
  }

  val defs: Vector[QueryDef] = Vector(
    // exact twin: same linear month index, same shifted full-outer join
    QueryDef("q99_churn", q99Churn, Some("""
      WITH a AS (
        SELECT DISTINCT o_custkey AS cust,
               cast((year(o_orderdate) - 1990) * 12 + month(o_orderdate) - 1 as bigint) AS mi
        FROM orders),
      j AS (
        SELECT coalesce(c.cust, p.cust) AS cust,
               coalesce(c.mi, p.mi + 1) AS mi,
               c.cust IS NOT NULL AS is_active,
               p.cust IS NOT NULL AS was_active
        FROM a c FULL OUTER JOIN a p
          ON c.cust = p.cust AND c.mi = p.mi + 1)
      SELECT mi,
             cast(sum(CASE WHEN is_active AND was_active THEN 1 ELSE 0 END) as bigint) AS n_retained,
             cast(sum(CASE WHEN is_active AND NOT was_active THEN 1 ELSE 0 END) as bigint) AS n_appeared,
             cast(sum(CASE WHEN NOT is_active AND was_active THEN 1 ELSE 0 END) as bigint) AS n_churned,
             cast(sum(CASE WHEN is_active THEN 1 ELSE 0 END) as bigint) AS n_active,
             CASE WHEN sum(CASE WHEN was_active THEN 1 ELSE 0 END) = 0 THEN NULL
                  ELSE cast((2 * sum(CASE WHEN is_active AND was_active THEN 1 ELSE 0 END) * 10000
                         + sum(CASE WHEN was_active THEN 1 ELSE 0 END))
                        // (2 * sum(CASE WHEN was_active THEN 1 ELSE 0 END)) as bigint) END AS retention_bp
      FROM j GROUP BY mi ORDER BY mi""")),
    // exact twin: same first-month election and half-up revenue shares
    QueryDef("q98_new_vs_repeat", q98NewVsRepeat, Some("""
      WITH o AS (
        SELECT o_custkey,
               year(o_orderdate) * 100 + month(o_orderdate) AS month_id,
               cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) as bigint) AS cents
        FROM orders),
      f AS (SELECT o_custkey, min(month_id) AS first_month FROM o GROUP BY 1),
      j AS (SELECT o.month_id, o.cents, o.month_id = f.first_month AS is_new
            FROM o JOIN f USING (o_custkey))
      SELECT cast(month_id as bigint) AS month_id,
             cast(sum(CASE WHEN is_new THEN 1 ELSE 0 END) as bigint) AS n_new,
             cast(sum(CASE WHEN is_new THEN 0 ELSE 1 END) as bigint) AS n_repeat,
             cast(sum(CASE WHEN is_new THEN cents ELSE 0 END) as bigint) AS new_cents,
             cast(sum(CASE WHEN is_new THEN 0 ELSE cents END) as bigint) AS repeat_cents,
             cast((2 * sum(CASE WHEN is_new THEN cents ELSE 0 END) * 10000 + sum(cents))
                    // (2 * sum(cents)) as bigint) AS new_share_bp
      FROM j GROUP BY month_id ORDER BY month_id""")),
    // exact twin: the same level aggregates and half-up shares
    QueryDef("q94_contribution", q94Contribution, Some("""
      WITH n AS (
        SELECT r_name, n_name,
               cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2),
      r AS (SELECT r_name, sum(cents) AS rc FROM n GROUP BY 1),
      t AS (SELECT sum(cents) AS t FROM n)
      SELECT n.r_name, n.n_name, n.cents,
             cast((2 * n.cents * 10000 + rc) // (2 * rc) as bigint) AS share_of_region_bp,
             cast((2 * n.cents * 10000 + t.t) // (2 * t.t) as bigint) AS share_of_total_bp,
             cast((2 * rc * 10000 + t.t) // (2 * t.t) as bigint) AS region_share_bp
      FROM n JOIN r USING (r_name), t
      ORDER BY r_name, n_name""")),
    // exact twin: the same pure-integer calendar arithmetic and half-up
    // shares
    QueryDef("q83_dow_hour", q83DowHour, Some("""
      WITH e AS (
        SELECT ((epoch_us(ts) // 86400000000) + 3) % 7 AS dow,
               (epoch_us(ts) // 3600000000) % 24 AS hour
        FROM events),
      g AS (SELECT dow, hour, count(*) AS n_events FROM e GROUP BY 1, 2),
      t AS (SELECT count(*) AS total FROM e)
      SELECT dow, hour, n_events,
             (2 * n_events * 10000 + total) // (2 * total) AS share_bp
      FROM g, t ORDER BY dow, hour""")),
    // exact twin: same base/delta split, same full-outer merge and
    // reconciliation census
    QueryDef("q84_delta_agg", q84DeltaAgg, Some("""
      WITH base AS (
        SELECT o_custkey, count(*) AS bn,
               cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS bc
        FROM orders WHERE o_orderdate < timestamp '1998-01-01 00:00:00'
        GROUP BY 1),
      delta AS (
        SELECT o_custkey, count(*) AS dn,
               cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS dc
        FROM orders WHERE o_orderdate >= timestamp '1998-01-01 00:00:00'
        GROUP BY 1),
      merged AS (
        SELECT coalesce(base.o_custkey, delta.o_custkey) AS o_custkey,
               coalesce(bn, 0) + coalesce(dn, 0) AS mn,
               coalesce(bc, 0) + coalesce(dc, 0) AS mc,
               base.o_custkey IS NULL AS is_new,
               delta.o_custkey IS NOT NULL AS touched
        FROM base FULL OUTER JOIN delta USING (o_custkey)),
      f AS (
        SELECT o_custkey, count(*) AS n,
               cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS cents
        FROM orders GROUP BY 1)
      SELECT count(*) AS n_keys,
             cast(sum(CASE WHEN touched THEN 1 ELSE 0 END) as bigint) AS n_touched,
             cast(sum(CASE WHEN is_new THEN 1 ELSE 0 END) as bigint) AS n_new,
             cast(sum(CASE WHEN mn IS NULL OR n IS NULL
                           OR mn <> n OR mc <> cents THEN 1 ELSE 0 END) as bigint) AS n_mismatch,
             cast(sum(mc) as bigint) AS total_cents
      FROM merged FULL OUTER JOIN f USING (o_custkey)""")),
    QueryDef("q63_first_seen", q63FirstSeen, Some("""
      WITH days AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      active AS (SELECT day, count(*) AS n_active FROM days GROUP BY day),
      firsts AS (SELECT user_id, min(day) AS day FROM days GROUP BY user_id),
      news AS (SELECT day, count(*) AS n_new FROM firsts GROUP BY day)
      SELECT a.day, a.n_active,
             coalesce(n.n_new, 0) AS n_new,
             a.n_active - coalesce(n.n_new, 0) AS n_returning,
             cast(sum(coalesce(n.n_new, 0)) OVER (ORDER BY a.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_users
      FROM active a LEFT JOIN news n ON a.day = n.day
      ORDER BY a.day""")),
    QueryDef("q58_gapfill", q58Gapfill, Some("""
      WITH hourly AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
               cast(sum(cast(value as decimal(12,2))) as double) AS v
        FROM events WHERE user_id < 10 GROUP BY 1, 2),
      b AS (SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1),
      grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS hr FROM b),
      j AS (SELECT g.user_id, g.hr, h.v FROM grid g
            LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr)
      SELECT user_id, hr, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
             v IS NULL AS is_gap
      FROM j ORDER BY user_id, hr""")),
    QueryDef("q56_outliers", q56Outliers, Some("""
      WITH x AS (
        SELECT o_orderpriority, o_totalprice,
               cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) AS c
        FROM orders),
      s AS (
        SELECT o_orderpriority, cast(count(*) as hugeint) AS n,
               sum(c) AS sm, sum(c * c) AS q
        FROM x GROUP BY 1)
      SELECT x.o_orderpriority,
             count(*) AS n_orders,
             cast(sum(CASE WHEN (s.n * x.c - s.sm) * (s.n * x.c - s.sm)
                                > 9 * (s.n * s.q - s.sm * s.sm)
                           THEN 1 ELSE 0 END) as bigint) AS n_outliers,
             max(CASE WHEN (s.n * x.c - s.sm) * (s.n * x.c - s.sm)
                           > 9 * (s.n * s.q - s.sm * s.sm)
                      THEN x.o_totalprice END) AS max_outlier,
             cast(sum(CASE WHEN (s.n * x.c - s.sm) * (s.n * x.c - s.sm)
                                > 9 * (s.n * s.q - s.sm * s.sm)
                           THEN 1 ELSE 0 END) * 10000 // count(*) as bigint) AS outlier_bp
      FROM x JOIN s USING (o_orderpriority)
      GROUP BY 1 ORDER BY 1""")),
    QueryDef("q57_trend", q57Trend, Some("""
      WITH li AS (
        SELECT l_partkey,
               year(l_shipdate) * 12 + month(l_shipdate)
                 - (SELECT min(year(l_shipdate) * 12 + month(l_shipdate)) FROM lineitem)
                 AS x,
               cast(cast(l_extendedprice as decimal(12,2)) * 100 as hugeint) AS cents
        FROM lineitem),
      m AS (
        SELECT p_brand, cast(x as hugeint) AS x, sum(cents) AS ym
        FROM li JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2),
      st AS (
        SELECT p_brand, cast(count(*) as hugeint) AS n,
               sum(x) AS sx, sum(x * x) AS sxx, sum(ym) AS sy, sum(x * ym) AS sxy
        FROM m GROUP BY 1)
      SELECT p_brand, cast(n as bigint) AS n_months,
             cast(n * sxy - sx * sy as bigint) AS slope_num,
             cast(n * sxx - sx * sx as bigint) AS slope_den,
             cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double)
               AS slope_cents_per_month
      FROM st ORDER BY p_brand""")),
    QueryDef("q51_dq_rules", q51DqRules, Some("""
      WITH a AS (
        SELECT count(*) AS n_rows,
               sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 45.0
                        THEN 1 ELSE 0 END) AS v_qty,
               sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.08
                        THEN 1 ELSE 0 END) AS v_disc,
               sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v_ship,
               sum(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')
                        THEN 1 ELSE 0 END) AS v_rf,
               sum(CASE WHEN l_extendedprice IS NULL OR l_extendedprice > 100000.0
                        THEN 1 ELSE 0 END) AS v_price
        FROM lineitem)
      SELECT rule_name, n_rows, n_violations,
             n_violations * 10000 // n_rows AS violation_bp
      FROM (
        SELECT 'discount_le_8pct' AS rule_name, n_rows, cast(v_disc as bigint) AS n_violations FROM a
        UNION ALL SELECT 'price_le_100k', n_rows, cast(v_price as bigint) FROM a
        UNION ALL SELECT 'quantity_in_1_45', n_rows, cast(v_qty as bigint) FROM a
        UNION ALL SELECT 'returnflag_domain', n_rows, cast(v_rf as bigint) FROM a
        UNION ALL SELECT 'shipdate_not_null', n_rows, cast(v_ship as bigint) FROM a) t
      ORDER BY rule_name""")),
    QueryDef("q41_rolling_range", q41RollingRange, Some("""
      SELECT o_custkey, o_orderkey,
             date_diff('day', DATE '1970-01-01', cast(o_orderdate as date)) AS day,
             count(*) OVER w AS n_30d,
             cast(sum(cast(o_totalprice as decimal(12,2))) OVER w as double) AS spend_30d
      FROM orders
      WINDOW w AS (
        PARTITION BY o_custkey
        ORDER BY date_diff('day', DATE '1970-01-01', cast(o_orderdate as date))
        RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, day, o_orderkey""")),
    QueryDef("q42_profile", q42Profile, Some("""
      WITH li AS (
        SELECT *, date_diff('day', DATE '1970-01-01', cast(l_shipdate as date)) AS ship_day
        FROM lineitem),
      a AS (
        SELECT count(*) AS n_rows,
               count(l_quantity) AS nn_qty, count(DISTINCT l_quantity) AS nd_qty,
               min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
               count(l_returnflag) AS nn_rf, count(DISTINCT l_returnflag) AS nd_rf,
               min(l_returnflag) AS min_rf, max(l_returnflag) AS max_rf,
               count(ship_day) AS nn_sd, count(DISTINCT ship_day) AS nd_sd,
               min(ship_day) AS min_sd, max(ship_day) AS max_sd,
               count(l_linestatus) AS nn_ls, count(DISTINCT l_linestatus) AS nd_ls,
               min(l_linestatus) AS min_ls, max(l_linestatus) AS max_ls,
               count(l_orderkey) AS nn_ok,
               min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        FROM li)
      SELECT * FROM (
        SELECT 'l_quantity' AS col_name, n_rows, nn_qty AS n_nonnull, nd_qty AS n_distinct,
               cast(min_qty as double) AS min_num, cast(max_qty as double) AS max_num,
               cast(NULL as varchar) AS min_str, cast(NULL as varchar) AS max_str FROM a
        UNION ALL
        SELECT 'l_returnflag', n_rows, nn_rf, nd_rf, cast(NULL as double), cast(NULL as double), min_rf, max_rf FROM a
        UNION ALL
        SELECT 'l_shipdate_day', n_rows, nn_sd, nd_sd, cast(min_sd as double), cast(max_sd as double), cast(NULL as varchar), cast(NULL as varchar) FROM a
        UNION ALL
        SELECT 'l_linestatus', n_rows, nn_ls, nd_ls, cast(NULL as double), cast(NULL as double), min_ls, max_ls FROM a
        UNION ALL
        SELECT 'l_orderkey', n_rows, nn_ok, cast(NULL as bigint), cast(min_ok as double), cast(max_ok as double), cast(NULL as varchar), cast(NULL as varchar) FROM a)
      ORDER BY col_name""")),
    QueryDef("q36_datetime", q36Datetime, Some("""
      SELECT isodow(cast(o_orderdate as date)) AS isodow, count(*) AS n,
             count(CASE WHEN cast(o_orderdate as date) = last_day(cast(o_orderdate as date)) THEN 1 END) AS n_month_end,
             cast(min(year(o_orderdate)) as bigint) AS min_year
      FROM orders GROUP BY 1 ORDER BY isodow""")),
    QueryDef("q37_json", q37Json, Some("""
      SELECT event_type,
             count(cast(json_extract_string(props, '$.k') as bigint)) AS n_with_k,
             min(cast(json_extract_string(props, '$.k') as bigint)) AS k_min,
             max(cast(json_extract_string(props, '$.k') as bigint)) AS k_max,
             count(CASE WHEN cast(json_extract_string(props, '$.k') as bigint) > 50 THEN 1 END) AS n_large
      FROM events GROUP BY event_type ORDER BY event_type""")),
    QueryDef("q35_window_suite", q35WindowSuite, Some("""
      SELECT o_orderpriority, o_orderkey,
             dense_rank() OVER w AS drank,
             round(percent_rank() OVER w, 6) AS prank,
             round(cume_dist() OVER w, 6) AS cdist,
             lag(o_orderkey, 1) OVER w AS prev_key,
             lead(o_orderkey, 1) OVER w AS next_key,
             first_value(o_orderkey) OVER w AS top_key,
             nth_value(o_orderkey, 3) OVER w AS third_key
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_orderpriority, drank, o_orderkey""")),
    // DuckDB 1.0 has no width_bucket; the arithmetic form is exactly its
    // semantics (bucket 0 below range, n+1 above, else floor(x/w)+1)
    QueryDef("q32_histogram", q32Histogram, Some("""
      SELECT CASE WHEN o_totalprice < 0 THEN 0
                  WHEN o_totalprice >= 500000 THEN 21
                  ELSE cast(floor(o_totalprice / 25000.0) AS bigint) + 1 END AS bucket,
             count(*) AS n
      FROM orders GROUP BY 1 ORDER BY bucket""")),
    QueryDef("q33_ntile", q33Ntile, Some("""
      SELECT quartile, count(*) AS n,
             cast(min(cast(c_acctbal as decimal(12,2))) as double) AS min_bal,
             cast(max(cast(c_acctbal as decimal(12,2))) as double) AS max_bal
      FROM (SELECT c_acctbal, ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
            FROM customer) t
      GROUP BY quartile ORDER BY quartile""")),
    QueryDef("q16_pivot", q16Pivot, Some("""
      SELECT l_returnflag,
             cast(sum(CASE WHEN l_linestatus = 'F' THEN cast(l_quantity as decimal(12,2)) END) as double) AS qty_f,
             cast(sum(CASE WHEN l_linestatus = 'O' THEN cast(l_quantity as decimal(12,2)) END) as double) AS qty_o
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    QueryDef("q17_monthly", q17Monthly, Some("""
      SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
             count(*) AS n_orders,
             cast(sum(cast(o_totalprice as decimal(12,2))) as double) AS revenue
      FROM orders GROUP BY 1, 2 ORDER BY y, m""")),
    QueryDef("q18_strings", q18Strings, Some("""
      SELECT p_partkey, upper(p_brand) AS brand_u,
             substr(p_name, 1, 5) AS name5,
             concat_ws('|', p_type, p_brand) AS type_brand,
             cast(length(replace(p_name, ' ', '')) as bigint) AS name_nospace_len,
             contains(p_name, 'widget') AS is_widget
      FROM part ORDER BY p_partkey""")),
    QueryDef("q19_corr", q19Corr, Some("""
      SELECT n,
             round((n * sxy - sx * sy)
                   / sqrt(n * sxx - sx * sx)
                   / sqrt(n * syy - sy * sy), 6) AS corr_qty_price
      FROM (
        SELECT count(*) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
               sum(x*x) AS sxx, sum(y*y) AS syy
        FROM (SELECT cast(l_quantity as decimal(12,2)) AS x,
                     cast(l_extendedprice as decimal(12,2)) AS y FROM lineitem) v) s""")),
    QueryDef("q20_hash_sample", q20HashSample, Some("""
      SELECT doc_id, lang, n_chars FROM documents
      WHERE substr(md5(cast(doc_id as varchar)), 1, 1) IN ('0', '1')
      ORDER BY doc_id""")),
    QueryDef("q55_below_avg", q55BelowAvg, Some("""
      SELECT cast(cast(sum(cast(l_extendedprice as decimal(12,2))) as varchar) as double) / 7.0
               AS avg_yearly,
             count(*) AS n_lines
      FROM lineitem l
      WHERE l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""")),
    QueryDef("q53_interval_union", q53IntervalUnion, Some("""
      WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
        FROM events),
      f AS (
        SELECT user_id, s, e,
               CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         IS NULL
                      OR max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) < s
                    THEN 1 ELSE 0 END AS new_island
        FROM iv),
      isl AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
        FROM f),
      g AS (
        SELECT user_id, island, min(s) AS is_start, max(e) AS is_end
        FROM isl GROUP BY 1, 2)
      SELECT user_id, count(*) AS n_islands,
             cast(sum(is_end - is_start) as bigint) AS covered_micros
      FROM g GROUP BY user_id ORDER BY user_id""")),
    QueryDef("q52_percentiles", q52Percentiles, Some("""
      WITH r AS (
        SELECT cast(l_extendedprice as decimal(12,2)) AS price,
               row_number() OVER (ORDER BY cast(l_extendedprice as decimal(12,2)),
                                  l_orderkey, l_linenumber) AS rn,
               count(*) OVER () AS n
        FROM lineitem)
      SELECT cast(t.q as double) AS q, cast(r.price as double) AS price
      FROM r JOIN (VALUES (0.50), (0.90), (0.99)) t(q)
        ON r.rn = ceil(cast(t.q as double) * r.n)
      ORDER BY q""")),
    QueryDef("q21_median", q21Median, Some("""
      SELECT p_type, median(p_size) AS median_size, count(*) AS n
      FROM part GROUP BY p_type ORDER BY p_type""")),
    QueryDef("q22_cube", q22Cube, Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),
    QueryDef("q40_grouping_sets", q40GroupingSets, Some("""
      SELECT o_orderstatus, o_orderpriority,
             cast(grouping(o_orderstatus) as bigint) AS g_status,
             cast(grouping(o_orderpriority) as bigint) AS g_prio,
             count(*) AS n,
             cast(sum(cast(o_totalprice as decimal(12,2))) as double) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),
    QueryDef("q23_conditional", q23Conditional, Some("""
      SELECT c_nationkey, count(*) AS n_cust,
             count(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_rich,
             cast(sum(CASE WHEN c_acctbal < 0 THEN cast(c_acctbal as decimal(12,2)) END) as double) AS debt,
             cast(max(cast(c_acctbal as decimal(12,2))) as double) AS max_bal
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")),
    QueryDef("q24_orders_vs_cust", q24OrdersVsCustAvg, Some("""
      SELECT o_orderkey, o_custkey,
             (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey) AS cust_orders
      FROM orders o
      WHERE o_totalprice > 400000
      ORDER BY o_orderkey"""))
  )
}
