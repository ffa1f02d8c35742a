package graft.operators

import graft.Tuning
import graft.Tables
import graft.Tables.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Two classic order-dependent analytics rebuilt on the range-partitioned
 * prefix machinery ([[ScalableRank]]) so neither ever funnels the corpus
 * through a single task:
 *
 *  - `q67_concurrency` — SWEEP LINE: peak concurrent sessions per hour.
 *    The interval-overlap counting shape (how many sessions are open at
 *    once — capacity planning, ad-slot pricing, connection-pool sizing).
 *    Naively this is `sum(delta) OVER (ORDER BY time)` — a global-order
 *    window that Spark executes in ONE task. Here the boundary stream
 *    (+1 at session start, −1 at end) goes through
 *    [[ScalableRank.withGroupedPrefixSum]]: range-partitioned by time,
 *    windowed locally per slice, per-slice carries broadcast back.
 *
 *  - `q68_skyline` — 2-D PARETO FRONTIER: orders nobody should prefer
 *    another order to (lower price AND later date). After aggregating to
 *    the best (latest) date per price point, a point is ON the frontier
 *    iff its date beats the running max date over all strictly cheaper
 *    points — i.e. a 2-D skyline reduces to one sort + one prefix max,
 *    which [[ScalableRank.withGroupedPrefixMax]] distributes the same
 *    way. No dominance self-join (the textbook O(n²) formulation the
 *    oracle uses implicitly via its window), no single-task sort.
 *
 * Both oracles replay the same arithmetic as plain windows in DuckDB;
 * every output column is exact-integer (micros, cents, counts).
 */
object SweepSkyline {

  /** Peak concurrent sessions per hour. Sessions are the q15/q30 gap
   *  sessions (30-min inactivity, per user); each session contributes a
   *  +1/−1 boundary pair at its min/max event time. The sweep order
   *  (us, delta, user_id) is a TOTAL order — simultaneous boundaries
   *  order ends (−1) before starts (+1), so a session ending exactly
   *  when another starts never inflates the peak — and both engines
   *  replay the identical sequence, so per-hour maxima match exactly.
   *  Hours with no boundary events carry a constant concurrency and are
   *  not reported (the report is about where the sweep CHANGES). */
  def q67Concurrency(spark: SparkSession, dir: String): DataFrame = {
    // sessions come from the shared per-corpus artifact
    // ([[SessionAndSkew.gapSessions]] — one sessionization feeds q15 AND
    // q67 instead of two identical window passes); the snapshot also
    // plays the persist-barrier role the old in-query persist had: the
    // range sampler and the repartition replay a LogicalRDD scan, not
    // the 20M-row window
    val bounds = SessionAndSkew.gapSessions(spark, dir)
      .select(explode(array(
        struct(col("s_us").as("us"), lit(1).as("delta"), col("user_id")),
        struct(col("e_us").as("us"), lit(-1).as("delta"), col("user_id")))).as("b"))
      .select(col("b.us").as("us"), col("b.delta").as("delta"), col("b.user_id").as("user_id"))
      .withColumn("g", lit(1)) // one sweep line; range partitioning is by time
    ScalableRank
      .withGroupedPrefixSum(bounds, Seq("g"), Seq("us", "delta", "user_id"), "delta", "prev")
      .withColumn("conc", (col("prev") + col("delta")).cast("long"))
      .groupBy(expr("us div 3600000000").as("hour_id"))
      .agg(max("conc").as("peak"),
        sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("delta") === -1, 1L).otherwise(0L)).as("n_ends"))
      .orderBy("hour_id")
  }

  /** Pareto frontier of orders on (price ↓ better, order date ↑ better).
   *  Candidates first collapse to one row per exact price point (max
   *  date + order count — same-price dominance resolved by the
   *  aggregate), then the prefix-max filter keeps exactly the
   *  non-dominated points. Price is exact cents via the suite's
   *  decimal(12,2) canonicalization; dates are epoch micros. */
  def q68Skyline(spark: SparkSession, dir: String): DataFrame = {
    val cand = Tables.orders(spark, dir)
      .select(
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))")
          .cast("long").as("price_cents"),
        // o_orderdate arrives TIMESTAMP_NTZ; the UTC session pin makes the
        // NTZ→TZ cast the same wall-clock micros DuckDB's epoch_us yields
        unix_micros(col("o_orderdate").cast("timestamp")).as("d_us"))
      .groupBy("price_cents")
      .agg(max("d_us").as("latest_us"), count(lit(1)).as("n_orders"))
      .withColumn("g", lit(1)) // one frontier; range partitioning is by price
    ScalableRank
      .withGroupedPrefixMax(cand, Seq("g"), Seq("price_cents"), "latest_us", "prev_best")
      .filter(col("prev_best").isNull || col("latest_us") > col("prev_best"))
      .select(col("price_cents"), col("latest_us"), col("n_orders"))
      .orderBy("price_cents")
  }

  /** EQUI-HEIGHT HISTOGRAM boundaries — the 10 decile fences of the
   *  lineitem price distribution, each an ACTUAL data row (rank
   *  ⌊i·n/10⌋ under the total order (cents, orderkey, linenumber)).
   *  Optimizer statistics, shard splitting and drift monitors all want
   *  exactly this. The boundary VALUES are a pure functional of the value
   *  distribution (tie-breaks never change the cents at a rank), so the
   *  fences read the shared per-corpus price histogram
   *  ([[SharedHistograms.lineitemPriceCounts]]) through
   *  [[ScalableRank.valuesAtRanksFromCounts]] — O(domain) after the one
   *  shared build scan; never a global sort, never a global window. */
  def q69Equiheight(spark: SparkSession, dir: String): DataFrame = {
    val (hits, _) = ScalableRank.valuesAtRanksFromCounts(
      SharedHistograms.lineitemPriceCounts(spark, dir), "cents", "__c",
      total => (1 to 10).map(i => i * total / 10L), "boundary_rank")
    hits.select(col("boundary_rank"), col("cents")).orderBy("boundary_rank")
  }

  /** CUSUM CHANGE DETECTION over daily event volume — the monitoring
   *  op behind "did traffic shift": sᵢ = max(0, sᵢ₋₁ + nᵢ − μ − k)
   *  (Page 1954), slack k = μ/20, alarm at s > μ/2, all integer. The
   *  recurrence is NONLINEAR (the max-clamp), so unlike the sweep's
   *  prefix sum it does not decompose into per-slice windows + carries —
   *  but its input is the per-DAY aggregate, rows bounded by the
   *  calendar, not the corpus (the q63 discipline). The distributed part
   *  is the daily rollup; the fold runs on the collected day table —
   *  driver-side bookkeeping the size of a month, like the ScalableRank
   *  offset passes. */
  def q71Cusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val mu = daily.map(_._2).sum / daily.length
    val k = mu / 20
    val h = mu / 2
    val out = daily.scanLeft((0L, 0L, 0L)) { case ((_, _, s), (day, n)) =>
      (day, n, math.max(0L, s + n - mu - k))
    }.drop(1).map { case (day, n, s) => (day, n, s, if (s > h) 1L else 0L) }
    import spark.implicits._
    out.toSeq.toDF("day", "n_events", "cusum", "flagged").orderBy("day")
  }

  /** DECILE MOBILITY — the cohort-movement matrix: each customer's spend
   *  decile before vs after a calendar cutoff, counted into the 10×10
   *  transition matrix (who moved up, who churned down — the
   *  customer-lifetime analytics a retention team reads). BOTH rankings
   *  run through the distributed ntile ([[ScalableRank.withNtile]] —
   *  range-partitioned rank, never a global window), each over its full
   *  period population; the matrix join is per-customer. */
  def q72DecileMobility(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp_ntz(lit("1998-04-01 00:00:00"))
    def spend(cond: org.apache.spark.sql.Column) =
      Tables.orders(spark, dir).filter(cond)
        .groupBy(col("o_custkey"))
        .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))) as long)").as("s"))
    val p1 = ScalableRank.withNtile(
      spend(col("o_orderdate") < cutoff), Seq(col("s"), col("o_custkey")), 10, "d1")
      .select(col("o_custkey"), col("d1"))
    val p2 = ScalableRank.withNtile(
      spend(col("o_orderdate") >= cutoff), Seq(col("s"), col("o_custkey")), 10, "d2")
      .select(col("o_custkey"), col("d2"))
    p1.join(p2, "o_custkey")
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_customers"))
      .orderBy("d1", "d2")
  }

  /** LAG-1 AUTOCORRELATION of daily event volume — the "is traffic
   *  momentum real" statistic a forecaster checks before fitting
   *  anything: Pearson correlation between consecutive days' counts.
   *  All moments are exact integer sums over the (day, next-day) pairs
   *  — num = n·Σxy − Σx·Σy, den² = (n·Σx² − (Σx)²)·(n·Σy² − (Σy)²) —
   *  with ONE IEEE sqrt+division at the output boundary (the q57_trend
   *  convention: both engines agree on a single float op over identical
   *  integers). The pairing lag runs over the per-day aggregate —
   *  calendar-bounded rows, the q63 discipline. */
  def q73Autocorr(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.orderBy("day")
    val pairs = Tables.events(spark, dir)
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("y", lead("x", 1).over(byDay))
      .filter(col("y").isNotNull)
    pairs.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n"),
        expr("n * sxy - sx * sy").as("num"),
        expr("n * sxx - sx * sx").as("den_x"),
        expr("n * syy - sy * sy").as("den_y"),
        expr("cast(n * sxy - sx * sy as double) / sqrt(cast(n * sxx - sx * sx as double) * cast(n * syy - sy * sy as double))").as("r"))
  }

  /** ABC / PARETO REVENUE CLASSES — the inventory-analytics classic:
   *  rank parts by revenue, classify into A (first 80% of cumulative
   *  revenue), B (to 95%), C (tail), report each class's size and share.
   *  The running revenue share is a GLOBAL prefix sum in rank order —
   *  exactly [[ScalableRank.withGroupedPrefixSum]] over the negated-
   *  revenue sort key (the primitive takes ascending keys), so the
   *  classification never funnels the part table through one window
   *  task. Class boundaries are cross-multiplied integer compares on
   *  the INCLUSIVE cumulative cents. */
  def q74Abc(spark: SparkSession, dir: String): DataFrame = {
    // one aggregate over the shared part-revenue rank artifact
    // ([[SharedHistograms.partRevenueRanked]]) instead of a private
    // lineitem scan + descending range exchange: the descending inclusive
    // cumulative derives exactly from the artifact's ascending one as
    // `t - cum + r` (within an equal-revenue tie group the cumulative
    // values form the same SET under either tie order, so the per-class
    // counts and sums — the only outputs — are identical).
    val (art, _, t) = SharedHistograms.partRevenueRanked(spark, dir)
    art
      .withColumn("cum", lit(t) - col("cum") + col("r"))
      .withColumn("cls",
        when(col("cum") * 100 <= lit(t) * 80, "A")
          .when(col("cum") * 100 <= lit(t) * 95, "B")
          .otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"), sum("r").as("class_cents"))
      .select(col("cls"), col("n_parts"), col("class_cents"),
        expr(s"(2 * class_cents * 10000 + ${t}L) div (2 * ${t}L)").as("share_bp"))
      .orderBy("cls")
  }

  /** GINI COEFFICIENT of revenue concentration across parts — the
   *  inequality statistic behind "how head-heavy is this catalog"
   *  (and, on a corpus, "how skewed is the source mix"). Closed form on
   *  ascending-ranked values: G = (2·Σ i·rᵢ − (n+1)·Σr) / (n·Σr). The
   *  global rank comes from [[ScalableRank.withGlobalRowNumber]] (range
   *  partition + offsets — no single-task sort); the moments are exact
   *  integer sums in decimal(38) (rank·revenue products overflow long);
   *  one final division at the output boundary. */
  def q75Gini(spark: SparkSession, dir: String): DataFrame = {
    // the ascending rank i is exactly the artifact's row number — one
    // aggregate over the shared snapshot, no private scan or exchange
    val (ranked, n, _) = SharedHistograms.partRevenueRanked(spark, dir)
    ranked.agg(
        sum((col("i") * col("r")).cast("decimal(38,0)")).as("sir"),
        sum(col("r").cast("decimal(38,0)")).as("sr"))
      .select(lit(n).as("n_parts"),
        expr(s"cast(2 * sir - ${n + 1} * sr as double) / cast($n * sr as double)").as("gini"))
  }

  /** LORENZ CURVE decile points — the plot behind [[q75Gini]]'s number:
   *  cumulative revenue share at each population decile (poorest 10%,
   *  20%, …). Deciles come from the distributed ntile over ascending
   *  revenue; the cumulative pass runs over the TEN per-decile rows
   *  (bounded, the q63 discipline); shares are half-up integer bp. */
  def q76Lorenz(spark: SparkSession, dir: String): DataFrame = {
    // decile from the artifact's row number with [[ScalableRank.withNtile]]'s
    // exact SQL-standard arithmetic (first n % 10 buckets get one extra
    // row) — no private scan, no second range exchange
    val (art, n, _) = SharedHistograms.partRevenueRanked(spark, dir)
    val small = n / 10
    val nBig = n % 10
    val big = small + 1
    val bucket =
      when(col("i") <= nBig * big, expr(s"(i - 1) div ${big}L"))
        .otherwise(lit(nBig) + expr(s"(i - 1 - ${nBig * big}L) div ${math.max(small, 1L)}L"))
    val byDecile = art
      .withColumn("decile", (bucket + 1).cast("bigint"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_parts"), sum(col("r").cast("decimal(38,0)")).as("dc"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byDecile // ten rows: the global windows are bounded, not a data funnel
      .withColumn("cum", sum("dc").over(w))
      .withColumn("t", sum("dc").over(wAll))
      .select(col("decile"), col("n_parts"),
        col("dc").cast("string").as("decile_cents"),
        expr("cast((2 * cum * 10000 + t) div (2 * t) as bigint)").as("cum_share_bp"))
      .orderBy("decile")
  }

  /** ACTIVITY STREAKS — the gaps-and-islands classic: for every user,
   *  maximal runs of CONSECUTIVE active days, reported as the global
   *  histogram of streak lengths (how many streaks of each length exist,
   *  and how many distinct users produced one). Retention teams read
   *  exactly this curve ("how long do habits last"). The island id is
   *  the textbook `day − row_number()` trick — constant within a run of
   *  consecutive days, distinct across gaps. The windows partition by
   *  USER (thousands of small partitions — distributes evenly; nothing
   *  here is a global window), and the histogram is a plain two-level
   *  aggregate. All integers. */
  def q77Streaks(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("day")
    val days = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    days
      .withColumn("island", col("day") - row_number().over(byUser))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("len")
      .agg(count(lit(1)).as("n_streaks"),
        countDistinct("user_id").as("n_users"))
      .orderBy("len")
  }

  /** HHI MARKET CONCENTRATION of order revenue across customer nations —
   *  the antitrust/portfolio statistic ("is this corpus dominated by a
   *  few sources"): HHI = Σᵢ shareᵢ², here exact-integer as
   *  ⌊Σrᵢ²·10⁸ / T²⌋ (one floor division over decimal(38) moments — no
   *  per-term rounding to disagree on), plus the top-1 share and the
   *  4-firm concentration ratio in half-up bp. The orders→customer join
   *  shuffles on the customer key (AQE broadcasts the dim side while it
   *  fits); nation attaches broadcast; the top-4 pass sorts the
   *  25-row nation aggregate — bounded, the q63 discipline. */
  def q78Hhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))) as long)").as("r"))
    val moments = rev.agg(
      count(lit(1)).as("n_nations"),
      sum(col("r").cast("decimal(38,0)")).as("t"),
      sum((col("r").cast("decimal(38,0)") * col("r")).cast("decimal(38,0)")).as("srr"),
      max("r").as("rmax"))
    val top4 = rev.orderBy(col("r").desc, col("n_name")).limit(4)
      .agg(sum(col("r").cast("decimal(38,0)")).as("t4"))
    moments.crossJoin(broadcast(top4))
      .select(col("n_nations"),
        expr("cast(srr * 100000000 div (t * t) as bigint)").as("hhi_e8"),
        expr("cast((2 * rmax * 10000 + t) div (2 * t) as bigint)").as("top_share_bp"),
        expr("cast((2 * t4 * 10000 + t) div (2 * t) as bigint)").as("cr4_bp"))
  }

  /** BENFORD FIRST-DIGIT AUDIT over order totals (in cents) — the
   *  fraud/data-quality screen: observed leading-digit shares vs the
   *  Benford expectation log₁₀(1+1/d), the latter pinned as integer bp
   *  CONSTANTS (3010, 1761, …) so both engines compare against the
   *  identical reference with zero float math. One scan, one 9-row
   *  aggregate; shares half-up bp. */
  def q79Benford(spark: SparkSession, dir: String): DataFrame = {
    val benford = "map(1,3010,2,1761,3,1249,4,969,5,792,6,669,7,580,8,512,9,458)"
    Tables.orders(spark, dir)
      .select(expr(
        "cast(substring(cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0)) as string), 1, 1) as bigint)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(Tables.orders(spark, dir).agg(count(lit(1)).as("total"))))
      .select(col("digit"), col("n"),
        expr("(2 * n * 10000 + total) div (2 * total)").as("share_bp"),
        expr(s"cast(element_at($benford, cast(digit as int)) as bigint)").as("benford_bp"))
      .withColumn("delta_bp", col("share_bp") - col("benford_bp"))
      .orderBy("digit")
  }

  /** MEDIAN + MAD (median absolute deviation) of order totals — the
   *  robust dispersion pair behind outlier fences that survive heavy
   *  tails (unlike mean/stddev, one whale order cannot move them). BOTH
   *  medians are lower medians at explicit global rank ⌈n/2⌉, located by
   *  [[ScalableRank.valuesAtRanksFromCounts]] in the shared orders price
   *  histogram — twice: once on values, once on |value − median| with
   *  the 1-row median broadcast. Never a global sort; every output
   *  integer. */
  def q80Mad(spark: SparkSession, dir: String): DataFrame = {
    // BOTH rank passes are functionals of the shared orders price
    // histogram: the median from the value counts directly, and the MAD
    // from a DERIVED count table |cents − median| folded out of the same
    // snapshot (values at equal distance either side of the median merge
    // their counts) — zero corpus scans beyond the shared build.
    val vc = SharedHistograms.ordersPriceCounts(spark, dir)
    val (medRow, n) = ScalableRank.valuesAtRanksFromCounts(
      vc, "cents", "__c", t => Seq((t + 1) / 2), "rk")
    val med = broadcast(medRow.select(col("cents").as("med")))
    val devCounts = vc.crossJoin(med)
      .groupBy(abs(col("cents") - col("med")).as("dev"))
      .agg(sum("__c").as("__c"))
    val (madRow, _) = ScalableRank.valuesAtRanksFromCounts(
      devCounts, "dev", "__c", t => Seq((t + 1) / 2), "rk")
    madRow.select(lit(n).as("n_orders"), col("dev").as("mad_cents"))
      .crossJoin(med)
      .select(col("n_orders"), col("med").as("median_cents"), col("mad_cents"))
  }

  /** BOWLEY (quartile) SKEWNESS of order totals — the robust asymmetry
   *  statistic that pairs with [[q80Mad]]'s robust dispersion: all three
   *  quartiles are ACTUAL data values at explicit global ranks ⌈n/4⌉,
   *  ⌈n/2⌉, ⌈3n/4⌉, located in ONE
   *  [[ScalableRank.valuesAtRanksFromCounts]] pass over the shared orders
   *  price histogram. The coefficient (Q₃+Q₁−2Q₂)/(Q₃−Q₁) is
   *  signed, so it ships as one float division over the exact integer
   *  quartiles (the kappa/q73 convention — signed integer `div` vs `//`
   *  would diverge between engines). */
  def q86Bowley(spark: SparkSession, dir: String): DataFrame = {
    val (rows, n) = ScalableRank.valuesAtRanksFromCounts(
      SharedHistograms.ordersPriceCounts(spark, dir), "cents", "__c",
      t => Seq((t + 3) / 4, (t + 1) / 2, (3 * t + 3) / 4), "rk")
    rows.agg(
        min(when(col("rk") === (n + 3) / 4, col("cents"))).as("q1_cents"),
        min(when(col("rk") === (n + 1) / 2, col("cents"))).as("q2_cents"),
        min(when(col("rk") === (3 * n + 3) / 4, col("cents"))).as("q3_cents"))
      .select(lit(n).as("n_orders"), col("q1_cents"), col("q2_cents"), col("q3_cents"),
        expr("""cast(q3_cents + q1_cents - 2 * q2_cents as double)
               / cast(q3_cents - q1_cents as double)""").as("bowley_skew"))
  }

  /** TUKEY FENCE OUTLIER CENSUS — the boxplot rule at scale: count rows
   *  beyond Q₁−1.5·IQR / Q₃+1.5·IQR. Quartiles come from the shared
   *  lineitem price histogram; the fence test is cross-multiplied by 2
   *  (`2x < 5Q₁ − 3Q₃`) so the 1.5 factor never becomes a float; the
   *  census is a count-weighted fold of the same histogram.
   *  Fences themselves are reported as EXACT half-cents (×2). */
  def q87Tukey(spark: SparkSession, dir: String): DataFrame = {
    // quartiles AND the fence census both read the shared lineitem price
    // histogram: the census is Σ count over values beyond each fence — a
    // weighted fold of the ~600k-row snapshot, not a corpus recount
    val vc = SharedHistograms.lineitemPriceCounts(spark, dir)
    val (rows, n) = ScalableRank.valuesAtRanksFromCounts(
      vc, "cents", "__c", t => Seq((t + 3) / 4, (3 * t + 3) / 4), "rk")
    val q = broadcast(rows.agg(
      min(when(col("rk") === (n + 3) / 4, col("cents"))).as("q1"),
      min(when(col("rk") === (3 * n + 3) / 4, col("cents"))).as("q3")))
    vc.crossJoin(q)
      .agg(max("q1").as("q1_cents"), max("q3").as("q3_cents"),
        sum(when(col("cents") * 2 < col("q1") * 5 - col("q3") * 3, col("__c"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("cents") * 2 > col("q3") * 5 - col("q1") * 3, col("__c"))
          .otherwise(0L)).as("n_high"))
      .select(lit(n).as("n_rows"), col("q1_cents"), col("q3_cents"),
        expr("q1_cents * 5 - q3_cents * 3").as("low_fence_x2"),
        expr("q3_cents * 5 - q1_cents * 3").as("high_fence_x2"),
        col("n_low"), col("n_high"))
  }

  /** WINSORIZED MEAN (5%/95%) of order totals — the outlier-robust mean
   *  that completes the robust family (MAD dispersion, Bowley skew,
   *  Tukey fences): clamp every value to the P5/P95 data points, then
   *  the exact integer mean in half-up hundredths of a cent. Both
   *  percentile values come from ONE
   *  [[ScalableRank.valuesAtRanksFromCounts]] pass over the shared orders
   *  price histogram; the clamp+sum is a count-weighted fold of the same
   *  histogram against the broadcast 1-row bounds. */
  def q88Winsorized(spark: SparkSession, dir: String): DataFrame = {
    // percentile bounds and BOTH moment sums (clamped and raw) are
    // count-weighted folds of the shared orders price histogram —
    // Σ __c·clamp(v) and Σ __c·v in decimal(38) — zero corpus rescans
    val vc = SharedHistograms.ordersPriceCounts(spark, dir)
    val (rows, n) = ScalableRank.valuesAtRanksFromCounts(
      vc, "cents", "__c", t => Seq((t + 19) / 20, (19 * t + 19) / 20), "rk")
    val bounds = broadcast(rows.agg(
      min(when(col("rk") === (n + 19) / 20, col("cents"))).as("p5"),
      min(when(col("rk") === (19 * n + 19) / 20, col("cents"))).as("p95")))
    vc.crossJoin(bounds)
      .agg(max("p5").as("p5_cents"), max("p95").as("p95_cents"),
        sum(expr("cast(__c as decimal(38,0)) * greatest(p5, least(p95, cents))")).as("ws"),
        sum(expr("cast(__c as decimal(38,0)) * cents")).as("rs"))
      .select(lit(n).as("n_orders"), col("p5_cents"), col("p95_cents"),
        expr("cast((2 * ws * 100 + n_orders) div (2 * n_orders) as bigint)")
          .as("winsorized_mean_x100"),
        expr("cast((2 * rs * 100 + n_orders) div (2 * n_orders) as bigint)")
          .as("raw_mean_x100"))
  }

  /** GROUPED EXACT PERCENTILES — per-nation median and P90 order
   *  totals, the per-segment distribution readout. The textbook plan
   *  (`row_number() OVER (PARTITION BY nation ...)`) funnels each
   *  nation's full history through ONE task — fatal when groups are few
   *  and huge. Here the within-group rank is the grouped prefix COUNT
   *  from [[ScalableRank.withGroupedPrefixSum]] (range-partitioned on
   *  (nation, cents) — a nation spans many slices, each bounded), and
   *  each group's two target ranks select by a broadcast-joined
   *  per-group total. Rank formulas are the explicit lower-percentile
   *  ⌈p·n⌉ integers of the q80/q86 family. */
  def q89GroupedMedian(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))")
          .cast("long").as("cents"),
        col("o_orderkey"))
      .withColumn("one", lit(1L))
      // three replays downstream (totals, the range sampler, the
      // repartition) — persist the joined frame once
      .persist(Tuning.persistLevel)
    val totals = df.groupBy("n_name").agg(count(lit(1)).as("cnt"))
    ScalableRank
      .withGroupedPrefixSum(df, Seq("n_name"), Seq("cents", "o_orderkey"), "one", "prev")
      .join(broadcast(totals), "n_name")
      .filter(col("prev") + 1 === expr("(cnt + 1) div 2") ||
        col("prev") + 1 === expr("(9 * cnt + 9) div 10"))
      .groupBy("n_name")
      .agg(max("cnt").as("n_orders"),
        min(when(col("prev") + 1 === expr("(cnt + 1) div 2"), col("cents"))).as("median_cents"),
        min(when(col("prev") + 1 === expr("(9 * cnt + 9) div 10"), col("cents"))).as("p90_cents"))
      .orderBy("n_name")
  }

  /** PER-GROUP MODE — the most frequent exact price point per nation
   *  (ties to the LOWEST price), via the packed-argmax discipline the
   *  graph module uses for label propagation: `cnt·2³² + (2³²−1−cents)`
   *  makes the per-group argmax a plain `max` — two partial-aggregated
   *  shuffles, no window, no per-group sort. Exact while cents < 2³²
   *  (order totals are ≤ ~6·10⁷) and per-group counts < 2³¹. */
  def q91Mode(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))")
          .cast("long").as("cents"))
      .groupBy("n_name", "cents").agg(count(lit(1)).as("cnt"))
      .groupBy("n_name")
      .agg(max(expr("cnt * 4294967296 + (4294967295 - cents)")).as("sc"))
      .select(col("n_name"),
        expr("4294967295 - (sc % 4294967296)").as("mode_cents"),
        expr("sc div 4294967296").as("mode_count"))
      .orderBy("n_name")

  /** VARIANCE DECOMPOSITION (η²) — how much of order-value variance the
   *  order priority explains: SSB/SST from exact integer moments
   *  (per-group n/Σx/Σx², global Σx/Σx², all decimal(38) — cents² sums
   *  pass 2⁶³ fast). Between-groups mass Σ_g S_g²/n_g uses per-group
   *  FLOOR division — deterministic on both engines where a float sum
   *  over groups would be partition-order-dependent; the dropped
   *  remainders total < n_groups against ~10¹⁵-scale terms. Output is
   *  η² in floor e6 units (nonneg, so `div` vs `//` agree); every
   *  intermediate stays decimal(38) — no long-typed quotient anywhere
   *  (they pass 2⁶³ already at sf0.1). */
  def q92EtaSquared(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as decimal(38,0))")
    val g = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s"),
        sum((cents * cents).cast("decimal(38,0)")).as("ss"))
    g.agg(count(lit(1)).as("n_groups"),
        sum("n").as("nn"), sum("s").as("st"), sum("ss").as("sst"),
        // Σ_g ⌊S_g²/n_g⌋ — per-group FLOOR division pinned on both
        // engines (a float Σ S_g²/n_g would be partition-order-dependent);
        // the dropped remainders total < n_groups, invisible at e6 scale.
        // NOT `div`: IntegralDivide returns LONG and these quotients pass
        // 2⁶³ at sf0.1 — subtract the remainder first, then the decimal
        // division is exact (integer quotient, no rounding to bite)
        sum(expr("""cast(((cast(s as decimal(38,0)) * s) - (cast(s as decimal(38,0)) * s) % n) / n
                   as decimal(38,0))""")).as("ssbs"))
      // multiplied through by N: η² = (N·Σ⌊S_g²/n_g⌋ − S²)/(N·SST − S²) —
      // every intermediate stays decimal(38), no long-typed quotient
      .select(col("n_groups"), col("nn").cast("long").as("n_orders"),
        expr("""cast(((cast(nn as decimal(38,0)) * ssbs - cast(st as decimal(38,0)) * st) * 1000000)
               div (cast(nn as decimal(38,0)) * sst - cast(st as decimal(38,0)) * st) as bigint)""")
          .as("eta_sq_e6"))
  }

  /** CHI-SQUARE INDEPENDENCE audit — is event type independent of
   *  day-of-week: per-cell contributions (N·O − r·c)²·10⁴ / (N·r·c) in
   *  EXACT half-up integer e4 units (cross-multiplied — the expected
   *  count never becomes a float), summed exactly. 35 bounded cells; the
   *  marginals join broadcast. decimal(38) headroom: (N·O)²·10⁴ at
   *  N = 10⁸ events is ~10³⁶. */
  def q93Chisq(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_type"), expr("((ts div 86400000000000) + 3) % 7").as("dow"))
    val obs = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rowM = ev.groupBy("event_type").agg(count(lit(1)).as("r"))
    val colM = ev.groupBy("dow").agg(count(lit(1)).as("c"))
    val tot = ev.agg(count(lit(1)).as("nn"))
    obs.join(broadcast(rowM), "event_type").join(broadcast(colM), "dow")
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("dow"), col("o"),
        // widen BEFORE multiplying — nn·o in raw longs would wrap at
        // ~3·10⁹ input rows
        expr("""cast((2 * (cast(nn as decimal(38,0)) * o - cast(r as decimal(38,0)) * c)
                 * (cast(nn as decimal(38,0)) * o - cast(r as decimal(38,0)) * c) * 10000
                 + cast(nn as decimal(38,0)) * r * c)
                 div (2 * cast(nn as decimal(38,0)) * r * c) as bigint)""").as("contrib_e4"))
      .orderBy("event_type", "dow")
  }

  val defs: Vector[QueryDef] = Vector(
    // exact twin: same integer moments, same two bounded float divisions
    QueryDef("q92_eta_squared", q92EtaSquared, Some("""
      WITH g AS (
        SELECT o_orderpriority, count(*) AS n,
               sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)) AS s,
               sum(cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)
                   * cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) as hugeint)) AS ss
        FROM orders GROUP BY 1),
      m AS (
        SELECT count(*) AS n_groups, sum(n) AS nn, sum(s) AS st, sum(ss) AS sst,
               sum((cast(s as hugeint) * s) // n) AS ssbs
        FROM g)
      SELECT n_groups, cast(nn as bigint) AS n_orders,
             cast(((cast(nn as hugeint) * ssbs - cast(st as hugeint) * st) * 1000000)
                    // (cast(nn as hugeint) * sst - cast(st as hugeint) * st) as bigint) AS eta_sq_e6
      FROM m""")),
    // exact twin: same integer calendar dow, same cross-multiplied
    // half-up per-cell contributions
    QueryDef("q93_chisq", q93Chisq, Some("""
      WITH e AS (
        SELECT event_type, ((epoch_us(ts) // 86400000000) + 3) % 7 AS dow
        FROM events),
      obs AS (SELECT event_type, dow, count(*) AS o FROM e GROUP BY 1, 2),
      r AS (SELECT event_type, count(*) AS r FROM e GROUP BY 1),
      c AS (SELECT dow, count(*) AS c FROM e GROUP BY 1),
      t AS (SELECT count(*) AS nn FROM e)
      SELECT obs.event_type, obs.dow, obs.o,
             cast((2 * (cast(nn as hugeint) * o - cast(r.r as hugeint) * c.c)
                    * (cast(nn as hugeint) * o - cast(r.r as hugeint) * c.c) * 10000
                    + cast(nn as hugeint) * r.r * c.c)
                   // (2 * cast(nn as hugeint) * r.r * c.c) as bigint) AS contrib_e4
      FROM obs JOIN r USING (event_type) JOIN c USING (dow), t
      ORDER BY event_type, dow""")),
    // exact twin: the same packed argmax, so the tiebreak is bit-identical
    QueryDef("q91_mode", q91Mode, Some("""
      WITH d AS (
        SELECT n_name,
               cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) as bigint) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      g AS (SELECT n_name, cents, cast(count(*) as bigint) AS cnt FROM d GROUP BY 1, 2),
      p AS (SELECT n_name, max(cnt * 4294967296 + (4294967295 - cents)) AS sc
            FROM g GROUP BY 1)
      SELECT n_name,
             4294967295 - (sc % 4294967296) AS mode_cents,
             sc // 4294967296 AS mode_count
      FROM p ORDER BY n_name""")),
    // exact twin: per-group row_number window at the same explicit ranks
    QueryDef("q89_grouped_median", q89GroupedMedian, Some("""
      WITH d AS (
        SELECT n_name,
               cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) as bigint) AS cents,
               o_orderkey
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      r AS (
        SELECT n_name, cents,
               row_number() OVER (PARTITION BY n_name ORDER BY cents, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY n_name) AS cnt
        FROM d)
      SELECT n_name, cast(max(cnt) as bigint) AS n_orders,
             min(CASE WHEN rn = (cnt + 1) // 2 THEN cents END) AS median_cents,
             min(CASE WHEN rn = (9 * cnt + 9) // 10 THEN cents END) AS p90_cents
      FROM r
      WHERE rn = (cnt + 1) // 2 OR rn = (9 * cnt + 9) // 10
      GROUP BY n_name ORDER BY n_name""")),
    // exact twin: same explicit percentile ranks, same clamp, same
    // half-up integer means
    QueryDef("q88_winsorized", q88Winsorized, Some("""
      WITH c AS (
        SELECT cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) as bigint) AS cents,
               o_orderkey
        FROM orders),
      n AS (SELECT count(*) AS n FROM c),
      r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rn FROM c),
      b AS (
        SELECT min(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS p5,
               min(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS p95
        FROM r, n)
      SELECT n.n AS n_orders, b.p5 AS p5_cents, b.p95 AS p95_cents,
             cast((2 * sum(cast(greatest(b.p5, least(b.p95, c.cents)) as hugeint)) * 100 + n.n)
                    // (2 * n.n) as bigint) AS winsorized_mean_x100,
             cast((2 * sum(cast(c.cents as hugeint)) * 100 + n.n)
                    // (2 * n.n) as bigint) AS raw_mean_x100
      FROM c, b, n GROUP BY n.n, b.p5, b.p95""")),
    // exact twin: quartiles at the same explicit row_number ranks, one
    // float division at the end
    QueryDef("q86_bowley", q86Bowley, Some("""
      WITH c AS (
        SELECT cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) as bigint) AS cents,
               o_orderkey
        FROM orders),
      n AS (SELECT count(*) AS n FROM c),
      r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rn FROM c),
      q AS (
        SELECT min(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1_cents,
               min(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS q2_cents,
               min(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3_cents
        FROM r, n)
      SELECT n.n AS n_orders, q1_cents, q2_cents, q3_cents,
             cast(q3_cents + q1_cents - 2 * q2_cents as double)
               / cast(q3_cents - q1_cents as double) AS bowley_skew
      FROM q, n""")),
    // exact twin: same ranks, same cross-multiplied integer fences
    QueryDef("q87_tukey", q87Tukey, Some("""
      WITH c AS (
        SELECT cast(cast(cast(l_extendedprice as decimal(12,2)) * 100 as hugeint) as bigint) AS cents,
               l_orderkey, l_linenumber
        FROM lineitem),
      n AS (SELECT count(*) AS n FROM c),
      r AS (SELECT cents,
                   row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber) AS rn
            FROM c),
      q AS (
        SELECT min(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1,
               min(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3
        FROM r, n)
      SELECT n.n AS n_rows, q.q1 AS q1_cents, q.q3 AS q3_cents,
             q.q1 * 5 - q.q3 * 3 AS low_fence_x2,
             q.q3 * 5 - q.q1 * 3 AS high_fence_x2,
             cast(sum(CASE WHEN c.cents * 2 < q.q1 * 5 - q.q3 * 3 THEN 1 ELSE 0 END) as bigint) AS n_low,
             cast(sum(CASE WHEN c.cents * 2 > q.q3 * 5 - q.q1 * 3 THEN 1 ELSE 0 END) as bigint) AS n_high
      FROM c, q, n
      GROUP BY n.n, q.q1, q.q3""")),
    // exact twin: same island trick as a window, same two-level rollup
    QueryDef("q77_streaks", q77Streaks, Some("""
      WITH d AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events),
      i AS (
        SELECT user_id,
               day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        FROM d),
      s AS (
        SELECT user_id, island, count(*) AS len
        FROM i GROUP BY 1, 2)
      SELECT len, count(*) AS n_streaks,
             count(DISTINCT user_id) AS n_users
      FROM s GROUP BY len ORDER BY len""")),
    // exact twin: hugeint moments, the same single floor division for the
    // index and half-up shares for the ratios
    QueryDef("q78_hhi", q78Hhi, Some("""
      WITH rev AS (
        SELECT n_name,
               cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS r
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1),
      m AS (
        SELECT count(*) AS n_nations, sum(cast(r as hugeint)) AS t,
               sum(cast(r as hugeint) * r) AS srr, max(r) AS rmax
        FROM rev),
      t4 AS (
        SELECT sum(cast(r as hugeint)) AS t4
        FROM (SELECT r FROM rev ORDER BY r DESC, n_name LIMIT 4))
      SELECT n_nations,
             cast(srr * 100000000 // (t * t) as bigint) AS hhi_e8,
             cast((2 * rmax * 10000 + t) // (2 * t) as bigint) AS top_share_bp,
             cast((2 * t4 * 10000 + t) // (2 * t) as bigint) AS cr4_bp
      FROM m, t4""")),
    // exact twin: same leading-digit extraction over the exact cents
    // string, the same pinned integer Benford constants
    QueryDef("q79_benford", q79Benford, Some("""
      WITH d AS (
        SELECT cast(substring(cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) as varchar), 1, 1) as bigint) AS digit
        FROM orders),
      g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      t AS (SELECT count(*) AS total FROM orders)
      SELECT digit, n,
             (2 * n * 10000 + total) // (2 * total) AS share_bp,
             cast(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761 WHEN 3 THEN 1249
                             WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669
                             WHEN 7 THEN 580 WHEN 8 THEN 512 ELSE 458 END as bigint) AS benford_bp,
             (2 * n * 10000 + total) // (2 * total)
               - CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761 WHEN 3 THEN 1249
                            WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669
                            WHEN 7 THEN 580 WHEN 8 THEN 512 ELSE 458 END AS delta_bp
      FROM g, t ORDER BY digit""")),
    // exact twin: both lower medians at explicit row_number rank ⌈n/2⌉
    // under the same total orders
    QueryDef("q80_mad", q80Mad, Some("""
      WITH c AS (
        SELECT cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) as bigint) AS cents,
               o_orderkey
        FROM orders),
      n AS (SELECT count(*) AS n FROM c),
      r AS (
        SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rn FROM c),
      med AS (SELECT cents AS med FROM r, n WHERE rn = (n + 1) // 2),
      dv AS (
        SELECT abs(cents - med) AS dev, o_orderkey FROM c, med),
      dr AS (
        SELECT dev, row_number() OVER (ORDER BY dev, o_orderkey) AS rn FROM dv),
      mad AS (SELECT dev AS mad_cents FROM dr, n WHERE rn = (n + 1) // 2)
      SELECT n.n AS n_orders, med.med AS median_cents, mad.mad_cents
      FROM n, med, mad""")),
    // exact twin: window ntile over the same ascending key, bounded
    // cumulative pass, identical half-up shares (cents as strings — the
    // decimal/hugeint totals exceed the double-safe range)
    QueryDef("q76_lorenz", q76Lorenz, Some("""
      WITH rev AS (
        SELECT l_partkey,
               cast(sum(cast(cast(l_extendedprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS r
        FROM lineitem GROUP BY 1),
      d AS (
        SELECT r, ntile(10) OVER (ORDER BY r, l_partkey) AS decile FROM rev),
      g AS (
        SELECT decile, count(*) AS n_parts, sum(cast(r as hugeint)) AS dc
        FROM d GROUP BY 1),
      c AS (
        SELECT decile, n_parts, dc,
               sum(dc) OVER (ORDER BY decile
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM g),
      t AS (SELECT sum(cast(r as hugeint)) AS t FROM rev)
      SELECT cast(decile as bigint) AS decile, n_parts,
             cast(dc as varchar) AS decile_cents,
             cast((2 * cum * 10000 + t.t) // (2 * t.t) as bigint) AS cum_share_bp
      FROM c, t ORDER BY decile""")),
    // exact twin: ascending row_number rank, hugeint moments, one division
    QueryDef("q75_gini", q75Gini, Some("""
      WITH rev AS (
        SELECT l_partkey,
               cast(sum(cast(cast(l_extendedprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS r
        FROM lineitem GROUP BY 1),
      rk AS (
        SELECT r, row_number() OVER (ORDER BY r, l_partkey) AS i FROM rev),
      m AS (
        SELECT cast(count(*) as hugeint) AS n,
               sum(cast(i as hugeint) * r) AS sir, sum(cast(r as hugeint)) AS sr
        FROM rk)
      SELECT cast(n as bigint) AS n_parts,
             cast(2 * sir - (n + 1) * sr as double) / cast(n * sr as double) AS gini
      FROM m""")),
    // exact twin: the rank-order running sum as a window, same
    // cross-multiplied class boundaries and half-up shares
    QueryDef("q74_abc", q74Abc, Some("""
      WITH rev AS (
        SELECT l_partkey,
               cast(sum(cast(cast(l_extendedprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS r
        FROM lineitem GROUP BY 1),
      tot AS (SELECT sum(r) AS t FROM rev),
      c AS (
        SELECT l_partkey, r,
               sum(r) OVER (ORDER BY r DESC, l_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM rev),
      k AS (
        SELECT r, CASE WHEN cum * 100 <= t * 80 THEN 'A'
                       WHEN cum * 100 <= t * 95 THEN 'B'
                       ELSE 'C' END AS cls
        FROM c, tot)
      SELECT cls, count(*) AS n_parts,
             cast(sum(r) as bigint) AS class_cents,
             cast((2 * sum(r) * 10000 + t) // (2 * t) as bigint) AS share_bp
      FROM k, tot
      GROUP BY cls, t ORDER BY cls""")),
    // exact twin: same integer moments, one float sqrt/division at the end
    QueryDef("q73_autocorr", q73Autocorr, Some("""
      WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS x
        FROM events GROUP BY 1),
      p AS (
        SELECT x, lead(x) OVER (ORDER BY day) AS y FROM d),
      q AS (SELECT x, y FROM p WHERE y IS NOT NULL),
      m AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM q)
      SELECT cast(n as bigint) AS n,
             cast(n * sxy - sx * sy as bigint) AS num,
             cast(n * sxx - sx * sx as bigint) AS den_x,
             cast(n * syy - sy * sy as bigint) AS den_y,
             cast(n * sxy - sx * sy as double)
               / sqrt(cast(n * sxx - sx * sx as double) * cast(n * syy - sy * sy as double)) AS r
      FROM m""")),
    // exact twin: two window ntiles over the same per-period spend
    QueryDef("q72_decile_mobility", q72DecileMobility, Some("""
      WITH s1 AS (
        SELECT o_custkey,
               cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS s
        FROM orders WHERE o_orderdate < timestamp '1998-04-01 00:00:00'
        GROUP BY 1),
      s2 AS (
        SELECT o_custkey,
               cast(sum(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint)) as bigint) AS s
        FROM orders WHERE o_orderdate >= timestamp '1998-04-01 00:00:00'
        GROUP BY 1),
      p1 AS (SELECT o_custkey, ntile(10) OVER (ORDER BY s, o_custkey) AS d1 FROM s1),
      p2 AS (SELECT o_custkey, ntile(10) OVER (ORDER BY s, o_custkey) AS d2 FROM s2)
      SELECT cast(d1 as bigint) AS d1, cast(d2 as bigint) AS d2,
             count(*) AS n_customers
      FROM p1 JOIN p2 USING (o_custkey)
      GROUP BY 1, 2 ORDER BY d1, d2""")),
    // exact twin: the recurrence replayed by an ordinal recursive CTE
    QueryDef("q71_cusum", q71Cusum, Some("""
      WITH RECURSIVE d AS (
        SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n
        FROM events GROUP BY 1),
      m AS (SELECT sum(n) // count(*) AS mu FROM d),
      o AS (SELECT day, n, row_number() OVER (ORDER BY day) AS i FROM d),
      r AS (
        SELECT o.i, o.day, o.n,
               greatest(0, o.n - m.mu - m.mu // 20) AS s
        FROM o, m WHERE o.i = 1
        UNION ALL
        SELECT o.i, o.day, o.n,
               greatest(0, r.s + o.n - m.mu - m.mu // 20)
        FROM r JOIN o ON o.i = r.i + 1, m)
      SELECT day, cast(n as bigint) AS n_events, cast(s as bigint) AS cusum,
             cast(CASE WHEN s > (SELECT mu // 2 FROM m) THEN 1 ELSE 0 END as bigint) AS flagged
      FROM r ORDER BY day""")),
    QueryDef("q69_equiheight", q69Equiheight, Some("""
      WITH t AS (
        SELECT cast(cast(cast(l_extendedprice as decimal(12,2)) * 100 as hugeint) as bigint) AS cents,
               l_orderkey, l_linenumber
        FROM lineitem),
      r AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber) AS rn
        FROM t),
      n AS (SELECT count(*) AS total FROM t),
      picks AS (
        SELECT DISTINCT (i * total) // 10 AS rn
        FROM n, unnest(range(1, 11)) u(i))
      SELECT r.rn AS boundary_rank, r.cents
      FROM r JOIN picks USING (rn)
      ORDER BY boundary_rank""")),
    QueryDef("q67_concurrency", q67Concurrency, Some("""
      WITH g AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        FROM events),
      s AS (
        SELECT user_id, ts_us,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM g),
      sess AS (
        SELECT user_id, sess_id, min(ts_us) AS s_us, max(ts_us) AS e_us
        FROM s GROUP BY 1, 2),
      b AS (
        SELECT s_us AS us, 1 AS delta, user_id FROM sess
        UNION ALL
        SELECT e_us AS us, -1 AS delta, user_id FROM sess),
      r AS (
        SELECT us, delta,
               sum(delta) OVER (ORDER BY us, delta, user_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM b)
      SELECT us // 3600000000 AS hour_id,
             cast(max(conc) as bigint) AS peak,
             cast(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) as bigint) AS n_starts,
             cast(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) as bigint) AS n_ends
      FROM r GROUP BY 1 ORDER BY 1""")),
    QueryDef("q68_skyline", q68Skyline, Some("""
      WITH cand AS (
        SELECT cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as hugeint) as bigint) AS price_cents,
               max(epoch_us(o_orderdate)) AS latest_us,
               count(*) AS n_orders
        FROM orders GROUP BY 1),
      r AS (
        SELECT price_cents, latest_us, n_orders,
               max(latest_us) OVER (ORDER BY price_cents
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        FROM cand)
      SELECT price_cents, latest_us, cast(n_orders as bigint) AS n_orders
      FROM r WHERE prev IS NULL OR latest_us > prev
      ORDER BY price_cents"""))
  )
}
