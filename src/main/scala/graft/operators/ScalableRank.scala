package graft.operators

import graft.Tuning
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Scale-safe global ranking — the distributed form of
 * `row_number() OVER (ORDER BY …)` / `ntile(n) OVER (ORDER BY …)`.
 *
 * A no-partitionBy window collapses the whole table into ONE task (Spark
 * even warns). This operator instead:
 *   1. range-partitions by the sort key (parallel sample-based split, the
 *      same machinery as a distributed ORDER BY),
 *   2. ranks locally inside each range partition (a window partitioned by
 *      the partition id — every task ranks only its own slice),
 *   3. adds per-partition offsets from a tiny count-per-partition
 *      aggregate (O(#partitions) rows on the driver, like AQE stats).
 *
 * The result is the exact global row number for any total order; ties must
 * be broken by the caller's sort key (include a unique column).
 */
object ScalableRank {

  /** The range slices every pass here starts from: `df` range-partitioned
   *  by `sortCols` into one slice per shuffle partition (32 when unset),
   *  each row tagged with its slice id `__pid`, persisted. Every caller
   *  scans the slices twice (per-slice stats, then the local windows), and
   *  the persist pins ONE partitioning across both: the range sampler
   *  seeds from the RDD id, so re-planning it draws DIFFERENT boundaries
   *  and the two scans would disagree on what `__pid` means (observed as
   *  wrong percentiles on real data). */
  private def rangeSlices(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    df.repartitionByRange(parts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(Tuning.persistLevel)
  }

  /** Adds `outCol` = exact global 1-based row number under `sortCols`
   *  (which must form a total order). Returns (df, totalRows) — the total
   *  comes free from the offset pass and callers (ntile) need it. */
  def withGlobalRowNumber(df: DataFrame, sortCols: Seq[Column], outCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val ranged = rangeSlices(df, sortCols)
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) => (pid, acc + c) }
    val total = counts.map(_._2).sum
    val offsetDf = broadcast(
      spark.createDataFrame(counts.zip(offsets.init.map(_._2)).map { case ((pid, _), off) => (pid, off) })
        .toDF("__pid", "__offset"))
    val local = Window.partitionBy("__pid").orderBy(sortCols: _*)
    val ranked = ranged
      .withColumn("__lrn", row_number().over(local))
      .join(offsetDf, "__pid")
      .withColumn(outCol, (col("__offset") + col("__lrn")).cast("bigint"))
      .drop("__pid", "__lrn", "__offset")
    (ranked, total)
  }

  /** Adds BOTH the exact global 1-based row number AND the exact INCLUSIVE
   *  global running sum of `valueCol` under `sortCols` (a total order) in
   *  ONE range exchange — for consumers that want a rank and a cumulative
   *  measure of the same ordering (the Pareto/Lorenz/Gini family), where
   *  running [[withGlobalRowNumber]] and [[withGroupedPrefixSum]] separately
   *  would pay the identical range shuffle twice. Same two-phase shape:
   *  range-partition, collect per-slice (count, sum) — O(#partitions)
   *  driver rows — window locally, add both offsets.
   *  Returns (df, totalRows, totalSum, release): `release` unpersists the
   *  build's range-partitioned scratch frame — call it once the caller has
   *  materialized its own copy of the result (snapshot), otherwise a full
   *  input-sized cached frame stays pinned for the application lifetime. */
  def withRowNumberAndPrefixSum(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                                rnCol: String, sumCol: String): (DataFrame, Long, Long, () => Unit) = {
    val spark = df.sparkSession
    val ranged = rangeSlices(df, sortCols)
    val stats = ranged.groupBy("__pid")
      // coalesce: a non-empty slice whose values are ALL NULL sums to NULL
      // (none of the current callers feed nullable values, but getLong on
      // a null would NPE rather than rank wrong — keep it impossible)
      .agg(count(lit(1)).as("__c"),
        coalesce(sum(col(valueCol)).cast("long"), lit(0L)).as("__s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val total = stats.map(_._2).sum
    val totalSum = stats.map(_._3).sum
    val rnOff = stats.scanLeft(0L)((acc, t) => acc + t._2).init
    val sumOff = stats.scanLeft(0L)((acc, t) => acc + t._3).init
    val offsetDf = broadcast(
      spark.createDataFrame(stats.zip(rnOff).zip(sumOff)
        .map { case (((pid, _, _), ro), so) => (pid, ro, so) }.toSeq)
        .toDF("__pid", "__rnoff", "__sumoff"))
    val localW = Window.partitionBy("__pid").orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = ranged
      .withColumn("__lrn", count(lit(1)).over(localW))
      .withColumn("__lsum", sum(col(valueCol)).over(localW).cast("long"))
      .join(offsetDf, "__pid")
      .withColumn(rnCol, (col("__rnoff") + col("__lrn")).cast("bigint"))
      .withColumn(sumCol, (col("__sumoff") + col("__lsum")).cast("bigint"))
      .drop("__pid", "__lrn", "__lsum", "__rnoff", "__sumoff")
    (out, total, totalSum, () => { ranged.unpersist(blocking = false); () })
  }

  /** Per-corpus shared value-count snapshot — the engine's exact-histogram
   *  STATISTICS ARTIFACT: `(value, count)` for every distinct value of one
   *  expression over one table, built once per (application, corpus) and
   *  snapshotted at the RDD level (survives `clearCache`, like the dedup
   *  shingle index). Every robust-stat query over the same distribution
   *  (percentile locate, MAD, winsorized moments, Tukey census, decile
   *  fences) is a pure functional of this table, so after the one build
   *  scan they all run in O(value domain) — at 100 TB this is the
   *  difference between five full corpus scans and five reads of a ~600k-
   *  row artifact. `key` names the (table, expression) pair. */
  private val vcCache = graft.CorpusCaches.snapshots[(String, String)]()
  def sharedValueCounts(spark: org.apache.spark.sql.SparkSession, dir: String,
                        key: String, valueCol: String)
                       (build: => DataFrame): DataFrame =
    vcCache(spark, (dir, key))(build.groupBy(col(valueCol)).agg(count(lit(1)).as("__c")))

  /** VALUES at specific global ranks, located in a `(valueCol, countCol)`
   *  table (a [[sharedValueCounts]] snapshot or any derived count table,
   *  e.g. |v − median| for MAD) — the pure-percentile shape: the value at
   *  global rank r under ANY tie-broken total order led by `valueCol` is
   *  determined solely by the value distribution, so the count table
   *  replaces the sort entirely. Range-partition the small table, collect
   *  per-slice weights (O(#partitions) driver rows), map each target rank
   *  to its slice, window-cumsum ONLY the hit slices. `ranksOf` receives
   *  the total and returns the 1-based ranks wanted; ranks outside
   *  [1, total] are dropped.
   *
   *  Precondition: `valueCol` must be non-null (enforced — Spark sorts
   *  nulls first, DuckDB last, so a null-bearing rank would diverge
   *  between engines; count the nulls out before calling).
   *  Returns (rows of (`outCol` = rank, `valueCol`), total = Σ count). */
  def valuesAtRanksFromCounts(vcIn: DataFrame, valueCol: String, countCol: String,
                              ranksOf: Long => Seq[Long], outCol: String): (DataFrame, Long) = {
    val spark = vcIn.sparkSession
    val vc = rangeSlices(vcIn, Seq(col(valueCol))) // domain-sized
    val sums = vc.groupBy("__pid")
      .agg(sum(countCol).as("w"), count(when(col(valueCol).isNull, 1)).as("nulls"))
      .collect().map(r => (r.getInt(0), r.getAs[Long]("w"), r.getAs[Long]("nulls")))
      .sortBy(_._1)
    require(sums.forall(_._3 == 0L),
      s"valuesAtRanksFromCounts: $valueCol contains nulls — rank order would diverge between engines")
    val total = sums.map(_._2).sum
    val offsets = sums.scanLeft((0, 0L)) { case ((_, acc), (pid, w, _)) => (pid, acc + w) }
    val before = sums.map(_._1).zip(offsets.init.map(_._2)).toMap
    val hits = ranksOf(total).distinct.collect {
      case r if r >= 1 && r <= total =>
        val pid = sums.find { case (p, w, _) => r > before(p) && r <= before(p) + w }.get._1
        (pid, r - before(pid), r)
    }
    import spark.implicits._
    val hitDf = broadcast(hits.toDF("__pid", "__t", outCol))
    val cumWin = Window.partitionBy("__pid").orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = vc.filter(col("__pid").isin(hits.map(_._1).distinct: _*))
      .withColumn("__cum", sum(countCol).over(cumWin))
      .join(hitDf, Seq("__pid"))
      // the first value whose cumulative weight reaches the local target
      .filter(col("__cum") >= col("__t") && col("__cum") - col(countCol) < col("__t"))
      .select(col(outCol), col(valueCol))
    (out, total)
  }

  /** Adds `outCol` = exact EXCLUSIVE running sum of `valueCol` within each
   *  `groupCols` group ordered by `sortCols` (which must total-order rows
   *  within a group), without ever funneling one group through a single
   *  task. A plain `sum().over(Window.partitionBy(group).orderBy(sort))`
   *  sends EVERY row of a group to one task — fatal when the group key is
   *  low-cardinality (e.g. `source`). Here instead:
   *    1. range-partition by (group ++ sort) — each group becomes a run of
   *       contiguous range slices, each slice sized ~|data|/#partitions,
   *    2. window-sum locally inside each (slice, group) — parallel,
   *    3. carry in per-slice offsets ([[carryIn]], bookkeeping-sized like
   *       the offset pass in [[withGlobalRowNumber]]) — broadcast back. */
  def withGroupedPrefixSum(df: DataFrame, groupCols: Seq[String], sortCols: Seq[String],
                           valueCol: String, outCol: String): DataFrame = {
    val ranged = rangeSlices(df, (groupCols ++ sortCols).map(col))
    // emit every non-zero carry — NEGATIVE carries are real (e.g. a
    // sweep-line boundary stream whose −1 lands in the slice before its
    // +1); only the no-op zero carry is left to the coalesce
    val carry = carryIn(ranged, groupCols, sum(col(valueCol)), 0L, _ + _, "__goff")
    val localW = Window.partitionBy(("__pid" +: groupCols).map(col): _*).orderBy(sortCols.map(col): _*)
    ranged
      .withColumn("__lsum", sum(col(valueCol)).over(localW).cast("long") - col(valueCol))
      .join(carry, "__pid" +: groupCols, "left")
      .withColumn(outCol, (col("__lsum") + coalesce(col("__goff"), lit(0L))).cast("long"))
      .drop("__pid", "__lsum", "__goff")
  }

  /** Adds `outCol` = exact EXCLUSIVE running MAX of `valueCol` (a
   *  long-castable, non-null column) within each `groupCols` group ordered
   *  by `sortCols` — NULL for a group's first row, where the prefix is
   *  empty. The prefix-max twin of [[withGroupedPrefixSum]], same two-phase
   *  shape: range-partition by (group ++ sort), window-max locally inside
   *  each (slice, group), carry in per-slice maxima (≤ 2·#partitions rows,
   *  broadcast back). Running max is what a 2-D SKYLINE reduces to after
   *  sorting on the other dimension, so this is the distributed Pareto
   *  frontier primitive — a plain no-partition window would funnel the
   *  whole candidate set through one task. */
  def withGroupedPrefixMax(df: DataFrame, groupCols: Seq[String], sortCols: Seq[String],
                           valueCol: String, outCol: String): DataFrame = {
    val ranged = rangeSlices(df, (groupCols ++ sortCols).map(col))
    val carry = carryIn(ranged, groupCols, max(col(valueCol)), Long.MinValue, math.max, "__gmax")
    // exclusive frame: the row's own value must NOT see itself
    val localW = Window.partitionBy(("__pid" +: groupCols).map(col): _*).orderBy(sortCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .withColumn("__lmax", max(col(valueCol)).over(localW).cast("long"))
      .join(carry, "__pid" +: groupCols, "left")
      // greatest() skips NULLs: local-only, carry-only, both, or neither
      .withColumn(outCol, greatest(col("__lmax"), col("__gmax")))
      .drop("__pid", "__lmax", "__gmax")
  }

  /** The carry-in table of a grouped prefix pass over `ranged` (the
   *  [[rangeSlices]] of group ++ sort): `sliceAgg` (long-castable) per
   *  (slice, group), then for every group that spans more than one slice
   *  the fold of its EARLIER slices' aggregates into `carryCol`, broadcast.
   *  Range partitioning keeps groups contiguous, so at most #partitions−1
   *  groups straddle a boundary and the table has ≤ 2·#partitions rows.
   *  Carries equal to `zero` (the fold's identity) are left out; the
   *  caller's left join reads them as NULL. */
  private def carryIn(ranged: DataFrame, groupCols: Seq[String], sliceAgg: Column,
                      zero: Long, fold: (Long, Long) => Long, carryCol: String): DataFrame = {
    val spark = ranged.sparkSession
    val totals = ranged.groupBy(("__pid" +: groupCols).map(col): _*)
      .agg(sliceAgg.cast("long").as("__slice"))
    // Only groups spanning >1 range slice need a carry-in; collect just those.
    val spanning = totals.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).drop("__n")
    // the using-column semi join moves the join columns to the FRONT of the
    // row, so re-select the explicit (__pid, groups…, __slice) layout the
    // index-based fold below depends on
    val spanRows = totals.join(spanning, groupCols, "left_semi")
      .select(("__pid" +: groupCols :+ "__slice").map(col): _*)
      .collect() // ≤ 2·#partitions rows
    val carryRows = spanRows
      .groupBy(r => groupCols.indices.map(i => r.get(1 + i))) // row layout: __pid, groups…, __slice
      .valuesIterator.flatMap { rs =>
        val sorted = rs.sortBy(_.getInt(0))
        sorted.zip(sorted.scanLeft(zero)((acc, r) => fold(acc, r.getLong(r.length - 1))).init)
          .collect { case (r, c) if c != zero => Row.fromSeq(r.toSeq.init :+ c) }
      }.toSeq
    val schema = StructType(totals.schema.fields.init :+ StructField(carryCol, LongType, nullable = false))
    broadcast(spark.createDataFrame(spark.sparkContext.parallelize(carryRows, 1), schema))
  }

  /** Adds `outCol` = exact `ntile(n)` bucket (1-based BIGINT) under
   *  `sortCols`, reproducing the SQL-standard distribution (the first
   *  `total % n` buckets get one extra row) without a global window. */
  def withNtile(df: DataFrame, sortCols: Seq[Column], n: Int, outCol: String): DataFrame = {
    val (ranked, total) = withGlobalRowNumber(df, sortCols, "__grn")
    val small = total / n
    val nBig = total % n
    val big = small + 1
    // integer division via `div` — Column./ is fractional
    val bucket =
      when(col("__grn") <= nBig * big, expr(s"(__grn - 1) div $big"))
        .otherwise(lit(nBig) + expr(s"(__grn - 1 - ${nBig * big}) div ${math.max(small, 1L)}"))
    ranked.withColumn(outCol, (bucket + 1).cast("bigint")).drop("__grn")
  }
}
