package graft.sources

import graft.{ScratchFiles, Tables}
import graft.Tables.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/**
 * Sink-side layout operators: partitioned parquet writes and the
 * partition-pruned reads they enable — at 100 TB, partitioning by a
 * low-cardinality filter column (date, language, source) is what turns a
 * full-corpus scan into a directory listing.
 */
object Sinks {

  /** Catalog tables registered by THIS process (the bucketed-join pair) —
   *  tracked so [[cleanup]] can drop them with their backing files. */
  private val registeredTables = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Drop the bucketed tables and delete every scratch output
   *  ([[ScratchFiles.release]]) — each sink query rebuilds its own scratch
   *  on next entry. A capacity campaign calls this after each sink query:
   *  at sf100 the family's round-trip outputs total ~16 GB, which
   *  accumulated until the volume ran dry (attempt 12's ENOSPC); reaped
   *  per-query the transient peak is the single largest output (~3 GB). */
  def cleanup(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    registeredTables.iterator().asScala.toVector.foreach { t =>
      try spark.sql(s"DROP TABLE IF EXISTS `$t`") catch { case NonFatal(_) => () }
    }
    registeredTables.clear()
    ScratchFiles.release()
  }

  /** Write documents partitioned by `lang`, read back with a lang filter —
   *  the read plan prunes to one partition directory (PartitionFilters in
   *  `graft.Plans sink_partition_pruning`), so the count touches only the
   *  matching files. Output oracled against the unpartitioned table. */
  def partitionPruning(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchFiles.output(spark, "sink_partition_pruning", dir) { out =>
      Tables.documents(spark, dir)
        .write.mode("overwrite").partitionBy("lang").parquet(out)
    }
    spark.read.parquet(out)
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_en_docs"), sum(col("n_chars")).cast("bigint").as("total_chars"))
      .orderBy("source")
  }

  /** Write orders and lineitem BUCKETED (8 buckets, sorted) on the join
   *  key, then join the bucketed tables: both sides arrive pre-partitioned
   *  AND pre-sorted, so the sort-merge join runs with NO shuffle and NO
   *  sort — the layout a 100 TB warehouse uses so its biggest recurring
   *  join never re-shuffles the fact tables (PlanSpec asserts the
   *  shuffle-free join plan). Result oracled against the plain join. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    joinSides(spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** The bucket-join input (pre-agg) — separated so the spec can assert
   *  the join subplan is exchange- and sort-free. */
  private[graft] def joinSides(spark: SparkSession, dir: String): DataFrame = {
    // bucket count sized like a shuffle, NOT a constant: a bucketed scan
    // reads ONE task per bucket, so a fixed count caps the join's
    // parallelism forever after (measured at sf100: 8 buckets = 75M-row
    // bucket files on a 32-core box, 73.8 s steady — 28× the sf10 cost;
    // shuffle-partition-sized buckets restore linear scaling). On a real
    // lake the same rule applies: pick buckets for the TABLE's size so
    // each bucket lands near the cluster's split target.
    val nBuckets = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val key = s"${spark.sparkContext.applicationId}_${dir}_b$nBuckets"
      .replaceAll("[^a-zA-Z0-9]", "_")
    val (tOrders, tLine) = (s"graft_bkt_orders_$key", s"graft_bkt_lineitem_$key")
    // the bucket count is part of the output's name: if the session's
    // shuffle partitions change mid-application, a table written under the
    // OLD count must not be silently reused (consumers and the plan spec's
    // 'SelectedBucketsCount: n out of n' assertion assume the current conf)
    ScratchFiles.output(spark, s"sink_bucketed_join_b$nBuckets", dir) { base =>
      // a failed PREVIOUS attempt may have left one of the pair registered;
      // saveAsTable(overwrite) would survive that, but drop defensively so
      // the heal path always starts from a clean catalog
      try {
        spark.sql(s"DROP TABLE IF EXISTS `$tOrders`")
        spark.sql(s"DROP TABLE IF EXISTS `$tLine`")
      } catch { case NonFatal(_) => () }
      // repartition on the bucket key first: ONE file per bucket, which is
      // the layout Spark trusts to elide the merge-join sort (with several
      // files per bucket only per-file order is known and it re-sorts)
      Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
        .repartition(nBuckets, col("o_orderkey"))
        .write.mode("overwrite").bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(tOrders)
      registeredTables.add(tOrders)
      Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice")
        .repartition(nBuckets, col("l_orderkey"))
        .write.mode("overwrite").bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(tLine)
      registeredTables.add(tLine)
    }
    spark.table(tOrders).join(spark.table(tLine),
      col("o_orderkey") === col("l_orderkey"))
  }

  /** CSV round trip — the interchange-format surface: a projection of the
   *  events table written as headered CSV, read back with an EXPLICIT
   *  schema (never inferSchema — a second full scan at any size), and
   *  aggregated. Doubles survive the text round trip exactly (shortest
   *  round-trip formatting on write, exact parse on read), and the
   *  aggregate matches the parquet-direct oracle bit-for-bit. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchFiles.output(spark, "sink_csv_roundtrip", dir) { out =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").option("header", "true").csv(out)
    }
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .option("header", "true").csv(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** NDJSON round trip — the REFERENCE'S OWN interchange format as a
   *  sink: a documents projection written as newline-delimited JSON
   *  (one object per line, the exact layout `SchemaGen` ingests), read
   *  back with an EXPLICIT schema (never inferSchema's second full
   *  scan), and aggregated. `total_text_chars` rides along so the check
   *  proves string payload fidelity through the JSON escape/unescape
   *  round trip, not just numeric survival. */
  def ndjsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchFiles.output(spark, "sink_ndjson_roundtrip", dir) { out =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"), col("n_chars"))
        .write.mode("overwrite").json(out)
    }
    spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, text STRING, n_chars BIGINT")
      .json(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_chars"))
      .orderBy("lang")
  }

  /** ORC round trip — the second columnar format Spark ships natively:
   *  a lineitem projection written as ORC WITH predicate-pushdown-friendly
   *  layout, read back with a filter that reaches the ORC reader
   *  (`PushedFilters` in the plan, same contract as the parquet scans),
   *  and aggregated. Exercises that the engine's outputs are not
   *  parquet-bound: a warehouse standardized on ORC runs the same plans. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchFiles.output(spark, "sink_orc_roundtrip", dir) { out =>
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").orc(out)
    }
    spark.read.orc(out)
      .filter(col("l_quantity") >= 25.0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Bit-spread for Morton interleave: the low 32 bits of `c` move to the
   *  even bit positions of a Long. Five mask-and-shift rounds, all plain
   *  bitwise `Column` arithmetic — codegen'd, no UDF. */
  private def spreadBits(c: Column): Column = {
    val s1 = c.bitwiseOR(shiftleft(c, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val s4 = s3.bitwiseOR(shiftleft(s3, 2)).bitwiseAND(lit(0x3333333333333333L))
    s4.bitwiseOR(shiftleft(s4, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Morton (Z-order) key of two columns already normalized to [0, 255]:
   *  x in the even bits, y in the odd bits — a 16-bit key whose prefix
   *  ranges are 2-D boxes. */
  private[sources] def zKey(x: Column, y: Column): Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))

  /** Z-ORDER LAYOUT — the multi-dimensional data-skipping write: events
   *  are laid out by the Morton interleave of (user_id, hour), each first
   *  normalized to an 8-bit grid so both dimensions contribute equally to
   *  the key, then range-partitioned on the z-key and written sorted. A
   *  z-prefix range is a 2-D BOX, so every output file covers a bounded
   *  slice of BOTH dimensions at once (SinkLayoutSpec measures the
   *  per-file spans) — which is what lets parquet row-group min/max stats
   *  skip files for a user-range × time-range query. A layout sorted on
   *  user_id alone answers user slices but full-scans every time slice;
   *  at 100 TB the z-order table answers both from footer stats. The
   *  read-back runs a quartile box on both dimensions (bounds are the
   *  corpus quartiles, derived identically in the oracle) and aggregates;
   *  PlanSpec pins that both predicates reach the parquet scan.
   *
   *  The 4-value stats row collected up front is bookkeeping (min/max of
   *  two columns), never data. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val (out, mu, xu, mh, xh) = zordered(spark, dir)
    // quartile box in RAW coordinates, floor-div exactly as the oracle's //
    val (uLo, uHi) = (mu + (xu - mu) / 4, mu + (xu - mu) / 2)
    val (hLo, hHi) = (mh + (xh - mh) / 4, mh + (xh - mh) / 2)
    spark.read.parquet(out)
      .filter(col("user_id").between(uLo, uHi) && col("hr").between(hLo, hHi))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** The z-ordered events on disk for `dir` (written on first use) with the
   *  (min, max) of user_id and of the hour. */
  private def zordered(spark: SparkSession, dir: String): (String, Long, Long, Long, Long) = {
    val ev = Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      expr("ts div 3600000000000").as("hr"),
      col("event_type"), col("value"))
    val s = ev.agg(min("user_id"), max("user_id"), min("hr"), max("hr")).head()
    val (mu, xu, mh, xh) = (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))
    val (ru, rh) = (math.max(xu - mu, 1L), math.max(xh - mh, 1L))
    val out = ScratchFiles.output(spark, "sink_zorder", dir) { out =>
      val gx = expr(s"(user_id - $mu) * 255 div $ru") // integer div: 0..255 grid
      val gy = expr(s"(hr - $mh) * 255 div $rh")
      ev.withColumn("z", zKey(gx, gy))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(out)
    }
    (out, mu, xu, mh, xh)
  }

  /** The z-ordered files on disk for `dir` (written on first use) — lets
   *  SinkLayoutSpec measure per-file dimension spans. */
  private[graft] def zorderPath(spark: SparkSession, dir: String): String =
    zordered(spark, dir)._1

  /** SMALL-FILE COMPACTION — the table-maintenance pass (OPTIMIZE /
   *  rewrite-data-files) every streaming-fed lake table needs: a 64-way
   *  fragmented parquet layout is rewritten into few large files. The
   *  rewrite is `coalesce` (narrow — each output task concatenates input
   *  splits, NO shuffle; `repartition` would pay one for nothing unless
   *  re-clustering is wanted). The result reads back through the
   *  compacted layout and must aggregate identically to the source —
   *  content preservation is the oracled contract here;
   *  [[graft.sources.SinkLayoutSpec]] pins the file-count geometry
   *  (64 → ≤ 4), which no SQL oracle can see. */
  def compactSmallFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${compactRoot(spark, dir)}/compacted")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("id_sum"))
      .orderBy("event_type")

  /** The root of [[compactSmallFiles]]' two layouts, `small` and
   *  `compacted` (written on first use) — SinkLayoutSpec asserts their
   *  file-count geometry. */
  private[graft] def compactRoot(spark: SparkSession, dir: String): String =
    ScratchFiles.output(spark, "sink_compact_small_files", dir) { root =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartition(64) // the fragmented state a micro-batch writer leaves
        .write.mode("overwrite").parquet(s"$root/small")
      spark.read.parquet(s"$root/small")
        .coalesce(4)
        .write.mode("overwrite").parquet(s"$root/compacted")
    }

  /** SCHEMA EVOLUTION ON READ — the lake-table lifecycle a long-lived
   *  dataset goes through: an early batch written WITHOUT a column, a
   *  later batch WITH it, both read back through one partitioned scan
   *  with `mergeSchema=true`. Spark unions the footers into the superset
   *  schema and nulls the missing column for pre-evolution files — the
   *  contract this query pins by aggregating over the coalesced label.
   *  (The schemer module infers schemas from content; this is the
   *  complementary capability — evolving PHYSICAL schemas merged by
   *  footer metadata.) */
  def schemaMergeRead(spark: SparkSession, dir: String): DataFrame = {
    val root = ScratchFiles.output(spark, "sink_schema_merge", dir) { root =>
      val o = Tables.orders(spark, dir)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$root/batch=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$root/batch=2")
    }
    spark.read.option("mergeSchema", "true").parquet(root)
      .groupBy(coalesce(col("o_orderpriority"), lit("pre_evolution")).as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
      .orderBy("priority")
  }

  val defs: Vector[QueryDef] = Vector(
    QueryDef("sink_schema_merge", schemaMergeRead, Some("""
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'pre_evolution'
                  ELSE o_orderpriority END AS priority,
             count(*) AS n,
             cast(sum(cast(o_totalprice as decimal(12,2))) as double) AS total
      FROM orders GROUP BY 1 ORDER BY priority""")),
    QueryDef("sink_compact_small_files", compactSmallFiles, Some("""
      SELECT event_type, count(*) AS n,
             cast(sum(cast(value as decimal(12,2))) as double) AS sum_value,
             count(DISTINCT user_id) AS n_users,
             cast(sum(event_id) as bigint) AS id_sum
      FROM events GROUP BY event_type ORDER BY event_type""")),
    QueryDef("sink_zorder", zorderLayout, Some("""
      WITH b AS (
        SELECT min(user_id) AS mu, max(user_id) AS xu,
               min(epoch_us(ts) // 3600000000) AS mh,
               max(epoch_us(ts) // 3600000000) AS xh
        FROM events)
      SELECT event_type, count(*) AS n,
             cast(sum(cast(value as decimal(12,2))) as double) AS sum_value
      FROM events, b
      WHERE user_id BETWEEN b.mu + (b.xu - b.mu) // 4 AND b.mu + (b.xu - b.mu) // 2
        AND epoch_us(ts) // 3600000000
            BETWEEN b.mh + (b.xh - b.mh) // 4 AND b.mh + (b.xh - b.mh) // 2
      GROUP BY 1 ORDER BY 1""")),
    QueryDef("sink_orc_roundtrip", orcRoundtrip, Some("""
      SELECT l_returnflag, count(*) AS n,
             cast(sum(cast(l_extendedprice as decimal(12,2))) as double) AS revenue
      FROM lineitem WHERE l_quantity >= 25.0
      GROUP BY l_returnflag ORDER BY l_returnflag""")),
    QueryDef("sink_ndjson_roundtrip", ndjsonRoundtrip, Some("""
      SELECT lang, count(*) AS n_docs, cast(sum(n_chars) as bigint) AS total_chars,
             cast(sum(length(text)) as bigint) AS total_text_chars
      FROM documents GROUP BY lang ORDER BY lang""")),
    QueryDef("sink_csv_roundtrip", csvRoundtrip, Some("""
      SELECT event_type, count(*) AS n,
             cast(sum(cast(value as decimal(12,2))) as double) AS sum_value,
             count(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type""")),
    QueryDef("sink_partition_pruning", partitionPruning, Some("""
      SELECT source, count(*) AS n_en_docs, cast(sum(n_chars) as bigint) AS total_chars
      FROM documents WHERE lang = 'en'
      GROUP BY source ORDER BY source""")),
    QueryDef("sink_bucketed_join", bucketedJoin, Some("""
      SELECT o_orderpriority, count(*) AS n_items,
             cast(sum(cast(l_extendedprice as decimal(12,2))) as double) AS revenue
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1 ORDER BY 1"""))
  )
}
