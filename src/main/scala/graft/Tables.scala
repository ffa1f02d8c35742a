package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/**
 * Testdata table loaders (see TESTDATA.md). One parquet per table under the
 * scale-factor directory the driver passes in.
 *
 * `events.ts` arrives in whatever physical type the generator chose —
 * INT64 TIMESTAMP(NANOS) (older testdata; `nanosAsLong` reads it as a raw
 * nanosecond Long) or TIMESTAMP(MICROS) with/without UTC adjustment (the
 * 2026-08-13 regeneration; Spark reads it as TIMESTAMP_NTZ/TIMESTAMP).
 * [[normalizeTs]] folds every layout to the suite-wide contract: `ts` is a
 * raw NANOSECOND Long. The DuckDB oracle's `epoch_us(ts)` yields the same
 * microseconds for every layout, so oracled queries bucket via
 * `ts div 1000` (micros) — never `ts / 1000` (Long nanos exceed 2^53,
 * double math would corrupt them).
 */
object Tables {

  /** Fold any on-disk `ts` type to the Long-nanos contract. TIMESTAMP_NTZ
   *  must be interpreted as UTC wall clock (that is what the generator
   *  wrote and what DuckDB's `epoch_us` assumes), so the NTZ→TZ cast runs
   *  under the UTC session timezone every entry point pins. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df // already a raw Long (NANOS layout under nanosAsLong)
    }

  /** One query-definition row: name, builder, optional DuckDB oracle SQL. */
  final case class QueryDef(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** DuckDB oracle fragment: the quality-feature columns, for a CTE that
   *  has `text` and `ntok` in scope. Twin of the integer features inside
   *  [[graft.functions.TextFunctions.qualityBp]]. */
  val QbpParts: String =
    """greatest(length(text), 1) AS len1,
      |               CASE WHEN ntok = 0 THEN 0
      |                    ELSE (length(replace(trim(text), ' ', '')) * 100) // ntok END AS m,
      |               length(text) - length(translate(text, '.,;:!?', '')) AS punct,
      |               length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS alpha""".stripMargin

  /** DuckDB oracle fragment: the exact-integer basis-point quality score
   *  over `ntok`/`len1`/`m`/`punct`/`alpha` — `(2N + D) // 2D`, the same
   *  half-up rational rounding as `qualityBp`. Yields BIGINT. */
  val QbpExpr: String =
    """(2*(4000*least(ntok, 64)*len1
      |             + ((CASE WHEN m BETWEEN 300 AND 1000 THEN 2000 ELSE 800 END)
      |                + (CASE WHEN punct*10 <= len1 THEN 2000 ELSE 600 END))*64*len1
      |             + 2000*alpha*64) + 64*len1) // (128*len1)""".stripMargin

  /** Memoized resolved table frames, one per (application, corpus, table).
   *  A fresh `spark.read.parquet` per call re-lists the directory and
   *  re-reads the parquet footer for schema inference on EVERY query —
   *  across a 249-query suite that is hundreds of redundant driver-side
   *  metadata reads (the catalog-metadata cache any warehouse keeps).
   *  The memoized value is a LOGICAL PLAN over an immutable file set
   *  (testdata is read-only), never data: every action still scans
   *  parquet. */
  private val dfCache = CorpusCaches.memo[(String, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    // runtime-settable SQL confs; must be on before the events read resolves.
    // UTC pins the NTZ interpretation in normalizeTs (no-op when the entry
    // point already set it — Verify, tests — or the host default is UTC);
    // both bind at analysis time, so the memoized plan keeps them. Applied
    // on EVERY call (they are per-SESSION state, the memo is per-APP): a
    // second session in the same application must still get the conf
    // pinning even when it arrives on a cache hit.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dfCache(spark, (sfDir, table))(normalizeTs(spark.read.parquet(s"$sfDir/$table.parquet")))
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
