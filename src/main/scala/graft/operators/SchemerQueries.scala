package graft.operators

import graft.Tables
import graft.Tables.QueryDef
import graft.schemer.InferSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The schema-inference engine exposed as harness queries.
 *
 * Every inference query carries an exact DuckDB oracle — including the full
 * DDL strings, whose every render rule has a closed SQL form on these
 * projections (integral buckets, VARCHAR(maxlen), the FLOAT/DOUBLE/NUMERIC
 * ladder, single-key struct bodies) — plus the decomposed witness SUB-RULES
 * (SURVEY.md §2.1): longest-string witness, numeric min/max/scale witness,
 * null-only detection, and integral-fit bucketing.
 */
object SchemerQueries {

  /** Witness sub-rule: string-column witnesses over documents — the
   *  `VARCHAR(maxlen)` leaf rule (reference Schemer.scala:49-50,73-74). */
  def wStringWitness(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        max(length(col("text"))).cast("bigint").as("text_maxlen"),
        max(length(col("source"))).cast("bigint").as("source_maxlen"),
        count(lit(1)).as("n_docs"),
        (count(lit(1)) - count(col("text"))).as("text_nulls"))
      .orderBy("lang")

  /** Witness sub-rule: numeric min/max witness over lineitem — the
   *  number-merge rule with the documented min-tracking fix. */
  def wNumericWitness(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        min(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty_min"),
        max(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty_max"),
        min(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("price_min"),
        max(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("price_max"),
        max(col("l_linenumber")).as("linenumber_max"),
        count(lit(1)).as("n_rows"))

  /** Witness sub-rule: integral-fit bucketing (TINYINT…BIGINT) driven by
   *  min/max aggregates — the render rule Schemer.scala:77-82 as SQL. */
  def wTypeBucket(spark: SparkSession, dir: String): DataFrame = {
    val stats = Tables.events(spark, dir).agg(
      min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
    stats.select(
      col("mn"), col("mx"),
      when(col("mn") >= -128 && col("mx") <= 127, "TINYINT")
        .when(col("mn") >= -32768 && col("mx") <= 32767, "SMALLINT")
        .when(col("mn") >= -2147483648L && col("mx") <= 2147483647L, "INT")
        .otherwise("BIGINT").as("bucket"))
  }

  /** The engine itself, grouped: unified Hive type of the `props` JSON
   *  column per event type. Partial aggregation applies — each map task
   *  folds its rows into one witness per group, only witnesses shuffle. */
  def schemaPropsByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(InferSchema.infer_hive_type(col("props")).as("hive_type"))
      .orderBy("event_type")

  /** The engine over a synthesized NDJSON projection of a whole table —
   *  exercises nested struct/array witnesses end-to-end inside a query. */
  def schemaEventsFull(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(to_json(struct(col("event_id"), col("event_type"), col("value"))).as("j"))
      .agg(InferSchema.infer_hive_type(col("j")).as("hive_type"))

  /** The engine's per-column output as DATA: unified witness of a
   *  synthesized NDJSON projection (two integral columns, a string column,
   *  and the nested `props` object embedded as a real JSON subtree),
   *  exploded to one (col_name, hive_type) row per top-level column. This
   *  is the schema engine's `definition` made exactly oracle-checkable:
   *  every witness rule it exercises (integral min/max bucketing, VARCHAR
   *  max-length, nested struct rendering) has a closed-form SQL twin. */
  def schemaColumns(spark: SparkSession, dir: String): DataFrame = {
    val json = Tables.events(spark, dir).select(concat(
      lit("{\"event_id\":"), col("event_id"),
      lit(",\"event_type\":\""), col("event_type"),
      lit("\",\"user_id\":"), col("user_id"),
      lit(",\"props\":"), col("props"),
      lit("}")).as("j"))
    json.agg(InferSchema.infer_column_types(col("j")).as("cols"))
      .select(explode(col("cols")).as("c"))
      .select(col("c.col_name").as("col_name"), col("c.hive_type").as("hive_type"))
      .orderBy("col_name")
  }

  /** The FULL events table decomposed to per-column rows — closes the
   *  rows-only gap on [[schemaEventsFull]] (which must stay a DDL string
   *  for golden parity): all six columns projected to NDJSON with
   *  width-stable renderings (ts as ISO seconds, value as DECIMAL(12,2)
   *  text), inferred in one aggregate with the timestamp flag on, and
   *  exploded to `(col_name, hive_type)` rows so every witness rule the
   *  full-table DDL exercises — integral buckets, VARCHAR max-length, the
   *  FLOAT/DOUBLE/NUMERIC ladder, nested STRUCT, TIMESTAMP — gains a
   *  closed-form DuckDB hash check. */
  def schemaEventsColumns(spark: SparkSession, dir: String): DataFrame = {
    val t = timestamp_micros(expr("ts div 1000"))
    val json = Tables.events(spark, dir).select(concat(
      lit("{\"event_id\":"), col("event_id"),
      lit(",\"ts\":\""), date_format(t, "yyyy-MM-dd'T'HH:mm:ss"),
      lit("\",\"user_id\":"), col("user_id"),
      lit(",\"event_type\":\""), col("event_type"),
      lit("\",\"value\":"), col("value").cast("decimal(12,2)"),
      lit(",\"props\":"), col("props"),
      lit("}")).as("j"))
    json.agg(InferSchema.infer_column_types(col("j"), inferTimestamps = true).as("cols"))
      .select(explode(col("cols")).as("c"))
      .select(col("c.col_name").as("col_name"), col("c.hive_type").as("hive_type"))
      .orderBy("col_name")
  }

  /** The GROUPED engine decomposed to per-column rows — closes the
   *  rows-only gap on [[schemaPropsByType]] the same way: one witness fold
   *  per event_type (partial aggregation still applies — only witnesses
   *  shuffle), exploded to `(event_type, col_name, hive_type)`. */
  def schemaPropsColumns(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(InferSchema.infer_column_types(col("props")).as("cols"))
      .select(col("event_type"), explode(col("cols")).as("c"))
      .select(col("event_type"),
        col("c.col_name").as("col_name"), col("c.hive_type").as("hive_type"))
      .orderBy("event_type", "col_name")

  /** MAP-type inference (flagged extension, SURVEY §1.4): a corpus whose
   *  object keys are DATA — here one `u<user_id>` key per row — witnesses
   *  as `MAP<STRING, T>` once the key count passes the threshold, instead
   *  of a struct that grows one field per distinct user. The collapse
   *  happens inside the aggregate's update/merge, so the witness buffer
   *  stays bounded at any corpus size — the scale story for key-as-data
   *  JSON at 100 TB. Threshold 8 < the 15 distinct users at the smallest
   *  test SF, so the heuristic engages at every scale factor. */
  def schemaPropsMap(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(concat(lit("{\"u"), col("user_id"), lit("\":"), col("event_id"), lit("}")).as("j"))
      .agg(InferSchema.infer_hive_type_mapped(col("j"), mapThreshold = 8).as("hive_type"))

  /** TIMESTAMP inference (flagged extension, SURVEY §1.4's remaining
   *  optional type): an NDJSON projection carrying an ISO timestamp
   *  column, a date-only column, and a plain string column. With the flag
   *  on, the all-timestamp column witnesses `TIMESTAMP`, the all-date
   *  column `DATE`, and the plain string stays `VARCHAR(n)` — the
   *  WTs→WStr demotion keeps max-length through the merge. Flag off
   *  everywhere else, so reference golden outputs are untouched. */
  def schemaPropsTs(spark: SparkSession, dir: String): DataFrame = {
    val t = timestamp_micros(expr("ts div 1000"))
    val json = Tables.events(spark, dir).select(concat(
      lit("{\"ed\":\""), date_format(t, "yyyy-MM-dd"),
      lit("\",\"et\":\""), date_format(t, "yyyy-MM-dd'T'HH:mm:ss"),
      lit("\",\"label\":\""), col("event_type"), lit("\"}")).as("j"))
    json.agg(InferSchema.infer_column_types(col("j"), inferTimestamps = true).as("cols"))
      .select(explode(col("cols")).as("c"))
      .select(col("c.col_name").as("col_name"), col("c.hive_type").as("hive_type"))
      .orderBy("col_name")
  }

  /** SCHEMA-DRIVEN READ — the engine's output driving an actual scan,
   *  closing the loop the reference only gestures at (its DDL is meant to
   *  be fed to Hive; here the inferred schema feeds `spark.read.schema`
   *  directly): an NDJSON projection of events is written once per
   *  (application, dir), its witness inferred by the distributed fold,
   *  rendered to a Spark `StructType` ([[graft.schemer.HiveRender.toSparkSchema]]),
   *  and the SAME files are then read back WITH that schema — no second
   *  inference pass, the reader trusts the engine — and aggregated.
   *  Results are cast to width-stable types so the oracle holds at any
   *  scale factor (the inferred integral widths tighten with data range:
   *  SMALLINT event_id at sf0.01, INT at sf0.1). */
  private val ndjsonDirs =
    graft.CorpusCaches.register(scala.collection.concurrent.TrieMap.empty[(String, String), String])
  def schemaDrivenRead(spark: SparkSession, dir: String): DataFrame = {
    val path = ndjsonDirs.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      val out = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_ndjson_" +
        s"${spark.sparkContext.applicationId}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Tables.events(spark, dir)
        .select(to_json(struct(col("event_id"), col("event_type"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))).as("value"))
        .write.mode("overwrite").text(out)
      graft.ScratchFiles.deleteOnExit(java.nio.file.Paths.get(out))
      out
    })
    val witness = InferSchema.inferPath(spark, path)
    val schema = graft.schemer.HiveRender.toSparkSchema(witness)
    spark.read.schema(schema).json(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).cast("bigint").as("min_event_id"),
        max(col("event_id")).cast("bigint").as("max_event_id"),
        sum(col("user_id").cast("bigint")).as("sum_user_id"),
        max(col("k")).cast("bigint").as("max_k"))
      .orderBy("event_type")
  }

  /** DuckDB twin of the flagged timestamp-witness ladder: DATE iff every
   *  value is a calendar-valid bare date, else TIMESTAMP iff every value
   *  is a valid ISO date/timestamp (a date-only value still folds into a
   *  TIMESTAMP column, like the WTs merge), else the VARCHAR ladder.
   *  `TRY_CAST` supplies the same calendar check as the Scala side's
   *  LocalDate.parse — 2024-02-31 NULLs out on both. */
  /** SCHEMA DRIFT REPORT — the check a pipeline runs between yesterday's
   *  batch and today's before appending to a table: the SAME witness fold
   *  as [[schemaColumns]] run per cohort (cohort A = the first 100 events,
   *  the "initial batch"; B = everything since) in ONE grouped aggregate
   *  (partial aggregation applies — only witnesses shuffle), then pivoted
   *  to `(col_name, type_a, type_b, drifted)`. On this corpus `event_id`
   *  genuinely drifts (the first batch fits TINYINT; the full id space
   *  doesn't) — exactly the widening a consumer's DDL has to chase.
   *
   *  Scale shape: two witness buffers total, whatever the corpus size;
   *  the pivot is a 4-row reshape. */
  def schemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val json = Tables.events(spark, dir).select(
      when(col("event_id") < 100, "batch_a").otherwise("batch_b").as("cohort"),
      concat(
        lit("{\"event_id\":"), col("event_id"),
        lit(",\"event_type\":\""), col("event_type"),
        lit("\",\"user_id\":"), col("user_id"),
        lit(",\"props\":"), col("props"),
        lit("}")).as("j"))
    json.groupBy("cohort")
      .agg(InferSchema.infer_column_types(col("j")).as("cols"))
      .select(col("cohort"), explode(col("cols")).as("c"))
      .select(col("cohort"),
        col("c.col_name").as("col_name"), col("c.hive_type").as("t"))
      .groupBy("col_name")
      .agg(
        max(when(col("cohort") === "batch_a", col("t"))).as("type_a"),
        max(when(col("cohort") === "batch_b", col("t"))).as("type_b"))
      .withColumn("drifted", col("type_a") =!= col("type_b"))
      .orderBy("col_name")
  }

  private def tsLadderSql(c: String): String =
    s"""CASE WHEN count(*) = count(CASE WHEN regexp_full_match($c, '\\d{4}-\\d{2}-\\d{2}')
       |                                 AND TRY_CAST($c AS DATE) IS NOT NULL THEN 1 END)
       |            THEN 'DATE'
       |            WHEN count(*) = count(CASE WHEN
       |                 (regexp_full_match($c, '\\d{4}-\\d{2}-\\d{2}')
       |                  AND TRY_CAST($c AS DATE) IS NOT NULL)
       |              OR (regexp_full_match($c,
       |                    '\\d{4}-\\d{2}-\\d{2}[T ]\\d{2}:\\d{2}:\\d{2}(\\.\\d{1,9})?(Z|[+-]\\d{2}:?\\d{2})?')
       |                  AND TRY_CAST(replace($c, ' ', 'T') AS TIMESTAMP) IS NOT NULL) THEN 1 END)
       |            THEN 'TIMESTAMP'
       |            WHEN max(length($c)) > 0 AND max(length($c)) < 65356
       |            THEN 'VARCHAR(' || max(length($c)) || ')'
       |            ELSE 'STRING' END""".stripMargin

  /** DuckDB twin of [[graft.schemer.HiveRender]]'s integral bucket ladder
   *  (Schemer.scala:77-82 semantics) over precomputed min/max columns. */
  private[graft] def bucketSql(mn: String, mx: String): String =
    s"""CASE WHEN $mn >= -128 AND $mx <= 127 THEN 'TINYINT'
       |            WHEN $mn >= -32768 AND $mx <= 32767 THEN 'SMALLINT'
       |            WHEN $mn >= -2147483648 AND $mx <= 2147483647 THEN 'INT'
       |            ELSE 'BIGINT' END""".stripMargin

  val defs: Vector[QueryDef] = Vector(
    QueryDef("w_string_witness", wStringWitness, Some("""
      SELECT lang, cast(max(length(text)) as bigint) AS text_maxlen,
             cast(max(length(source)) as bigint) AS source_maxlen,
             count(*) AS n_docs,
             count(*) - count(text) AS text_nulls
      FROM documents GROUP BY lang ORDER BY lang""")),
    QueryDef("w_numeric_witness", wNumericWitness, Some("""
      SELECT cast(min(cast(l_quantity as decimal(12,2))) as double) AS qty_min,
             cast(max(cast(l_quantity as decimal(12,2))) as double) AS qty_max,
             cast(min(cast(l_extendedprice as decimal(12,2))) as double) AS price_min,
             cast(max(cast(l_extendedprice as decimal(12,2))) as double) AS price_max,
             max(l_linenumber) AS linenumber_max,
             count(*) AS n_rows
      FROM lineitem""")),
    QueryDef("w_type_bucket", wTypeBucket, Some("""
      SELECT mn, mx,
             CASE WHEN mn >= -128 AND mx <= 127 THEN 'TINYINT'
                  WHEN mn >= -32768 AND mx <= 32767 THEN 'SMALLINT'
                  WHEN mn >= -2147483648 AND mx <= 2147483647 THEN 'INT'
                  ELSE 'BIGINT' END AS bucket
      FROM (SELECT min(user_id) AS mn, max(user_id) AS mx FROM events) s""")),
    // the full grouped DDL string IS oracle-expressible on this corpus:
    // props is a single-key object, so the struct rendering has the same
    // closed form the schema_columns oracle uses
    QueryDef("schema_props_by_type", schemaPropsByType, Some(s"""
      SELECT event_type,
             'STRUCT<' || chr(10) || chr(9) || 'k: ' || ${bucketSql("mn", "mx")} ||
             chr(10) || '>' AS hive_type
      FROM (SELECT event_type,
                   min(cast(json_extract(props, '$$.k') as bigint)) AS mn,
                   max(cast(json_extract(props, '$$.k') as bigint)) AS mx
            FROM events GROUP BY 1) s
      ORDER BY event_type""")),
    // the full DDL string: every piece has a closed SQL form on this
    // projection — integral bucket for event_id, VARCHAR(maxlen) for
    // event_type, and the FLOAT/DOUBLE/NUMERIC ladder for value. The
    // double's witness scale comes from its shortest-round-trip text
    // (Spark's to_json and DuckDB's varchar cast agree in the non-E-notation
    // range this corpus lives in); precision is digits of |min|/|max|
    // widened to that scale — exactly WNum.precision.
    QueryDef("schema_events_full", schemaEventsFull, Some(s"""
      WITH s AS (
        SELECT min(event_id) AS mn_e, max(event_id) AS mx_e,
               max(length(event_type)) AS len_t,
               min(value) AS mn_v, max(value) AS mx_v,
               max(CASE WHEN strpos(cast(value as varchar), '.') > 0
                        THEN length(split_part(cast(value as varchar), '.', 2))
                        ELSE 0 END) AS maxs
        FROM events),
      p AS (
        SELECT *, greatest(
                 length(cast(cast(round(abs(mn_v) * power(10, maxs)) as bigint) as varchar)),
                 length(cast(cast(round(abs(mx_v) * power(10, maxs)) as bigint) as varchar))) AS prec_v
        FROM s)
      SELECT 'STRUCT<' || chr(10) ||
             chr(9) || 'event_id: ' || ${bucketSql("mn_e", "mx_e")} || ',' || chr(10) ||
             chr(9) || 'event_type: ' ||
               CASE WHEN len_t > 0 AND len_t < 65356
                    THEN 'VARCHAR(' || len_t || ')' ELSE 'STRING' END || ',' || chr(10) ||
             chr(9) || 'value: ' ||
               CASE WHEN maxs = 0 THEN ${bucketSql("mn_v", "mx_v")}
                    WHEN prec_v <= 7 THEN 'FLOAT'
                    WHEN prec_v <= 15 THEN 'DOUBLE'
                    ELSE 'NUMERIC(' || prec_v || ', ' || maxs || ')' END || chr(10) ||
             '>' AS hive_type
      FROM p""")),
    QueryDef("schema_columns", schemaColumns, Some(s"""
      WITH s AS (
        SELECT min(event_id) AS mn_e, max(event_id) AS mx_e,
               max(length(event_type)) AS len_t,
               min(user_id) AS mn_u, max(user_id) AS mx_u,
               min(cast(json_extract(props, '$$.k') as bigint)) AS mn_k,
               max(cast(json_extract(props, '$$.k') as bigint)) AS mx_k
        FROM events)
      SELECT col_name, hive_type FROM (
        SELECT 'event_id' AS col_name, ${bucketSql("mn_e", "mx_e")} AS hive_type FROM s
        UNION ALL
        SELECT 'event_type', CASE WHEN len_t > 0 AND len_t < 65356
                                  THEN 'VARCHAR(' || len_t || ')' ELSE 'STRING' END FROM s
        UNION ALL
        SELECT 'user_id', ${bucketSql("mn_u", "mx_u")} FROM s
        UNION ALL
        SELECT 'props', 'STRUCT<' || chr(10) || chr(9) || 'k: ' ||
                        ${bucketSql("mn_k", "mx_k")} || chr(10) || '>' FROM s) t
      ORDER BY col_name""")),
    QueryDef("schema_events_columns", schemaEventsColumns, Some(s"""
      WITH s AS (
        SELECT min(event_id) AS mn_e, max(event_id) AS mx_e,
               max(length(event_type)) AS len_t,
               min(user_id) AS mn_u, max(user_id) AS mx_u,
               min(cast(json_extract(props, '$$.k') as bigint)) AS mn_k,
               max(cast(json_extract(props, '$$.k') as bigint)) AS mx_k,
               greatest(
                 length(cast(cast(abs(min(cast(value as decimal(12,2))))*100 as bigint) as varchar)),
                 length(cast(cast(abs(max(cast(value as decimal(12,2))))*100 as bigint) as varchar))) AS prec_v
        FROM events),
      j AS (SELECT strftime(cast(ts as timestamp), '%Y-%m-%dT%H:%M:%S') AS tss FROM events)
      SELECT col_name, hive_type FROM (
        SELECT 'event_id' AS col_name, ${bucketSql("mn_e", "mx_e")} AS hive_type FROM s
        UNION ALL
        SELECT 'ts', (SELECT ${tsLadderSql("tss")} FROM j) FROM s
        UNION ALL
        SELECT 'user_id', ${bucketSql("mn_u", "mx_u")} FROM s
        UNION ALL
        SELECT 'event_type', CASE WHEN len_t > 0 AND len_t < 65356
                                  THEN 'VARCHAR(' || len_t || ')' ELSE 'STRING' END FROM s
        UNION ALL
        SELECT 'value', CASE WHEN prec_v <= 7 THEN 'FLOAT'
                             WHEN prec_v <= 15 THEN 'DOUBLE'
                             ELSE 'NUMERIC(' || prec_v || ', 2)' END FROM s
        UNION ALL
        SELECT 'props', 'STRUCT<' || chr(10) || chr(9) || 'k: ' ||
                        ${bucketSql("mn_k", "mx_k")} || chr(10) || '>' FROM s) t
      ORDER BY col_name""")),
    QueryDef("schema_props_columns", schemaPropsColumns, Some(s"""
      SELECT event_type, 'k' AS col_name, ${bucketSql("mn", "mx")} AS hive_type
      FROM (SELECT event_type,
                   min(cast(json_extract(props, '$$.k') as bigint)) AS mn,
                   max(cast(json_extract(props, '$$.k') as bigint)) AS mx
            FROM events GROUP BY 1) s
      ORDER BY event_type, col_name""")),
    QueryDef("schema_props_map", schemaPropsMap, Some(s"""
      SELECT 'MAP<STRING,' || chr(10) || chr(9) || ${bucketSql("mn", "mx")} || chr(10) || '>'
               AS hive_type
      FROM (SELECT min(event_id) AS mn, max(event_id) AS mx FROM events) s""")),
    QueryDef("schema_props_ts", schemaPropsTs, Some(s"""
      WITH j AS (
        SELECT strftime(cast(ts as timestamp), '%Y-%m-%d') AS ed,
               strftime(cast(ts as timestamp), '%Y-%m-%dT%H:%M:%S') AS et,
               event_type AS label
        FROM events)
      SELECT col_name, hive_type FROM (
        SELECT 'ed' AS col_name, ${tsLadderSql("ed")} AS hive_type FROM j
        UNION ALL
        SELECT 'et', ${tsLadderSql("et")} FROM j
        UNION ALL
        SELECT 'label', ${tsLadderSql("label")} FROM j) t
      ORDER BY col_name""")),
    QueryDef("schema_drift", schemaDrift, Some(s"""
      WITH s AS (
        SELECT CASE WHEN event_id < 100 THEN 'batch_a' ELSE 'batch_b' END AS cohort,
               min(event_id) AS mn_e, max(event_id) AS mx_e,
               max(length(event_type)) AS len_t,
               min(user_id) AS mn_u, max(user_id) AS mx_u,
               min(cast(json_extract(props, '$$.k') as bigint)) AS mn_k,
               max(cast(json_extract(props, '$$.k') as bigint)) AS mx_k
        FROM events GROUP BY 1),
      t AS (
        SELECT cohort, 'event_id' AS col_name, ${bucketSql("mn_e", "mx_e")} AS hive_type FROM s
        UNION ALL
        SELECT cohort, 'event_type', CASE WHEN len_t > 0 AND len_t < 65356
                                          THEN 'VARCHAR(' || len_t || ')' ELSE 'STRING' END FROM s
        UNION ALL
        SELECT cohort, 'user_id', ${bucketSql("mn_u", "mx_u")} FROM s
        UNION ALL
        SELECT cohort, 'props', 'STRUCT<' || chr(10) || chr(9) || 'k: ' ||
                                ${bucketSql("mn_k", "mx_k")} || chr(10) || '>' FROM s)
      SELECT col_name,
             max(CASE WHEN cohort = 'batch_a' THEN hive_type END) AS type_a,
             max(CASE WHEN cohort = 'batch_b' THEN hive_type END) AS type_b,
             max(CASE WHEN cohort = 'batch_a' THEN hive_type END)
               <> max(CASE WHEN cohort = 'batch_b' THEN hive_type END) AS drifted
      FROM t GROUP BY 1 ORDER BY 1""")),
    QueryDef("schema_driven_read", schemaDrivenRead, Some("""
      SELECT event_type, count(*) AS n,
             min(event_id) AS min_event_id, max(event_id) AS max_event_id,
             cast(sum(user_id) as bigint) AS sum_user_id,
             max(cast(json_extract(props, '$.k') as bigint)) AS max_k
      FROM events GROUP BY 1 ORDER BY event_type""")),
    // exact twin: the same deterministic truncation; "corrupt" =
    // unparseable. from_json(struct) returns NULL exactly when the text
    // is not valid JSON here (every corrupted value is a strict PREFIX of
    // an object — never a valid scalar — so Spark's null-on-unparseable
    // and DuckDB's json_valid coincide on this corpus by construction)
    QueryDef("schema_corrupt_audit", schemaCorruptAudit, Some("""
      WITH r AS (
        SELECT event_type, event_id,
               CASE WHEN event_id % 37 = 0
                    THEN substr(props, 1, cast(greatest(1, length(props) // 2) as int))
                    ELSE props END AS raw
        FROM events)
      SELECT event_type, count(*) AS n_rows,
             cast(sum(CASE WHEN json_valid(raw) THEN 0 ELSE 1 END) as bigint) AS n_corrupt,
             max(CASE WHEN json_valid(raw) THEN cast(json_extract(raw, '$.k') as bigint) END) AS max_k
      FROM r GROUP BY 1 ORDER BY event_type"""))
  )

  /** PERMISSIVE-mode parse audit — the production complement of the
   *  reference's fail-fast O2 (`Schemer.scala:13` aborts the whole run on
   *  one malformed line; a 100 TB ingest cannot). Every 37th row's JSON
   *  is deterministically truncated to simulate upstream corruption,
   *  then the stream is parsed permissively: corrupt rows count into a
   *  per-type audit instead of failing the job, valid rows still yield
   *  their typed field. Map-side `from_json` + one aggregate — no
   *  shuffle beyond the rollup. */
  def schemaCorruptAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
    import scala.jdk.CollectionConverters._
    val ev = Tables.events(spark, dir).select(col("event_type"), col("event_id"),
      when(col("event_id") % 37 === 0,
        expr("substring(props, 1, greatest(1, length(props) div 2))"))
        .otherwise(col("props")).as("raw"))
    // PERMISSIVE mode yields an all-null struct for malformed input, so
    // detection rides the dedicated corrupt-record column — the actual
    // production quarantine pattern
    val schema = new StructType().add("k", IntegerType).add("_corrupt_record", StringType)
    ev.withColumn("j", from_json(col("raw"), schema,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record").asJava))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("j._corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        max(col("j.k")).cast("bigint").as("max_k"))
      .orderBy("event_type")
  }
}
