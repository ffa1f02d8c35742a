package graft.schemer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions
import org.apache.spark.sql.types.StringType

/**
 * Distributed execution of the schema-witness fold — the Spark-native form
 * of the reference's only aggregate (the sequential constructor loop at
 * `/root/reference/Schemer.scala:10-14`).
 *
 * Scale design: each task streams its partition through a LOCAL witness fold
 * (O(witness) memory, exactly like the reference's single pass), emitting one
 * tiny witness per partition. Only witnesses — bytes, not data — cross the
 * wire. At 100 TB / ~100k partitions that is ~100k small objects to the
 * driver, folded in partition order so first-seen column order is
 * deterministic and equal to a sequential read of the file.
 */
object InferSchema {

  /** Per-partition local fold; returns (partitionIndex, witness).
   *  Seeded with the EMPTY OBJECT like the reference (`Json.obj()`,
   *  Schemer.scala:10): an empty file renders an empty column list, and a
   *  non-object top-level row fails with RowMismatch — both reference
   *  behaviors that a WNull seed would silently change. Rows arrive as the
   *  scan's UTF-8 bytes; a line is decoded to a String, and its diagnostic
   *  context built, only when the row fails. */
  private def foldPartition(idx: Int, it: Iterator[InternalRow]): Iterator[(Int, Witness)] = {
    var rec = 0L
    var acc: Witness = WObj.empty
    while (it.hasNext) {
      val doc = it.next().getUTF8String(0)
      rec += 1
      if (doc != null && doc.numBytes > 0) {
        // attach the offending document to the diagnostic at the only tier
        // that still holds the raw line (reference Schemer.scala:19)
        acc =
          try Witness.foldJson(acc, doc, s"partition $idx record $rec")
          catch {
            case e: RowMismatch if e.row.isEmpty =>
              throw e.copy(row = Some(Witness.prettyRow(doc.toString)))
          }
      }
    }
    Iterator.single(idx -> acc)
  }

  /** Infer the witness of a dataset of NDJSON lines. Fail-fast on malformed
   *  or shape-conflicting rows, like the reference; diagnostics carry
   *  partition + record index instead of a global line number (documented
   *  deviation, SURVEY.md §7.4).
   *
   *  The reduce is ORDER-PRESERVING (merge is commutative only up to
   *  rendered type; first-seen column order must equal a sequential read).
   *  Beyond `rangeSize` partitions it runs two-level: ranges of
   *  `rangeSize` consecutive partition-witnesses fold in a distributed
   *  stage (each sorted by partition index), then the driver folds the
   *  range-witnesses in range order — O(#partitions / rangeSize) driver
   *  memory, so an 800k-split corpus collects ~800 range witnesses, not
   *  800k. One level suffices up to rangeSize² (≈1M) splits. */
  def inferWitness(ds: Dataset[String], rangeSize: Int = 1024): Witness = {
    val parts = lines(ds).mapPartitionsWithIndex(foldPartition, preservesPartitioning = true)
    val ranged =
      if (parts.getNumPartitions <= rangeSize) parts
      else parts
        .map { case (idx, w) => (idx / rangeSize, (idx, w)) }
        .groupByKey() // one tiny witness per input partition
        .map { case (range, ws) =>
          range -> ws.toArray.sortBy(_._1).iterator.map(_._2)
            .foldLeft(Witness.bottom)(Witness.merge(_, _, s"range $range reduce"))
        }
    ranged.collect().sortBy(_._1).iterator.map(_._2)
      .foldLeft(WObj.empty: Witness)(Witness.merge(_, _, "final reduce"))
  }

  /** The rows [[inferWitness]] folds: the scan's own rows, one UTF-8 line
   *  each (as Spark's JsonInferSchema reads a Dataset[String]); `ds.rdd`
   *  would decode every line to a String first. The column is cast to
   *  STRING in the plan, as the Dataset's deserializer up-casts it (a no-op
   *  the optimizer drops for a string column), so a non-string column read
   *  `.as[String]` still yields text. */
  private[graft] def lines(ds: Dataset[String]): RDD[InternalRow] = {
    val line = ds.col("`" + ds.columns.head.replace("`", "``") + "`")
    ds.select(line.cast(StringType)).queryExecution.toRdd
  }

  /** Infer from an NDJSON file/directory path (reference O1: file scan). */
  def inferPath(spark: SparkSession, path: String): Witness =
    inferWitness(spark.read.textFile(path))

  // ---- SQL-function form ---------------------------------------------------

  /** Buffer encoder for the recursive Witness ADT: Kryo (SURVEY.md §7.4). */
  implicit private val witnessEnc: Encoder[Witness] = Encoders.kryo[Witness]

  /** `Aggregator[String, Witness, String]`: feed it a column of JSON strings,
   *  get the rendered Hive type of their unified schema. The partial+final
   *  split (reduce per partition, merge across) is exactly the witness
   *  semilattice, so map-side combine applies and the shuffle carries only
   *  witnesses. */
  class HiveTypeAggregator extends Aggregator[String, Witness, String] {
    def zero: Witness = Witness.bottom
    def reduce(b: Witness, a: String): Witness =
      if (a == null || a.isEmpty) b else Witness.foldJson(b, a, "", inferTimestamps = false)
    def merge(b1: Witness, b2: Witness): Witness = Witness.merge(b1, b2)
    def finish(r: Witness): String = HiveRender.renderType(r)
    def bufferEncoder: Encoder[Witness] = witnessEnc
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Same aggregator, finishing to the top-level column-definition block
   *  (reference `definition`, Schemer.scala:99-105). */
  class ColumnDefsAggregator extends Aggregator[String, Witness, String] {
    def zero: Witness = Witness.bottom
    def reduce(b: Witness, a: String): Witness =
      if (a == null || a.isEmpty) b else Witness.foldJson(b, a, "", inferTimestamps = false)
    def merge(b1: Witness, b2: Witness): Witness = Witness.merge(b1, b2)
    def finish(r: Witness): String = HiveRender.definition(r)
    def bufferEncoder: Encoder[Witness] = witnessEnc
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Column function: unified Hive type of a column of JSON documents.
   *  Usable inside arbitrary queries, e.g.
   *  `events.groupBy($"event_type").agg(infer_hive_type($"props"))`.
   *  Backed by the native [[HiveWitnessAgg]] (TypedImperativeAggregate →
   *  ObjectHashAggregate, buffer serialized only at shuffle/state
   *  boundaries); the `Aggregator` classes above remain for the typed
   *  Dataset API and SQL registration. */
  def infer_hive_type(c: Column): Column = nativeAgg(c, renderDefs = false)

  /** Column function: Hive column-definition block of a JSON column. */
  def infer_column_defs(c: Column): Column = nativeAgg(c, renderDefs = true)

  /** Column function: [[infer_hive_type]] with the MAP-inference extension
   *  on — object nodes with more than `mapThreshold` uniform-typed keys
   *  render `MAP<STRING, T>` (SURVEY §1.4 optional extension; default-off
   *  everywhere else, so reference parity is untouched). */
  def infer_hive_type_mapped(c: Column, mapThreshold: Int): Column =
    nativeAgg(c, renderDefs = false, mapThreshold)

  /** Column function: the unified schema as PER-COLUMN DATA —
   *  `array<struct<col_name, hive_type>>` over the top-level fields, in
   *  first-seen order. Explode it for one row per column.
   *  `inferTimestamps` turns on the flagged ISO-8601 witness (SURVEY §1.4
   *  optional extension): string columns whose every value is a valid
   *  ISO date/timestamp render `DATE`/`TIMESTAMP` instead of VARCHAR. */
  def infer_column_types(c: Column, inferTimestamps: Boolean = false): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      WitnessColumnsAgg(ColumnBridge.expression(c), inferTimestamps = inferTimestamps)
        .toAggregateExpression())
  }

  private def nativeAgg(c: Column, renderDefs: Boolean, mapThreshold: Int = 0): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      HiveWitnessAgg(ColumnBridge.expression(c), renderDefs, mapThreshold).toAggregateExpression())
  }

  /** Register both as SQL functions (`infer_hive_type`, `infer_column_defs`). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("infer_hive_type", functions.udaf(new HiveTypeAggregator))
    spark.udf.register("infer_column_defs", functions.udaf(new ColumnDefsAggregator))
  }
}
