package graft.schemer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.FileLines
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
   *  context built, only when the row fails. Each row is used up, its
   *  failure decode included, before the next is taken: a row of the file
   *  scan wraps the line reader's buffer. */
  private def foldPartition(idx: Int, it: Iterator[InternalRow]): Iterator[(Int, Witness)] = {
    var rec = 0L
    var acc: Witness = WObj.empty
    while (it.hasNext) {
      val doc = it.next().getUTF8String(0)
      rec += 1
      if (doc != null && doc.numBytes > 0)
        acc = Witness.foldRow(acc, doc, s"partition $idx record $rec")
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
  def inferWitness(ds: Dataset[String], rangeSize: Int = 1024): Witness =
    fold(lines(ds), rangeSize)

  /** Infer from an NDJSON file/directory path (reference O1: file scan).
   *  Folds the same partitions and lines as
   *  `inferWitness(spark.read.textFile(path))`, read straight from the
   *  file scan ([[FileLines]]): an uncompressed split's lines are found in
   *  the read buffer and folded where they lie, without Hadoop's line
   *  reader or a copy; a compressed file is read through Hadoop's. */
  def inferPath(spark: SparkSession, path: String): Witness =
    fold(FileLines(spark, path))

  private def fold(rows: RDD[InternalRow], rangeSize: Int = 1024): Witness = {
    val parts = rows.mapPartitionsWithIndex(foldPartition, preservesPartitioning = true)
    val ranged =
      if (parts.getNumPartitions <= rangeSize) parts
      else parts
        .map { case (idx, w) => (idx / rangeSize, (idx, w)) }
        .groupByKey() // one tiny witness per input partition
        .map { case (range, ws) =>
          range -> ws.toArray.sortBy(_._1).iterator.map(_._2)
            .foldLeft(Witness.bottom)(Witness.merge(_, _, s"range $range reduce"))
        }
    ranged.sparkContext.runJob(ranged, partitionWitnesses).flatten.sortBy(_._1).iterator.map(_._2)
      .foldLeft(WObj.empty: Witness)(Witness.merge(_, _, "final reduce"))
  }

  /** The result function of [[fold]]'s job: what `collect()` runs, but
   *  declared here. Spark's closure cleaner reads the class file of the
   *  class that declares a job's closure on every job; `collect()`'s own
   *  closure would make that `RDD`, a large class read from the Spark jar. */
  private val partitionWitnesses: Iterator[(Int, Witness)] => Array[(Int, Witness)] = _.toArray

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

  // ---- SQL-function form ---------------------------------------------------

  /** Column function: unified Hive type of a column of JSON documents.
   *  Usable inside arbitrary queries, e.g.
   *  `events.groupBy($"event_type").agg(infer_hive_type($"props"))`.
   *  Backed by the native [[HiveWitnessAgg]] (TypedImperativeAggregate →
   *  ObjectHashAggregate, buffer serialized only at shuffle/state
   *  boundaries). SQL reaches the same aggregate by name through
   *  `org.apache.spark.sql.graft.GraftFunctions.register` or
   *  `spark.sql.extensions=graft.GraftExtensions`. */
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
}
