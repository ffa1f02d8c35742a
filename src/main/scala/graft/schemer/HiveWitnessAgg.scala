package graft.schemer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The schema-witness fold as a NATIVE Catalyst aggregate (SURVEY §2.1-O3's
 * `infer_hive_type` as `TypedImperativeAggregate`): the aggregation buffer
 * is the [[Witness]] JVM object itself, mutated in place per row; the
 * compact [[WitnessCodec]] binary form is produced only where a buffer
 * genuinely crosses a boundary (shuffle of partial aggregates, spill,
 * streaming state). A `functions.udaf` over a Kryo buffer re-encodes the
 * buffer on every partial merge; this one plans as ObjectHashAggregate with
 * map-side combine, so at 100 TB the shuffle carries one few-hundred-byte
 * witness per (group × partition).
 *
 * `mapThreshold > 0` enables the flagged MAP-inference extension
 * ([[Witness.capObjects]]): object nodes with more than `mapThreshold`
 * uniform-typed keys collapse to `MAP<STRING, T>`. Applied on every
 * update/merge so the buffer stays BOUNDED even when the corpus has
 * millions of distinct (data) keys — the point of the heuristic at scale.
 * Default 0 = off = exact reference parity.
 */
trait WitnessFoldAgg extends TypedImperativeAggregate[Witness] with UnaryLike[Expression] {

  def child: Expression
  def mapThreshold: Int
  /** Flagged ISO-8601 recognition ([[Witness.temporalWitness]]); default
   *  false everywhere = exact reference parity, like `mapThreshold` = 0. */
  def inferTimestamps: Boolean = false

  private def cap(w: Witness): Witness =
    if (mapThreshold > 0) Witness.capObjects(w, mapThreshold) else w

  override def createAggregationBuffer(): Witness = Witness.bottom

  override def update(buffer: Witness, input: InternalRow): Witness = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val doc = v.asInstanceOf[UTF8String]
      if (doc.numBytes == 0) buffer
      else cap(Witness.foldRow(buffer, doc, inferTimestamps = inferTimestamps))
    }
  }

  override def merge(buffer: Witness, input: Witness): Witness =
    cap(Witness.merge(buffer, input))

  override def serialize(buffer: Witness): Array[Byte] = WitnessCodec.write(buffer)
  override def deserialize(storage: Array[Byte]): Witness = WitnessCodec.read(storage)
}

/** Renders the fold result as a STRING: the unified Hive TYPE of the
 *  group's JSON documents (`renderDefs = false`; reference `out`,
 *  /root/reference/Schemer.scala:65-97) or the column-definition block
 *  (`renderDefs = true`; reference `definition`, Schemer.scala:99-105,
 *  ERROR on non-object rows). */
case class HiveWitnessAgg(
    child: Expression,
    renderDefs: Boolean,
    mapThreshold: Int = 0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends WitnessFoldAgg {

  override def eval(buffer: Witness): Any =
    UTF8String.fromString(
      if (renderDefs) HiveRender.definition(buffer) else HiveRender.renderType(buffer))

  override def withNewMutableAggBufferOffset(newOffset: Int): HiveWitnessAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HiveWitnessAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HiveWitnessAgg =
    copy(child = newChild)

  override def dataType: DataType = StringType
  override def nullable: Boolean = false // bottom renders as the ??? marker
  override def prettyName: String =
    if (renderDefs) "infer_column_defs" else "infer_hive_type"
}

/** Renders the fold result as PER-COLUMN ROWS — `array<struct<col_name,
 *  hive_type>>`, one element per top-level field of the unified object
 *  witness, in first-seen order. This is the `definition` block as DATA
 *  instead of a DDL string, which makes the schema engine's per-column
 *  output joinable/explodable in SQL (and exactly oracle-checkable — the
 *  `schema_columns` harness entry). Non-object top level (no columns
 *  exist) yields an empty array. */
case class WitnessColumnsAgg(
    child: Expression,
    mapThreshold: Int = 0,
    override val inferTimestamps: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends WitnessFoldAgg {

  override def eval(buffer: Witness): Any = {
    val fields = buffer match {
      case WObj(fs) => fs
      case _ => Vector.empty
    }
    new GenericArrayData(fields.map { case (k, v) =>
      InternalRow(UTF8String.fromString(k), UTF8String.fromString(HiveRender.renderType(v)))
    }.toArray[Any])
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): WitnessColumnsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): WitnessColumnsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): WitnessColumnsAgg =
    copy(child = newChild)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("hive_type", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "infer_column_types"
}
