package graft.schemer

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/**
 * The schema *witness* — the core data model of the engine.
 *
 * The reference engine (`/root/reference/Schemer.scala:10`) represents an
 * inferred schema as a maximal exemplar VALUE in the JSON domain itself and
 * folds every row into it. We keep the same idea but make the witness an
 * explicit ADT that stores only the summary statistics the renderer needs:
 *
 *  - strings  → max length seen                 (Schemer.scala:49-50)
 *  - numbers  → min/max value + max scale       (Schemer.scala:52; min added
 *               as the documented fix for the reference's negative-number
 *               unsoundness, see SURVEY.md §1.2)
 *  - arrays   → single merged element witness   (Schemer.scala:32-41)
 *  - objects  → key-union of field witnesses    (Schemer.scala:55-59), in
 *               deterministic first-seen order (documented determinism fix)
 *  - null     → lattice bottom                  (Schemer.scala:45-46)
 *
 * `merge` is a commutative-up-to-rendered-type, associative semilattice join
 * with `WNull` as bottom — exactly the shape Spark needs for a distributed
 * partial+final aggregation (map-side fold per partition, tiny witnesses
 * reduced at the driver).
 */
sealed trait Witness extends Serializable

case object WNull extends Witness
case object WBool extends Witness

/** String witness: length of the longest string seen (UTF-16 code units,
 *  matching the reference's `String.size`, Schemer.scala:50). */
final case class WStr(maxLen: Int) extends Witness

/** Numeric witness. The reference keeps only the max value re-scaled to the
 *  max scale (Schemer.scala:52); we track min too so that negative values
 *  can't be typed into a bucket that can't hold them (SURVEY.md §1.2). */
final case class WNum(min: BigDecimal, max: BigDecimal, maxScale: Int) extends Witness {
  /** min/max widened to the common scale — mirrors `setScale` widening in
   *  the reference so precision comes out identically for its corpus. */
  def minW: BigDecimal = widen(min)
  def maxW: BigDecimal = widen(max)
  private def widen(x: BigDecimal): BigDecimal =
    if (x.scale >= maxScale) x else x.setScale(maxScale)
  /** Rendered precision: max magnitude precision after widening. */
  def precision: Int = math.max(minW.precision, maxW.precision)

  /** min and max unscaled, for the scan's allocation-free compare; built on
   *  first use. */
  @transient private[this] var unscaledBounds: Unscaled = _
  private[schemer] def unscaled: Unscaled = {
    var u = unscaledBounds
    if (u == null) {
      u = new Unscaled(WitnessScan.compact(min), WitnessScan.compact(max))
      unscaledBounds = u
    }
    u
  }
}

/** Array witness: a single merged element witness. An empty array is
 *  `WArr(WNull)` ⇒ rendered `ARRAY<???>` (Schemer.scala:34-36). */
final case class WArr(elem: Witness) extends Witness

/** Object witness: fields in deterministic first-seen order. */
final case class WObj(fields: Vector[(String, Witness)]) extends Witness {
  def get(key: String): Option[Witness] = fields.collectFirst { case (k, w) if k == key => w }

  /** Field names as UTF-8 bytes for the scan's per-key lookup: built on
   *  first use, or handed over by the scan when a row changes only values.
   *  A witness a row does not widen is reused as is. */
  @transient private[this] var keyTable: KeyTable = _
  private[schemer] def keys: KeyTable = {
    var k = keyTable
    if (k == null) {
      k = new KeyTable(fields)
      keyTable = k
    }
    k
  }
  private[schemer] def withKeys(k: KeyTable): WObj = { keyTable = k; this }
}

object WObj {
  val empty: WObj = WObj(Vector.empty)
}

/** Timestamp witness — the OPT-IN extension beyond the reference
 *  (SURVEY §1.4, the `TimestampType` twin of [[WMap]]): a string column
 *  whose every value parsed as an ISO-8601 date/timestamp. Produced only
 *  when `inferTimestamps` is passed to [[Witness.ofJson]] (default off —
 *  reference parity untouched). Carries the max string length so a later
 *  non-temporal value demotes the column to a correct `VARCHAR(n)` witness
 *  (string sits ABOVE timestamp in the lattice), and `dateOnly` so a
 *  column of bare dates renders `DATE` rather than `TIMESTAMP`. */
final case class WTs(maxLen: Int, dateOnly: Boolean) extends Witness

/** Map witness — the OPT-IN extension beyond the reference (SURVEY §1.4):
 *  an object whose keys are DATA (user ids, feature names, …) rather than
 *  schema. Produced only by the flagged high-cardinality heuristic
 *  ([[Witness.capObjects]]); with the flag off (the default) no code path
 *  creates one, preserving exact reference parity. Carries the single
 *  merged value witness — the map's value type. */
final case class WMap(value: Witness) extends Witness

/** Raised when two rows disagree on a column's structural kind — e.g. an
 *  array in one row, an object in the next (Schemer.scala:16-25,61). */
final case class RowMismatch(a: Witness, b: Witness, context: String,
    row: Option[String] = None) extends Exception {
  /** Like the reference (Schemer.scala:19, `Json.prettyPrint(b)`), the
   *  offending document itself is printed before the two rendered schemas
   *  when the row-level fold can attach it ([[InferSchema.foldPartition]]). */
  override def getMessage: String = (
    row.toSeq.flatMap(r => Seq(s"$context: failed to merge the row:", r)) ++ Seq(
      s"$context: attempted to merge a value with schema:",
      HiveRender.renderType(b),
      "into the schema with this signature:",
      HiveRender.renderType(a)
    )).mkString("\n")
}

/** Raised for arrays mixing incompatible element types, e.g. `["a",{"b":1}]`
 *  (Schemer.scala:27-41). `[1, 12.345]` is fine ⇒ `ARRAY<FLOAT>`. */
final case class InconsistentArray(context: String) extends Exception {
  override def getMessage: String =
    s"$context: array contains incompatible datatypes"
}

object Witness {

  /** Lattice bottom — the fold seed (reference seed is `Json.obj()`,
   *  Schemer.scala:10; we use WNull so `merge` is a true bottomed join and
   *  top-level non-objects still witness correctly; rendering a definition
   *  still requires an object top level, as in the reference). */
  val bottom: Witness = WNull

  /**
   * Semilattice join of two witnesses — the distributed form of the
   * reference `merge` (Schemer.scala:43-63). Associative; commutative up to
   * rendered type (string ties keep the left operand).
   */
  def merge(a: Witness, b: Witness, context: => String = ""): Witness = (a, b) match {
    case (WNull, x) => x
    case (x, WNull) => x
    case (WBool, WBool) => WBool
    case (WStr(x), WStr(y)) => WStr(math.max(x, y))
    // timestamp ⊔ timestamp keeps the temporal witness; any plain string
    // demotes the join to WStr (with the max length preserved), so the
    // lattice stays associative: once any operand is WStr the result is
    // WStr no matter the association order.
    case (WTs(x, dx), WTs(y, dy)) => WTs(math.max(x, y), dx && dy)
    case (WTs(x, _), WStr(y)) => WStr(math.max(x, y))
    case (WStr(x), WTs(y, _)) => WStr(math.max(x, y))
    case (x: WNum, y: WNum) =>
      WNum(x.min.min(y.min), x.max.max(y.max), math.max(x.maxScale, y.maxScale))
    // cross-row element conflicts propagate as RowMismatch, like the
    // reference (Schemer.scala:53 — its prepare-wrap only covers the
    // INTRA-row element fold, mirrored here in ofNode's ARRAY branch)
    case (WArr(x), WArr(y)) => WArr(merge(x, y, context))
    // WMap absorbs objects: once a node has been judged "keys are data",
    // further rows' keys fold their VALUES into the map's value witness.
    // Arises when one partial aggregate collapsed (hit the threshold) and
    // another hasn't yet — the join stays associative because collapse is
    // itself a fold of the same values.
    case (WMap(x), WMap(y)) => WMap(merge(x, y, context))
    case (WMap(x), WObj(bx)) =>
      WMap(bx.foldLeft(x) { case (acc, (_, w)) => merge(acc, w, context) })
    case (WObj(ax), WMap(y)) =>
      WMap(ax.foldLeft(y) { case (acc, (_, w)) => merge(acc, w, context) })
    case (WObj(ax), WObj(bx)) =>
      // key-union, left operand's order first, unseen right keys appended in
      // their own order — deterministic first-seen order under an ordered
      // fold. Right side indexed once: O(|a|+|b|), not O(|a|·|b|) — per-row
      // merges on wide (hundreds-of-keys) documents sit on the scan path.
      val bmap = bx.toMap
      val leftKeys = ax.iterator.map(_._1).toSet
      val merged = ax.map { case (k, aw) =>
        k -> bmap.get(k).map(bw => merge(aw, bw, context)).getOrElse(aw)
      }
      WObj(merged ++ bx.filterNot { case (k, _) => leftKeys(k) })
    case _ => throw RowMismatch(a, b, context)
  }

  /** MAP-INFERENCE heuristic (flagged, default off): rewrite every object
   *  node with MORE than `threshold` keys whose value witnesses merge
   *  cleanly (uniform type) into `MAP<STRING, T>`. Bottom-up, so nested
   *  data-keyed objects collapse too. A mixed-type wide object stays a
   *  struct — key count alone is not evidence the keys are data.
   *
   *  Scale role: applied inside the aggregate's update/merge (not as a
   *  post-pass), it BOUNDS the witness buffer — a corpus with millions of
   *  distinct keys (one per user) folds to a single value witness instead
   *  of a million-field struct that would grow the shuffled buffer without
   *  limit. Idempotent, and associative with [[merge]] (the WMap merge
   *  cases), so partials that collapsed at different times agree. The
   *  union of a collapsed object's values is capped in the same pass: a
   *  data-keyed object nested in another unions into a wide object only
   *  there, and leaving it for the next pass would make the result depend
   *  on how many updates and merges a group saw. */
  def capObjects(w: Witness, threshold: Int): Witness = w match {
    case WObj(fs) =>
      val capped = fs.map { case (k, v) => k -> capObjects(v, threshold) }
      if (threshold > 0 && capped.size > threshold) {
        try WMap(capObjects(capped.iterator.map(_._2).foldLeft(bottom)(merge(_, _)), threshold))
        catch { case _: RowMismatch => WObj(capped) }
      } else WObj(capped)
    case WArr(e) => WArr(capObjects(e, threshold))
    case WMap(v) => WMap(capObjects(v, threshold))
    case leaf => leaf
  }

  // ---- JSON row → witness -------------------------------------------------

  /** Jackson, configured so fractional literals become BigDecimal — play-json
   *  semantics; without it `12345678901234.5` loses its p16 witness. The
   *  tree path's parser; the scan reads its `StreamReadConstraints`. */
  @transient private[schemer] lazy val mapper: ObjectMapper =
    new ObjectMapper().configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

  /** Pretty-print a raw NDJSON line for diagnostics (reference prints the
   *  offending document with `Json.prettyPrint`, Schemer.scala:19). Falls
   *  back to the raw line if it does not re-parse. */
  def prettyRow(line: String): String =
    try mapper.readTree(line).toPrettyString catch { case _: Exception => line }

  /** Parse one NDJSON line into its witness. Malformed JSON throws
   *  (fail-fast, like the reference's `Json.parse` at Schemer.scala:13).
   *  `inferTimestamps` (default off, like the MAP flag) turns ISO-8601
   *  strings into [[WTs]] witnesses. The tree path: the reference form of
   *  [[foldJson]], and the one that produces its diagnostics. */
  def ofJson(line: String, context: => String = "", inferTimestamps: Boolean = false): Witness =
    ofNode(mapper.readTree(line), context, inferTimestamps)

  /** Fold one UTF-8 JSON document into `acc`: equal to
   *  `merge(acc, ofJson(doc.toString, context, inferTimestamps), context)`,
   *  result or exception, but scanned from the bytes in place
   *  ([[WitnessScan]]) — no parser, no String decode, no tree, no row
   *  witness — and returning `acc` itself when the document widens nothing.
   *  The rows the scan hands back (kind conflicts, duplicate keys, syntax
   *  errors, anything outside its strict subset) are re-derived on the tree
   *  path, which raises the exact reference errors; `context` is evaluated
   *  only there. */
  def foldJson(acc: Witness, doc: UTF8String, context: => String = "",
      inferTimestamps: Boolean = false): Witness =
    try WitnessScan(acc, doc.getBaseObject, doc.getBaseOffset, doc.numBytes, inferTimestamps)
    catch { case WitnessScan.Fallback => merge(acc, ofJson(doc.toString, context, inferTimestamps), context) }

  /** [[foldJson]] over a line already decoded to a String (the typed
   *  Aggregators' input): encoded once and scanned; a line holding an
   *  unpaired surrogate has no UTF-8 form and goes to the tree path, which
   *  also takes the original String on every other fallback. */
  def foldJson(acc: Witness, line: String, context: => String, inferTimestamps: Boolean): Witness = {
    def tree = merge(acc, ofJson(line, context, inferTimestamps), context)
    val bytes = WitnessScan.utf8(line)
    if (bytes == null) tree
    else try WitnessScan(acc, bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, inferTimestamps)
    catch { case WitnessScan.Fallback => tree }
  }

  // ---- flagged ISO-8601 recognition ---------------------------------------

  private val DateRe = """\d{4}-\d{2}-\d{2}""".r
  private val TsRe =
    """\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d{1,9})?(Z|[+-]\d{2}:?\d{2})?""".r

  /** Regex prefilter (rejects virtually every non-temporal string in two
   *  comparisons), then a real calendar check so impossible dates
   *  (2024-02-31) stay strings — the same accept set as the DuckDB
   *  oracle's `TRY_CAST`, which NULLs them. */
  private[schemer] def temporalWitness(s: String): Option[WTs] =
    if (DateRe.matches(s)) {
      if (validDate(s)) Some(WTs(s.length, dateOnly = true)) else None
    } else if (TsRe.matches(s)) {
      val okClock = s.substring(11, 13).toInt <= 23 &&
        s.substring(14, 16).toInt <= 59 && s.substring(17, 19).toInt <= 59
      if (okClock && validDate(s.substring(0, 10))) Some(WTs(s.length, dateOnly = false)) else None
    } else None

  private def validDate(s: String): Boolean =
    try { java.time.LocalDate.parse(s); true }
    catch { case _: java.time.format.DateTimeParseException => false }

  /** Convert a parsed Jackson tree to a witness. Array canonicalization
   *  (reference `prepare`, Schemer.scala:32-41) happens here: elements are
   *  fold-merged into one witness; empty arrays become `WArr(WNull)`. */
  def ofNode(n: JsonNode, context: => String = "", inferTimestamps: Boolean = false): Witness = {
    import com.fasterxml.jackson.databind.node.JsonNodeType._
    n.getNodeType match {
      case NULL | MISSING => WNull
      case BOOLEAN => WBool
      case STRING =>
        val s = n.textValue()
        if (inferTimestamps) temporalWitness(s).getOrElse(WStr(s.length)) else WStr(s.length)
      case NUMBER =>
        val d = BigDecimal(n.decimalValue())
        WNum(d, d, d.scale)
      case ARRAY =>
        val elems = n.elements().asScala.map(ofNode(_, context, inferTimestamps))
        WArr(
          try elems.foldLeft(bottom)((acc, w) => merge(acc, w, context))
          catch { case e: RowMismatch => throw InconsistentArray(e.context) }
        )
      case OBJECT =>
        WObj(n.properties().asScala.iterator.map(e =>
          e.getKey -> ofNode(e.getValue, context, inferTimestamps)).toVector)
      case other => throw new IllegalArgumentException(s"$context: unsupported JSON node type $other")
    }
  }
}
