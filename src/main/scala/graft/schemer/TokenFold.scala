package graft.schemer

import com.fasterxml.jackson.core.{JsonParser, JsonToken}

/**
 * The scan path of the witness fold: Jackson tokens folded straight into an
 * accumulator witness, with no JSON tree and no per-row witness.
 *
 * `apply(acc, p)` consumes the first JSON value of `p` and returns
 * `merge(acc, ofNode(readTree(line)))` — and returns `acc` ITSELF (`eq`)
 * when the row widens nothing, so a row that adds no information allocates
 * nothing on the witness side. Array elements fold left to right into the
 * accumulator's element witness, which by associativity of [[Witness.merge]]
 * equals merging the row's own element join into it.
 *
 * Anything not reproduced token by token aborts the row with [[Fallback]]:
 * a kind conflict (the tree path knows whether it is an intra-row
 * `InconsistentArray` or a cross-row `RowMismatch`), a duplicate key inside
 * one object (`readTree` keeps the LAST value at the FIRST position), or a
 * parse error. [[Witness.foldJson]] then re-derives that one row on the tree
 * path, which yields the reference result or its exact error.
 */
private[schemer] object TokenFold {

  /** Abort signal: re-derive this row on the tree path. Stackless. */
  object Fallback extends scala.util.control.ControlThrowable

  /** Fold the first value of `p` into `acc`. Like `readTree`, an input
   *  holding no value (whitespace only) is `MissingNode` ⇒ `acc`, and
   *  anything after the first value is not read. */
  def apply(acc: Witness, p: JsonParser, inferTimestamps: Boolean): Witness = {
    val t = p.nextToken()
    if (t == null) acc else value(p, t, acc, inferTimestamps)
  }

  private def value(p: JsonParser, t: JsonToken, acc: Witness, ts: Boolean): Witness =
    if (t == JsonToken.VALUE_STRING) string(p, acc, ts)
    else if (t == JsonToken.VALUE_NUMBER_INT || t == JsonToken.VALUE_NUMBER_FLOAT) number(p, t, acc)
    else if (t == JsonToken.START_OBJECT) acc match {
      case o: WObj => obj(p, o, ts)
      case WNull => obj(p, WObj.empty, ts)
      case m: WMap => map(p, m, ts)
      case _ => throw Fallback
    }
    else if (t == JsonToken.START_ARRAY) acc match {
      case a: WArr => val e = array(p, a.elem, ts); if (e eq a.elem) a else WArr(e)
      case WNull => WArr(array(p, WNull, ts))
      case _ => throw Fallback
    }
    else if (t == JsonToken.VALUE_NULL) acc
    else if (t == JsonToken.VALUE_TRUE || t == JsonToken.VALUE_FALSE) acc match {
      case WBool => WBool
      case WNull => WBool
      case _ => throw Fallback
    }
    else throw Fallback

  /** Lengths in UTF-16 units (`getTextLength` = `String.length`); the text
   *  itself is materialized only for the flagged ISO-8601 check. */
  private def string(p: JsonParser, acc: Witness, ts: Boolean): Witness = acc match {
    case w: WStr =>
      val n = p.getTextLength
      if (n <= w.maxLen) w else WStr(n)
    case WNull =>
      if (ts) { val s = p.getText; Witness.temporalWitness(s).getOrElse(WStr(s.length)) }
      else WStr(p.getTextLength)
    case w: WTs =>
      if (!ts) WStr(math.max(w.maxLen, p.getTextLength))
      else Witness.temporalWitness(p.getText) match {
        case Some(WTs(n, d)) =>
          if (n <= w.maxLen && (d || !w.dateOnly)) w
          else WTs(math.max(w.maxLen, n), w.dateOnly && d)
        case _ => WStr(math.max(w.maxLen, p.getTextLength))
      }
    case _ => throw Fallback
  }

  private def number(p: JsonParser, t: JsonToken, acc: Witness): Witness = acc match {
    case w: WNum =>
      val d = decimal(p, t)
      val below = d.compareTo(w.min.bigDecimal) < 0
      val above = d.compareTo(w.max.bigDecimal) > 0
      if (!below && !above && d.scale <= w.maxScale) w
      else {
        val v = BigDecimal(d)
        WNum(if (below) v else w.min, if (above) v else w.max, math.max(w.maxScale, d.scale))
      }
    case WNull =>
      val d = decimal(p, t)
      val v = BigDecimal(d)
      WNum(v, v, d.scale)
    case _ => throw Fallback
  }

  /** The value `readTree` stores, under `USE_BIG_DECIMAL_FOR_FLOATS`:
   *  integer tokens exactly (scale 0); float tokens with trailing zeros
   *  stripped (`1.50` → scale 1, `100.0` → `1E+2`, any zero → `0`), kept
   *  as parsed when stripping overflows the scale — Jackson 2.21's
   *  `BaseNodeDeserializer._fromBigDecimal`. */
  private def decimal(p: JsonParser, t: JsonToken): java.math.BigDecimal =
    if (t == JsonToken.VALUE_NUMBER_INT) {
      if (p.getNumberType == JsonParser.NumberType.BIG_INTEGER) new java.math.BigDecimal(p.getBigIntegerValue)
      else java.math.BigDecimal.valueOf(p.getLongValue)
    } else {
      val v = p.getDecimalValue
      try v.stripTrailingZeros catch { case _: ArithmeticException => v }
    }

  /** Element witnesses of one array, folded into `elem`. */
  private def array(p: JsonParser, elem: Witness, ts: Boolean): Witness = {
    var e = elem
    var t = p.nextToken()
    while (t != JsonToken.END_ARRAY) {
      e = value(p, t, e, ts)
      t = p.nextToken()
    }
    e
  }

  /** One object into an object witness: known keys fold in place
   *  (copy-on-write), unseen keys append in document order. */
  private def obj(p: JsonParser, o: WObj, ts: Boolean): Witness = {
    var fields = o.fields
    val n = fields.size
    // keys of `o` already met in this object — a repeat is a duplicate key
    var seen = 0L
    var seenWide: Array[Boolean] = null
    var added: java.util.LinkedHashMap[String, Witness] = null
    var t = p.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      val key = p.currentName
      val i = o.index.get(key)
      if (i != null) {
        val ix = i.intValue
        if (n <= 64) {
          if ((seen & (1L << ix)) != 0) throw Fallback
          seen |= 1L << ix
        } else {
          if (seenWide == null) seenWide = new Array[Boolean](n)
          if (seenWide(ix)) throw Fallback
          seenWide(ix) = true
        }
        val f = fields(ix)
        val w = value(p, p.nextToken(), f._2, ts)
        if (w ne f._2) fields = fields.updated(ix, f._1 -> w)
      } else {
        if (added == null) added = new java.util.LinkedHashMap[String, Witness]
        if (added.put(key, value(p, p.nextToken(), WNull, ts)) != null) throw Fallback
      }
      t = p.nextToken()
    }
    if (added != null) {
      val b = Vector.newBuilder[(String, Witness)] ++= fields
      added.forEach((k, w) => b += k -> w)
      WObj(b.result())
    } else if (fields eq o.fields) o
    else WObj(fields)
  }

  /** One object into a map witness: every value folds into the map's value
   *  witness (the `WMap ⊔ WObj` case of [[Witness.merge]]). */
  private def map(p: JsonParser, m: WMap, ts: Boolean): Witness = {
    var v = m.value
    val keys = new java.util.HashSet[String]
    var t = p.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      if (!keys.add(p.currentName)) throw Fallback
      v = value(p, p.nextToken(), v, ts)
      t = p.nextToken()
    }
    if (v eq m.value) m else WMap(v)
  }
}
