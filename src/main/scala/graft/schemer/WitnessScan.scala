package graft.schemer

import org.apache.spark.unsafe.Platform

import java.nio.charset.StandardCharsets.UTF_8

/**
 * The scan path of the witness fold: one pass over a document's UTF-8 bytes,
 * in place, folded straight into an accumulator witness. No JSON parser, no
 * tree and no per-row witness; on the common path no String and no
 * BigDecimal either. `apply` returns `merge(acc, ofJson(text))` — and `acc`
 * ITSELF (`eq`) when the row widens nothing. Array elements fold left to
 * right into the accumulator's element witness, which by associativity of
 * [[Witness.merge]] equals merging the row's own element join into it.
 *
 * The scanner accepts only a strict subset of inputs, on which it agrees
 * with `readTree` on the decoded String:
 *  - RFC 8259 grammar with the four JSON whitespace bytes; after a
 *    top-level value only whitespace or the end (`readTree` reads no
 *    further, so the rest of the line is not looked at);
 *  - well-formed UTF-8 (Unicode Table 3-7), counted in UTF-16 units as
 *    `String.length` counts them; an escape is one unit (`\uXXXX` too: a
 *    surrogate pair is written as two escapes);
 *  - numbers are read as `readTree` stores them under
 *    `USE_BIG_DECIMAL_FOR_FLOATS`: integers exactly (scale 0), fractions
 *    with trailing zeros stripped (`1.50` → scale 1, `100.0` → `1E+2`, any
 *    zero → `0`). Up to 18 significant digits without an exponent they are
 *    held as (unscaled Long, scale) and compared with the [[WNum]] bounds
 *    without allocating; longer ones and exponents become the BigDecimal
 *    that Jackson builds from the same characters.
 *
 * Everything else aborts the row with [[Fallback]], and [[Witness.foldJson]]
 * re-derives it on the tree path, which yields the reference result or its
 * exact error: a kind conflict (the tree path knows whether it is an
 * intra-row `InconsistentArray` or a cross-row `RowMismatch`), a key
 * repeated in one object that the witness already holds or that is data
 * in a map (`readTree` keeps the LAST value at the FIRST position; a
 * repeated new key is kept that way in place), an escaped key, leading
 * zeros, raw control bytes, a BOM or NUL, malformed UTF-8,
 * any syntax error, and nesting depth, number, name or string length at or
 * past the mapper's `StreamReadConstraints` — or, for numbers, at the 500
 * characters where Jackson switches to another BigDecimal parser.
 */
private[schemer] object WitnessScan {

  /** Abort signal: re-derive this row on the tree path. Stackless. */
  object Fallback extends scala.util.control.ControlThrowable

  private val limits = Witness.mapper.getFactory.streamReadConstraints()
  private val MaxDepth = limits.getMaxNestingDepth
  private val MaxNumber = math.min(limits.getMaxNumberLength, 500)
  private[schemer] val MaxName = limits.getMaxNameLength
  private val MaxString = limits.getMaxStringLength
  // a document has no more tokens, and no more characters, than bytes
  private val MaxDoc = Seq(limits.getMaxDocumentLength, limits.getMaxTokenCount)
    .filter(_ > 0).foldLeft(Long.MaxValue)(math.min)

  /** Fold the `n` bytes at `base`/`off` (as `Platform` addresses them) into
   *  `acc`. Like `readTree`, whitespace only is `MissingNode` ⇒ `acc`. */
  def apply(acc: Witness, base: AnyRef, off: Long, n: Int, inferTimestamps: Boolean): Witness = {
    if (n >= MaxDoc) throw Fallback
    new WitnessScan(base, off, n, inferTimestamps).document(acc)
  }

  private val NotCompact = Long.MinValue

  /** The unscaled value of `d` when it has at most 18 digits, else
   *  [[NotCompact]]. */
  private[schemer] def compact(d: BigDecimal): Long =
    if (d.bigDecimal.precision <= 18) d.bigDecimal.unscaledValue.longValue else NotCompact

  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** Sign of `a·10^-as − b·10^-bs` for unscaled values below 10^18 in
   *  magnitude. When aligning the scales overflows, the scaled side is the
   *  larger in magnitude, so its sign decides. */
  private def compare(a: Long, as: Int, b: Long, bs: Int): Int =
    if (as == bs) java.lang.Long.compare(a, b)
    else if (as < bs) {
      val d = bs.toLong - as
      if (a == 0) -java.lang.Long.signum(b)
      else if (d <= 18 && math.abs(a) <= Long.MaxValue / Pow10(d.toInt)) java.lang.Long.compare(a * Pow10(d.toInt), b)
      else java.lang.Long.signum(a)
    } else -compare(b, bs, a, as)

  /** Sign of `u·10^-s − bound`; allocates only when the bound is not compact. */
  private def compareBound(u: Long, s: Int, bound: BigDecimal, boundU: Long): Int =
    if (boundU != NotCompact) compare(u, s, boundU, bound.scale)
    else java.math.BigDecimal.valueOf(u, s).compareTo(bound.bigDecimal)

  /** UTF-8 of `s`, or null when `s` holds an unpaired surrogate (which
   *  `getBytes` would silently turn into `?`). */
  def utf8(s: String): Array[Byte] = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1))) i += 2
      else if (Character.isSurrogate(c)) return null
      else i += 1
    }
    s.getBytes(UTF_8)
  }

  private def isWs(b: Int): Boolean = b == ' ' || b == '\n' || b == '\r' || b == '\t'
  private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'
}

/** A [[WNum]]'s bounds as unscaled Longs ([[WitnessScan.compact]]). Only
 *  final fields, so an instance another thread sees is complete. */
private[schemer] final class Unscaled(val min: Long, val max: Long)

/** The field names of one [[WObj]] as UTF-8 bytes, with an open-addressing
 *  table over them ([[WObj.keys]]); only final fields, as for [[Unscaled]].
 *  The table depends on the names alone, so a rebuild that changes only
 *  values shares it. */
private[schemer] final class KeyTable(fields: Vector[(String, Witness)]) {
  val size: Int = fields.size
  private val names: Array[Array[Byte]] = fields.iterator.map(f => KeyTable.scannable(f._1)).toArray
  private val hashes: Array[Int] = names.map(b => if (b == null) 0 else KeyTable.hash(b, Platform.BYTE_ARRAY_OFFSET, b.length))
  private val mask = Integer.highestOneBit(math.max(4, size * 2) - 1) * 2 - 1
  private val slots: Array[Int] = {
    val s = new Array[Int](mask + 1)
    var i = 0
    while (i < size) {
      if (names(i) != null) {
        var j = hashes(i) & mask
        while (s(j) != 0) j = (j + 1) & mask
        s(j) = i + 1
      }
      i += 1
    }
    s
  }

  /** Position of the field named by the `len` bytes at `base`/`addr`, or -1. */
  def find(base: AnyRef, addr: Long, len: Int): Int = {
    val h = KeyTable.hash(base, addr, len)
    var j = h & mask
    var f = slots(j) - 1
    while (f >= 0 && !(hashes(f) == h && same(f, base, addr, len))) {
      j = (j + 1) & mask
      f = slots(j) - 1
    }
    f
  }

  private def same(f: Int, base: AnyRef, addr: Long, len: Int): Boolean = {
    val b = names(f)
    if (b == null || b.length != len) false
    else {
      var i = 0
      while (i + 8 <= len &&
          Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i) == Platform.getLong(base, addr + i)) i += 8
      while (i < len && b(i) == Platform.getByte(base, addr + i)) i += 1
      i == len
    }
  }
}

private[schemer] object KeyTable {
  /** UTF-8 of a field name the scan can meet as a key, else null: a name
   *  holding an unpaired surrogate has no UTF-8 form, one holding a quote, a
   *  backslash or a control character can only be written escaped (the scan
   *  leaves escaped keys to the tree path), and one as long as the name
   *  limit is the tree path's too. */
  private def scannable(name: String): Array[Byte] = {
    val b = WitnessScan.utf8(name)
    if (b == null || b.length >= WitnessScan.MaxName || b.exists(c => c >= 0 && c < 0x20 || c == '"' || c == '\\')) null
    else b
  }

  def hash(base: AnyRef, addr: Long, len: Int): Int = {
    var h = len
    var i = 0
    while (i < len) { h = h * 31 + Platform.getByte(base, addr + i); i += 1 }
    h ^ (h >>> 16)
  }
}

private final class WitnessScan(base: AnyRef, off: Long, end: Int, ts: Boolean) {
  import WitnessScan._

  private var pos = 0

  /** The byte at `i` (unsigned), or -1 past the end. */
  private def at(i: Int): Int = if (i < end) Platform.getByte(base, off + i) & 0xff else -1

  private def skipWs(): Unit = while (isWs(at(pos))) pos += 1

  private def expect(b: Int): Unit = if (at(pos) == b) pos += 1 else throw Fallback

  def document(acc: Witness): Witness = {
    skipWs()
    if (pos == end) acc
    else {
      val w = value(acc, 0)
      if (pos < end && !isWs(at(pos))) throw Fallback
      w
    }
  }

  /** The value at `pos` folded into `acc`; `depth` containers are open. */
  private def value(acc: Witness, depth: Int): Witness = {
    val b = at(pos)
    if (b == '"') string(acc)
    else if (b == '{') {
      if (depth + 1 >= MaxDepth) throw Fallback
      acc match {
        case o: WObj => obj(o, depth + 1)
        case WNull => obj(WObj.empty, depth + 1)
        case m: WMap => map(m, depth + 1)
        case _ => throw Fallback
      }
    } else if (b == '[') {
      if (depth + 1 >= MaxDepth) throw Fallback
      acc match {
        case a: WArr => val e = array(a.elem, depth + 1); if (e eq a.elem) a else WArr(e)
        case WNull => WArr(array(WNull, depth + 1))
        case _ => throw Fallback
      }
    } else if (b == '-' || isDigit(b)) number(acc)
    else if (b == 'n') { literal("null"); acc }
    else {
      if (b == 't') literal("true") else if (b == 'f') literal("false") else throw Fallback
      acc match {
        case WBool | WNull => WBool
        case _ => throw Fallback
      }
    }
  }

  private def literal(word: String): Unit = {
    var i = 0
    while (i < word.length) { expect(word.charAt(i)); i += 1 }
  }

  // ---- containers -------------------------------------------------------------

  /** Element witnesses of one array, folded into `elem`. */
  private def array(elem: Witness, depth: Int): Witness = {
    pos += 1
    skipWs()
    var e = elem
    if (at(pos) == ']') pos += 1
    else {
      var more = true
      while (more) {
        e = value(e, depth)
        more = separator(']')
      }
    }
    e
  }

  /** After a member: `,` (true) or the closing byte (false). */
  private def separator(close: Int): Boolean = {
    skipWs()
    val b = at(pos)
    pos += 1
    if (b == ',') { skipWs(); true }
    else if (b == close) false
    else throw Fallback
  }

  /** Length in bytes of the key [[key]] read last. */
  private var keyLen = 0

  /** The key at `pos`, after its opening quote; returns its first byte,
   *  with the length of its UTF-8 bytes left in `keyLen` and `pos` past its
   *  closing quote. Keys with escapes are left to the tree path, so a key's
   *  bytes are its name. */
  private def key(): Int = {
    val start = pos
    var b = at(pos)
    while (b != '"') {
      if (b < 0x20 || b == '\\') throw Fallback
      if (b < 0x80) pos += 1 else utf8(b)
      b = at(pos)
    }
    keyLen = pos - start
    if (keyLen >= MaxName) throw Fallback
    pos += 1
    start
  }

  private def colon(): Unit = { skipWs(); expect(':'); skipWs() }

  private def text(start: Int, len: Int): String = {
    val a = new Array[Byte](len)
    Platform.copyMemory(base, off + start, a, Platform.BYTE_ARRAY_OFFSET, len)
    new String(a, UTF_8)
  }

  /** One object into an object witness: known keys fold in place
   *  (copy-on-write), unseen keys append in document order. */
  private def obj(o: WObj, depth: Int): Witness = {
    pos += 1
    skipWs()
    if (at(pos) == '}') { pos += 1; return o }
    val keys = o.keys
    val n = keys.size
    var fields = o.fields
    // keys of `o` already met in this object — a repeat is a duplicate key
    var seen = 0L
    var seenWide: Array[Boolean] = null
    var added: java.util.LinkedHashMap[String, Witness] = null
    var more = true
    while (more) {
      expect('"')
      val start = key()
      val ix = keys.find(base, off + start, keyLen)
      colon()
      if (ix >= 0) {
        if (n <= 64) {
          if ((seen & (1L << ix)) != 0) throw Fallback
          seen |= 1L << ix
        } else {
          if (seenWide == null) seenWide = new Array[Boolean](n)
          if (seenWide(ix)) throw Fallback
          seenWide(ix) = true
        }
        val old = o.fields(ix)._2
        val w = value(old, depth)
        if (w ne old) fields = fields.updated(ix, fields(ix)._1 -> w)
      } else {
        // a repeated new key keeps its first position and its last value,
        // as `readTree` keeps it
        if (added == null) added = new java.util.LinkedHashMap[String, Witness]
        added.put(text(start, keyLen), value(WNull, depth))
      }
      more = separator('}')
    }
    if (added != null) {
      val b = Vector.newBuilder[(String, Witness)] ++= fields
      added.forEach((k, w) => b += k -> w)
      WObj(b.result())
    } else if (fields eq o.fields) o
    else WObj(fields).withKeys(keys)
  }

  /** One object into a map witness: every value folds into the map's value
   *  witness (the `WMap ⊔ WObj` case of [[Witness.merge]]). Keys are data
   *  here, so each one is decoded for the duplicate check. */
  private def map(m: WMap, depth: Int): Witness = {
    pos += 1
    skipWs()
    if (at(pos) == '}') { pos += 1; return m }
    var v = m.value
    val keys = new java.util.HashSet[String]
    var more = true
    while (more) {
      expect('"')
      val start = key()
      colon()
      if (!keys.add(text(start, keyLen))) throw Fallback
      v = value(v, depth)
      more = separator('}')
    }
    if (v eq m.value) m else WMap(v)
  }

  // ---- strings ----------------------------------------------------------------

  /** Checks the multi-byte UTF-8 sequence led by `b` at `pos` and steps past
   *  it; returns its length in UTF-16 units. */
  private def utf8(b: Int): Int = {
    // Unicode Table 3-7: lead byte → continuation count and the range of
    // the first continuation byte
    var need = 0
    var lo = 0x80
    var hi = 0xbf
    if (b >= 0xc2 && b <= 0xdf) need = 1
    else if (b >= 0xe0 && b <= 0xef) {
      need = 2
      if (b == 0xe0) lo = 0xa0 else if (b == 0xed) hi = 0x9f
    } else if (b >= 0xf0 && b <= 0xf4) {
      need = 3
      if (b == 0xf0) lo = 0x90 else if (b == 0xf4) hi = 0x8f
    } else throw Fallback
    val c = at(pos + 1)
    if (c < lo || c > hi) throw Fallback
    var j = 2
    while (j <= need) {
      if ((at(pos + j) & 0xc0) != 0x80) throw Fallback
      j += 1
    }
    pos += need + 1
    if (need == 3) 2 else 1
  }

  private def isHex(b: Int): Boolean = isDigit(b) || (b >= 'a' && b <= 'f') || (b >= 'A' && b <= 'F')

  /** A string value folded into `acc`: its length in UTF-16 units, and
   *  under `inferTimestamps` the ISO-8601 check of its text. */
  private def string(acc: Witness): Witness = {
    pos += 1
    val start = pos
    var units = 0
    var escaped = false
    var b = at(pos)
    while (b != '"') {
      if (b < 0x20) throw Fallback
      if (b == '\\') {
        escaped = true
        val e = at(pos + 1)
        if (e == 'u') {
          if (!(isHex(at(pos + 2)) && isHex(at(pos + 3)) && isHex(at(pos + 4)) && isHex(at(pos + 5)))) throw Fallback
          pos += 6
        } else if (e == '"' || e == '\\' || e == '/' || e == 'b' || e == 'f' || e == 'n' || e == 'r' || e == 't') pos += 2
        else throw Fallback
        units += 1
      } else if (b < 0x80) { pos += 1; units += 1 }
      else units += utf8(b)
      b = at(pos)
    }
    if (pos - start >= MaxString) throw Fallback
    pos += 1
    acc match {
      case w: WStr => if (units <= w.maxLen) w else WStr(units)
      case WNull => if (ts) temporal(start, units, escaped).getOrElse(WStr(units)) else WStr(units)
      case w: WTs =>
        if (!ts) WStr(math.max(w.maxLen, units))
        else temporal(start, units, escaped) match {
          case Some(WTs(n, d)) =>
            if (n <= w.maxLen && (d || !w.dateOnly)) w
            else WTs(math.max(w.maxLen, n), w.dateOnly && d)
          case _ => WStr(math.max(w.maxLen, units))
        }
      case _ => throw Fallback
    }
  }

  /** [[Witness.temporalWitness]] of the string of `units` units starting at
   *  `start`. Every date and timestamp it accepts is 10 or 19–35 ASCII
   *  characters with `-` at 4 and 7, so other strings are rejected without
   *  decoding; an escaped candidate is left to the tree path. */
  private def temporal(start: Int, units: Int, escaped: Boolean): Option[WTs] =
    if (!(units == 10 || (units >= 19 && units <= 35))) None
    else if (escaped) throw Fallback
    else if (pos - 1 - start != units || at(start + 4) != '-' || at(start + 7) != '-') None
    else Witness.temporalWitness(text(start, units))

  // ---- numbers ------------------------------------------------------------------

  /** A number folded into `acc`, read as `readTree` stores it. */
  private def number(acc: Witness): Witness = {
    val start = pos
    if (at(pos) == '-') pos += 1
    var u = 0L
    var digits = 0 // significant digits, from the first non-zero one
    var scale = 0
    var b = at(pos)
    // a leading zero ends the integer part, so `01` fails at the `1`
    if (b == '0') {
      pos += 1
      b = at(pos)
    } else if (isDigit(b)) {
      while (isDigit(b)) {
        if (digits < 19) u = u * 10 + (b - '0')
        digits += 1
        pos += 1
        b = at(pos)
      }
    } else throw Fallback
    val fraction = b == '.'
    if (fraction) {
      pos += 1
      b = at(pos)
      if (!isDigit(b)) throw Fallback
      while (isDigit(b)) {
        if (digits > 0 || b != '0') {
          if (digits < 19) u = u * 10 + (b - '0')
          digits += 1
        }
        scale += 1
        pos += 1
        b = at(pos)
      }
    }
    val exponent = b == 'e' || b == 'E'
    if (exponent) {
      pos += 1
      b = at(pos)
      if (b == '+' || b == '-') { pos += 1; b = at(pos) }
      // an exponent without digits fails in the BigDecimal parse below
      while (isDigit(b)) { pos += 1; b = at(pos) }
    }
    if (pos - start >= MaxNumber) throw Fallback
    if (exponent || digits > 18) decimal(acc, start, fraction || exponent)
    else {
      if (at(start) == '-') u = -u
      if (u == 0) scale = 0
      else if (fraction) while (u % 10 == 0) { u /= 10; scale -= 1 }
      acc match {
        case w: WNum =>
          val bounds = w.unscaled
          val below = compareBound(u, scale, w.min, bounds.min) < 0
          val above = compareBound(u, scale, w.max, bounds.max) > 0
          if (!below && !above && scale <= w.maxScale) w
          else {
            val v = BigDecimal(java.math.BigDecimal.valueOf(u, scale))
            WNum(if (below) v else w.min, if (above) v else w.max, math.max(w.maxScale, scale))
          }
        case WNull =>
          val v = BigDecimal(java.math.BigDecimal.valueOf(u, scale))
          WNum(v, v, scale)
        case _ => throw Fallback
      }
    }
  }

  /** A number too long for a Long or written with an exponent: the
   *  BigDecimal Jackson parses from the same characters, stripped of
   *  trailing zeros when it is not an integer token, kept as parsed when
   *  stripping overflows the scale — Jackson 2.21's
   *  `BaseNodeDeserializer._fromBigDecimal`. */
  private def decimal(acc: Witness, start: Int, float: Boolean): Witness = {
    val len = pos - start
    val cs = new Array[Char](len)
    var i = 0
    while (i < len) { cs(i) = at(start + i).toChar; i += 1 }
    val parsed =
      try new java.math.BigDecimal(cs, 0, len)
      catch { case _: NumberFormatException => throw Fallback }
    val d = if (!float) parsed else try parsed.stripTrailingZeros catch { case _: ArithmeticException => parsed }
    acc match {
      case w: WNum =>
        val below = d.compareTo(w.min.bigDecimal) < 0
        val above = d.compareTo(w.max.bigDecimal) > 0
        if (!below && !above && d.scale <= w.maxScale) w
        else {
          val v = BigDecimal(d)
          WNum(if (below) v else w.min, if (above) v else w.max, math.max(w.maxScale, d.scale))
        }
      case WNull =>
        val v = BigDecimal(d)
        WNum(v, v, d.scale)
      case _ => throw Fallback
    }
  }
}
