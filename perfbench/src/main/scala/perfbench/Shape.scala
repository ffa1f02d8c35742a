package perfbench

import java.math.{BigDecimal => JBigDecimal}

/** The benchmark's own model of an inferred column type, used as the oracle
 *  for the two inference workloads. It restates the documented Hive typing
 *  rules (max string length, numeric min/max/scale buckets, element-merged
 *  arrays, key-union structs, null as bottom) from scratch, so a check built
 *  on it does not trust the code under test. */
sealed trait Shape

object Shape {
  /** Only nulls (or no values) seen. */
  case object Bottom extends Shape
  case object Bool extends Shape
  final case class Str(maxLen: Int) extends Shape
  final case class Num(min: JBigDecimal, max: JBigDecimal, maxScale: Int) extends Shape
  final case class Arr(elem: Shape) extends Shape
  final case class Obj(fields: Vector[(String, Shape)]) extends Shape

  def num(v: JBigDecimal): Num = Num(v, v, v.scale)
  def int(v: Long): Num = num(JBigDecimal.valueOf(v))

  /** Least upper bound; the generators never pair different kinds. */
  def join(a: Shape, b: Shape): Shape = (a, b) match {
    case (Bottom, x) => x
    case (x, Bottom) => x
    case (Bool, Bool) => Bool
    case (Str(x), Str(y)) => Str(math.max(x, y))
    case (Num(a0, a1, s), Num(b0, b1, t)) =>
      Num(if (b0.compareTo(a0) < 0) b0 else a0, if (b1.compareTo(a1) > 0) b1 else a1, math.max(s, t))
    case (Arr(x), Arr(y)) => Arr(join(x, y))
    case (Obj(xs), Obj(ys)) =>
      val ym = ys.toMap
      val merged = xs.map { case (k, v) => k -> ym.get(k).fold(v)(join(v, _)) }
      val seen = xs.map(_._1).toSet
      Obj(merged ++ ys.filterNot(kv => seen(kv._1)))
    case _ => throw new IllegalArgumentException(s"generator mixed kinds: $a vs $b")
  }

  private def fits(n: Num, lo: Long, hi: Long): Boolean =
    n.min.compareTo(JBigDecimal.valueOf(lo)) >= 0 && n.max.compareTo(JBigDecimal.valueOf(hi)) <= 0

  private def numType(n: Num): String = {
    def prec(x: JBigDecimal) = x.setScale(math.max(x.scale, n.maxScale)).precision
    val p = math.max(prec(n.min), prec(n.max))
    if (n.maxScale == 0) {
      if (fits(n, Byte.MinValue, Byte.MaxValue)) "TINYINT"
      else if (fits(n, Short.MinValue, Short.MaxValue)) "SMALLINT"
      else if (fits(n, Int.MinValue, Int.MaxValue)) "INT"
      else if (fits(n, Long.MinValue, Long.MaxValue)) "BIGINT"
      else s"NUMERIC($p, 0)"
    } else if (p <= 7) "FLOAT"
    else if (p <= 15) "DOUBLE"
    else s"NUMERIC($p, ${n.maxScale})"
  }

  /** Hive type text at tab indent `i`, optionally prefixed by `key `. */
  def render(s: Shape, i: Int = 0, key: String = ""): String = {
    val pad = "\t" * i
    val head = pad + (if (key.isEmpty) "" else key + " ")
    head + (s match {
      case Bottom => "???"
      case Bool => "BOOLEAN"
      case Str(n) => if (n > 0 && n < 65356) s"VARCHAR($n)" else "STRING"
      case n: Num => numType(n)
      case Arr(e) => "ARRAY<\n" + render(e, i + 1) + "\n" + pad + ">"
      case Obj(fs) =>
        "STRUCT<\n" + fs.map { case (k, v) => render(v, i + 1, k + ":") }.mkString(",\n") + "\n" + pad + ">"
    })
  }

  /** The full Hive script for a top-level object shape. */
  def hiveScript(top: Obj, table: String, file: String): String =
    Seq(
      "ADD JAR hive-json-serde-0.2.jar;",
      "",
      s"CREATE TABLE $table (",
      top.fields.map { case (k, v) => render(v, 1, k) }.mkString(",\n"),
      ") ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.JsonSerde';",
      "",
      s"LOAD DATA LOCAL INPATH '$file' INTO TABLE $table;"
    ).mkString("\n")

  /** A decimal with `scale` fraction digits whose last digit is non-zero, so
   *  the text has no trailing zeros for a JSON parser to strip or keep. */
  def decimal(rnd: java.util.SplittableRandom, maxAbs: Long, scale: Int, signed: Boolean): JBigDecimal = {
    var u = rnd.nextLong(maxAbs)
    u = u - u % 10 + 1 + rnd.nextInt(9)
    if (signed && rnd.nextBoolean()) u = -u
    JBigDecimal.valueOf(u, scale)
  }
}
