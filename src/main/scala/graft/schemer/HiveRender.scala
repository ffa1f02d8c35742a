package graft.schemer

import org.apache.spark.sql.types._

/**
 * Witness → Hive DDL rendering — replicates the reference's `out` /
 * `definition` / `table` (`/root/reference/Schemer.scala:67-115`) including
 * tab indentation, the `???` unknown marker, and the reference's exact
 * `65356` VARCHAR threshold (a typo for 65535 preserved for behavioral
 * parity, SURVEY.md §1.2).
 */
object HiveRender {

  /** The reference's VARCHAR upper bound (Schemer.scala:73). */
  val VarcharMax = 65356

  /** Hive type of one witness leaf/subtree at indent `i`, optionally
   *  prefixed by `key ` — mirrors `out` (Schemer.scala:67-97). */
  def renderType(w: Witness, i: Int = 0, key: Option[String] = None): String = {
    val pad = "\t" * i
    pad + key.fold("")(_ + " ") + (w match {
      case WNull => "???"
      case WBool => "BOOLEAN"
      case WStr(n) if 0 < n && n < VarcharMax => s"VARCHAR($n)"
      case WStr(_) => "STRING"
      // extension types (flagged timestamp inference; no reference twin)
      case WTs(_, true) => "DATE"
      case WTs(_, false) => "TIMESTAMP"
      case n: WNum => renderNum(n)
      case WArr(e) =>
        Seq("ARRAY<", renderType(e, i + 1), s"$pad>").mkString("\n")
      case WMap(v) =>
        // extension type (no reference twin — WMap only exists behind the
        // map-inference flag); rendered in the ARRAY<> multi-line style
        Seq("MAP<STRING,", renderType(v, i + 1), s"$pad>").mkString("\n")
      case WObj(fs) =>
        // struct fields are comma-separated, per the README golden output
        // (README.md:28-33) and valid Hive STRUCT<> syntax — the reference
        // code's `out` (Schemer.scala:92-95) omits them, a bug vs its own doc
        val body = fs.map { case (k, v) => renderType(v, i + 1, Some(k + ":")) }.mkString(",\n")
        Seq("STRUCT<", body, s"$pad>").mkString("\n")
    })
  }

  /** Numeric bucket selection (Schemer.scala:77-85). Integral-fit checks use
   *  BOTH min and max so negatives can't be under-typed (documented fix of
   *  the reference's max-only witness, SURVEY.md §1.2). They read the
   *  bounds unwidened: widening to scale 0 keeps a value, and the fit
   *  checks are by value (`1e999999999` would not widen). */
  private def renderNum(n: WNum): String = {
    val (mn, mx) = (n.min, n.max)
    if (n.maxScale == 0) {
      if (mn.isValidByte && mx.isValidByte) "TINYINT"
      else if (mn.isValidShort && mx.isValidShort) "SMALLINT"
      else if (mn.isValidInt && mx.isValidInt) "INT"
      else if (mn.isValidLong && mx.isValidLong) "BIGINT"
      else s"NUMERIC(${n.precision}, 0)"
    } else if (n.precision <= 7) "FLOAT"
    else if (n.precision <= 15) "DOUBLE"
    else s"NUMERIC(${n.precision}, ${n.maxScale})"
  }

  /** Top-level column list `name TYPE,\n…` — mirrors `definition`
   *  (Schemer.scala:99-105); non-object top level renders "ERROR"; the
   *  empty object (empty input) renders an empty list, as the reference's
   *  `Json.obj()` seed does. */
  def definition(w: Witness, i: Int = 0): String = w match {
    case WObj(fs) => fs.map { case (k, v) => renderType(v, i, Some(k)) }.mkString(",\n")
    case _ => "ERROR"
  }

  /** Full 3-statement Hive script — mirrors `table` (Schemer.scala:107-115). */
  def table(w: Witness, name: String, file: String): String = Seq(
    "ADD JAR hive-json-serde-0.2.jar;",
    "",
    s"CREATE TABLE $name (",
    definition(w, 1),
    ") ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.JsonSerde';",
    "",
    s"LOAD DATA LOCAL INPATH '$file' INTO TABLE $name;"
  ).mkString("\n")

  // ---- Spark-native rendering (beyond-reference convenience) --------------

  /** Witness → Spark `DataType`, so an inferred schema can immediately drive
   *  `spark.read.schema(...).json(...)`. `???` ⇒ NullType (Spark's real
   *  bottom type — same lattice role, SURVEY.md §1.4). */
  def toSparkType(w: Witness): DataType = w match {
    case WNull => NullType
    case WBool => BooleanType
    case WStr(_) => StringType
    case WTs(_, true) => DateType
    case WTs(_, false) => TimestampType
    case n: WNum =>
      val (mn, mx) = (n.min, n.max)
      if (n.maxScale == 0) {
        if (mn.isValidByte && mx.isValidByte) ByteType
        else if (mn.isValidShort && mx.isValidShort) ShortType
        else if (mn.isValidInt && mx.isValidInt) IntegerType
        else if (mn.isValidLong && mx.isValidLong) LongType
        else DecimalType(math.min(n.precision, 38), 0)
      } else if (n.precision <= 7) FloatType
      else if (n.precision <= 15) DoubleType
      else {
        // tiny fractions can have scale > precision (0.0…01234…: p16 s21);
        // Spark requires scale ≤ precision ≤ 38
        val s = math.min(n.maxScale, 38)
        DecimalType(math.min(math.max(n.precision, s), 38), s)
      }
    case WArr(e) => ArrayType(toSparkType(e), containsNull = true)
    case WMap(v) => MapType(StringType, toSparkType(v), valueContainsNull = true)
    case WObj(fs) =>
      StructType(fs.map { case (k, v) => StructField(k, toSparkType(v), nullable = true) })
  }

  def toSparkSchema(w: Witness): StructType = toSparkType(w) match {
    case s: StructType => s
    case other => StructType(Seq(StructField("value", other, nullable = true)))
  }
}
