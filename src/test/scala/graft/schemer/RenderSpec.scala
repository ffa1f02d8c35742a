package graft.schemer

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Boundary tests for every render bucket of the reference's `out`
 *  (`/root/reference/Schemer.scala:67-97`), per FIXTURES.md §3. */
class RenderSpec extends AnyFunSuite {
  import HiveRender.renderType

  private def num(v: String, scale: Int = -1): WNum = {
    val d = BigDecimal(v)
    WNum(d, d, if (scale >= 0) scale else d.scale)
  }

  test("null witness renders ???") { assert(renderType(WNull) == "???") }
  test("boolean") { assert(renderType(WBool) == "BOOLEAN") }

  test("string buckets: VARCHAR(n) for 0<n<65356, STRING otherwise") {
    assert(renderType(WStr(1)) == "VARCHAR(1)")
    assert(renderType(WStr(65355)) == "VARCHAR(65355)")
    assert(renderType(WStr(65356)) == "STRING")
    assert(renderType(WStr(0)) == "STRING") // empty-string witness
  }

  test("integral buckets at exact boundaries") {
    assert(renderType(num("127")) == "TINYINT")
    assert(renderType(num("128")) == "SMALLINT")
    assert(renderType(num("-128")) == "TINYINT")
    assert(renderType(num("-129")) == "SMALLINT")
    assert(renderType(num("32767")) == "SMALLINT")
    assert(renderType(num("32768")) == "INT")
    assert(renderType(num("2147483647")) == "INT")
    assert(renderType(num("2147483648")) == "BIGINT")
    assert(renderType(num("9223372036854775807")) == "BIGINT")
    assert(renderType(num("9223372036854775808")) == "NUMERIC(19, 0)")
  }

  test("negative-range fix: min drives the bucket even when max is tiny") {
    // the reference (max-only witness) would emit TINYINT here — unsound
    assert(renderType(WNum(BigDecimal(-200), BigDecimal(1), 0)) == "SMALLINT")
  }

  test("fractional buckets: FLOAT ≤ p7, DOUBLE ≤ p15, else NUMERIC(p,s)") {
    assert(renderType(num("12.345")) == "FLOAT")              // p5 s3
    assert(renderType(num("1234567.1", 1)) == "DOUBLE")       // p8
    assert(renderType(num("1234.543")) == "FLOAT")            // p7
    assert(renderType(num("1234.5434")) == "DOUBLE")          // p8
  }

  test("reference golden numerics from README") {
    // 12544 ⊔ 1234.5434 ⇒ 12544.0000 (p9 s4) ⇒ DOUBLE (README.md:36)
    val area = Witness.merge(num("12544"), num("1234.5434")).asInstanceOf[WNum]
    assert(renderType(area) == "DOUBLE")
    // 12345678901234.5 ⊔ 0.12 ⇒ p16 s2 ⇒ NUMERIC(16, 2) (README.md:42)
    val n = Witness.merge(num("12345678901234.5"), num("0.12")).asInstanceOf[WNum]
    assert(renderType(n) == "NUMERIC(16, 2)")
    // 1,2,3 ⇒ TINYINT (README.md:44)
    val id = Vector("1", "2", "3").map(num(_): Witness).reduce(Witness.merge(_, _))
    assert(renderType(id) == "TINYINT")
  }

  test("precision boundaries 7/8 and 15/16") {
    assert(renderType(num("0.1234567", 7)) == "FLOAT")        // p7
    assert(renderType(num("0.12345678", 8)) == "DOUBLE")      // p8
    assert(renderType(num("123456789012.345")) == "DOUBLE")   // p15
    assert(renderType(num("1234567890123.456")) == "NUMERIC(16, 3)") // p16
  }

  test("array and struct rendering with tab indentation") {
    val w = WObj(Vector("children" -> WArr(WObj(Vector("toy" -> WStr(10), "name" -> WStr(7))))))
    val expected =
      "STRUCT<\n\tchildren ARRAY<\n\t\tSTRUCT<\n\t\t\ttoy: VARCHAR(10),\n\t\t\tname: VARCHAR(7)\n\t\t>\n\t>\n>"
    // top-level renderType of the object
    assert(renderType(w).startsWith("STRUCT<"))
    val arr = renderType(w.get("children").get, 1, Some("children"))
    assert(arr ==
      "\tchildren ARRAY<\n\t\tSTRUCT<\n\t\t\ttoy: VARCHAR(10),\n\t\t\tname: VARCHAR(7)\n\t\t>\n\t>")
  }

  test("empty array renders ARRAY<???>") {
    assert(renderType(WArr(WNull)) == "ARRAY<\n\t???\n>")
  }

  test("definition: non-object top level is ERROR") {
    assert(HiveRender.definition(WStr(3)) == "ERROR")
    assert(HiveRender.definition(WNull) == "ERROR")
  }

  test("definition: top-level fields have no colon") {
    val w = WObj(Vector("id" -> WNum(1, 3, 0), "name" -> WStr(6)))
    assert(HiveRender.definition(w) == "id TINYINT,\nname VARCHAR(6)")
  }

  test("table: full 3-statement script shape") {
    val w = WObj(Vector("id" -> WNum(1, 3, 0)))
    val s = HiveRender.table(w, "data", "/tmp/x.json")
    assert(s.startsWith("ADD JAR hive-json-serde-0.2.jar;"))
    // definition is rendered at indent 1 (Schemer.scala:110), hence the tab
    assert(s.contains("CREATE TABLE data (\n\tid TINYINT\n) ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.JsonSerde';"))
    assert(s.endsWith("LOAD DATA LOCAL INPATH '/tmp/x.json' INTO TABLE data;"))
  }

  test("toSparkType maps buckets to Spark types") {
    import org.apache.spark.sql.types._
    assert(HiveRender.toSparkType(WNull) == NullType)
    assert(HiveRender.toSparkType(num("5")) == ByteType)
    assert(HiveRender.toSparkType(num("40000")) == IntegerType)
    assert(HiveRender.toSparkType(num("12.345")) == FloatType)
    assert(HiveRender.toSparkType(WStr(9)) == StringType)
    assert(HiveRender.toSparkType(WArr(WBool)) == ArrayType(BooleanType, containsNull = true))
  }

  private def fold(lines: String*): Witness =
    lines.foldLeft(WObj.empty: Witness)((acc, l) => Witness.foldJson(acc, UTF8String.fromString(l), "ctx"))

  test("a scale no number can be widened to still renders, and its mismatch message builds") {
    val tiny = fold("""{"x":1e-999999999}""", """{"x":5}""")
    assert(HiveRender.definition(tiny) == "x NUMERIC(1000000000, 999999999)")
    assert(HiveRender.toSparkSchema(tiny).head.dataType == org.apache.spark.sql.types.DecimalType(38, 38))
    val e = intercept[RowMismatch](Witness.foldJson(tiny, UTF8String.fromString("""{"x":[1]}"""), "ctx"))
    assert(e.getMessage.contains("NUMERIC(1000000000, 999999999)"), e.getMessage)
    val huge = fold("""{"x":1e999999999}""", """{"x":5}""")
    assert(HiveRender.definition(huge) == "x NUMERIC(1000000000, 0)")
    assert(HiveRender.toSparkSchema(huge).head.dataType == org.apache.spark.sql.types.DecimalType(38, 0))
  }

  test("precision without widening equals the precision of the widened bounds") {
    def widened(x: BigDecimal, s: Int): Int = (if (x.scale >= s) x else x.setScale(s)).precision
    val unscaled = Gen.oneOf(
      Gen.const(BigInt(0)),
      Gen.choose(-999L, 999L).map(BigInt(_)),
      Gen.choose(Long.MinValue, Long.MaxValue).map(BigInt(_)),
      Gen.choose(19, 60).flatMap(d => Gen.listOfN(d, Gen.choose(0, 9)).map(ds => BigInt(ds.mkString("1", "", "")))))
    val gen = for {
      a <- unscaled; b <- unscaled
      sa <- Gen.choose(-25, 40); sb <- Gen.choose(-25, 40) // negative: 1e3; large: tiny fractions
      s <- Gen.choose(-25, 80)
    } yield (BigDecimal(new java.math.BigDecimal(a.bigInteger, sa)), BigDecimal(new java.math.BigDecimal(b.bigInteger, sb)), s)
    (0 until 2000).flatMap(i => gen.apply(Gen.Parameters.default, Seed(7L + i))).foreach { case (a, b, s) =>
      val n = WNum(a min b, a max b, s)
      assert(n.precision == math.max(widened(n.min, s), widened(n.max, s)), (a, b, s))
    }
  }
}
