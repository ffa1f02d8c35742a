package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r12 fused single-pass text stats (QualityBpExpr / TokenCountExpr)
 *  must be BIT-IDENTICAL to the column trees they replaced — those trees
 *  stay in the test tree ([[TextColumnForms]]) as the oracle-expressible
 *  reference forms. The generator covers the adversarial cases the
 *  byte-scan must get right:
 *  empty, all-space, leading/trailing space runs, consecutive interior
 *  spaces, tabs/newlines (NOT trimmed by Spark's trim), multi-byte UTF-8
 *  (must count as one char, never alias an ASCII class), punctuation
 *  clusters, and long alpha runs. */
class CharStatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val corners = Seq(
    "", " ", "   ", "a", " a ", "  a  b  ", "a b c", "a  b",
    "\t", "\n", " \t \n ", "a\tb", "a\nb", "tab\tand newline\n",
    "héllo wörld", "日本語 テキスト", "emoji 👍 here", "ü", " é ",
    ".,;:!?", "a.b,c;d:e!f?g", "!!!???...",
    "The quick brown fox jumps over the lazy dog. " * 8,
    "x" * 500, (" word" * 100).trim, "  lead", "trail  ",
    "MiXeD CaSe 123 #$%^", "0123456789", "null")

  private def randomDocs(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(99)
    val alphabet = "abc XYZ.,;:!?\t\n0189éü日👍 "
    Seq.fill(n)(Seq.fill(rnd.nextInt(80))(alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  test("QualityBpExpr and TokenCountExpr equal the column forms bit-for-bit") {
    import spark.implicits._
    val df = (corners ++ randomDocs(300)).toDF("text")
    val out = df.select(
      TextFunctions.qualityBp(col("text")).as("q_native"),
      TextColumnForms.qualityBpColumnForm(col("text")).as("q_col"),
      TextFunctions.tokenCount(col("text")).as("t_native"),
      TextColumnForms.tokenCountColumnForm(col("text")).as("t_col"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"qualityBp diverged: $r")
      assert(r.getInt(2) == r.getInt(3), s"tokenCount diverged: $r")
    }
  }

  test("types and null propagation match the column forms") {
    val df = spark.sql("SELECT cast(null as string) AS text")
    val r = df.select(
      TextFunctions.qualityBp(col("text")),
      TextFunctions.tokenCount(col("text"))).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    val schema = df.select(
      TextFunctions.qualityBp(col("text")),
      TextFunctions.tokenCount(col("text"))).schema
    assert(schema(0).dataType.typeName == "long")
    assert(schema(1).dataType.typeName == "integer")
  }

  test("interpreted path (codegen off) agrees with the codegen path") {
    import spark.implicits._
    val df = (corners ++ randomDocs(50)).toDF("text")
    val sel = df.select(
      TextFunctions.qualityBp(col("text")).as("q"),
      TextFunctions.tokenCount(col("text")).as("t"))
    val on = sel.collect()
    val prevWs = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevFm = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = sel.collect()
      assert(on.map(_.toString).toSeq == off.map(_.toString).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWs)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFm)
    }
  }
}
