package graft.functions

import graft.SparkTestSession
import graft.functions.TextFunctions.{cosine, dot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native codegen'd vector expressions: equality with the HOF forms they
 *  replaced (bit-identical doubles), null/length semantics, and both
 *  evaluation paths (whole-stage codegen on, off). */
class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  test("ArrayDot/ArrayCosine equal the HOF forms bit-for-bit on float arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(64)((Array.fill(64)(rnd.nextFloat()), Array.fill(64)(rnd.nextFloat())))
    val df = rows.toDF("a", "b")
    val asD = (c: org.apache.spark.sql.Column) => transform(c, _.cast("double"))
    val out = df.select(
      dot(col("a"), col("b")).as("native_dot"),
      hofDot(asD(col("a")), asD(col("b"))).as("hof_dot"),
      cosine(col("a"), col("b")).as("native_cos"),
      (hofDot(asD(col("a")), asD(col("b"))) /
        (sqrt(hofDot(asD(col("a")), asD(col("a")))) * sqrt(hofDot(asD(col("b")), asD(col("b")))))).as("hof_cos"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) == java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) == java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("length mismatch and null elements yield NULL; zero vectors yield cosine 0") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0), Array(3.0, 4.0, 5.0)),          // length mismatch
      (Array(0.0, 0.0), Array(0.0, 0.0))                 // zero norm
    ).toDF("a", "b")
    val r = df.select(dot(col("a"), col("b")), cosine(col("a"), col("b"))).collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(r(1).getDouble(0) == 0.0 && r(1).getDouble(1) == 0.0)
    val withNullElem = spark.sql("SELECT array(1.0d, cast(null as double)) a, array(1.0d, 2.0d) b")
    val rn = withNullElem.select(dot(col("a"), col("b")), cosine(col("a"), col("b"))).collect()(0)
    assert(rn.isNullAt(0) && rn.isNullAt(1))
  }

  test("interpreted path (codegen off) agrees with codegen path") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(16)((Array.fill(8)(rnd.nextFloat()), Array.fill(8)(rnd.nextFloat())))
    val df = rows.toDF("a", "b")
    val q = df.select(dot(col("a"), col("b")).as("d"), cosine(col("a"), col("b")).as("c"))
    val on = q.collect()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val off = q.collect()
      assert(on.map(_.toSeq).toSeq == off.map(_.toSeq).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("float and double arrays mix (hyperplane planes against float vectors)") {
    import spark.implicits._
    val df = Seq(Tuple1(Array.fill(16)(0.5f))).toDF("v")
    val sig = df.select(TextFunctions.hyperplaneSig(col("v"), 8, 16).as("s")).collect()(0).getInt(0)
    assert(sig >= 0 && sig < 256)
  }

  test("native hyperplaneSig equals the HOF form bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(128)(Tuple1(Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("v")
    val out = df.select(
      TextFunctions.hyperplaneSig(col("v"), 12, 64).as("native"),
      TextFunctions.hyperplaneSigHof(col("v"), 12, 64).as("hof")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    assert(out.map(_.getInt(0)).distinct.length > 1) // signatures actually vary
  }

  test("hyperplaneSig degenerate inputs yield 0 like the HOF (never null)") {
    val df = spark.sql(
      "SELECT cast(null as array<float>) a, array(1.0f, 2.0f) b, array(1.0f, cast(null as float)) c")
    val r = df.select(
      TextFunctions.hyperplaneSig(col("a"), 8, 64),   // null vector
      TextFunctions.hyperplaneSig(col("b"), 8, 64),   // wrong length
      TextFunctions.hyperplaneSig(col("c"), 8, 2)     // null element
    ).collect()(0)
    assert(!r.isNullAt(0) && r.getInt(0) == 0)
    assert(!r.isNullAt(1) && r.getInt(1) == 0)
    assert(!r.isNullAt(2) && r.getInt(2) == 0)
  }

  test("top2Cells matches the SQL row_number twin, ties included") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    // centroids engineered for ties: c0 == c2 on every axis
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    val df = Seq(
      Tuple1(Array(2.0f, 0.0f)),   // d = (2, 0, 2): tie for first -> (c0, c2)
      Tuple1(Array(1.0f, 3.0f)),   // d = (1, 3, 1): best c1, tie for second -> c0
      Tuple1(Array(-1.0f, -2.0f))  // all negative: best c1 (-2... no: d=(-1,-2,-1)) -> c0 first
    ).toDF("v")
    val t2 = ColumnBridge.column(graft.functions.Top2CellsExpr(
      ColumnBridge.expression(col("v")), cents))
    val rows = df.select(t2.as("t")).select("t.cell1", "t.d1", "t.cell2", "t.d2").collect()
    assert(rows(0).getInt(0) == 0 && rows(0).getInt(2) == 2) // lowest id wins both slots
    assert(rows(1).getInt(0) == 1 && rows(1).getInt(2) == 0)
    assert(rows(2).getInt(0) == 0 && rows(2).getDouble(1) == -1.0 &&
           rows(2).getInt(2) == 2) // negative dots: ordering still by value desc, id asc
  }

  test("PqEncodeExpr/PqAdcExpr equal the HOF quantize+encode+ADC chain exactly") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val M = 8; val K = 4; val w = 8; val dim = M * w
    val rnd = new scala.util.Random(23)
    val vecs = Seq.fill(48)(Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val df = vecs.map(Tuple1(_)).toDF("embedding")
    val gs = vecs.map(_.map(x => math.abs(x.toDouble)).max).max
    // the exact HOF chain PqEncodeExpr replaced (old pqTopKOf internals)
    val quantized = transform(col("embedding"), x =>
      floor(lit(127.0d) * x.cast("double") / lit(gs) + lit(0.5d)))
    val cb: Array[Array[Long]] = vecs.take(K).map(_.map(x =>
      math.floor(127.0d * x.toDouble / gs + 0.5d).toLong)).toArray
    def cwLit(s: Int) = array((0 until K).map(c =>
      array((0 until w).map(i => lit(cb(c)(s * w + i))): _*)): _*)
    def subv(q: org.apache.spark.sql.Column, s: Int) = slice(q, s * w + 1, w)
    def sqd(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)
    val hofCodes = array((0 until M).map { s =>
      pmod(array_min(zip_with(cwLit(s), sequence(lit(0L), lit((K - 1).toLong)),
        (cw, c) => sqd(subv(quantized, s), cw) * K + c)), lit(K.toLong))
    }: _*)
    val qtab = array((0 until M).map(s => transform(cwLit(s), cw => sqd(subv(quantized, s), cw))): _*)
    val nativeCodes = ColumnBridge.column(graft.functions.PqEncodeExpr(
      ColumnBridge.expression(col("embedding")), gs, cb, w))
    val hofAdc = aggregate(
      zip_with(col("qt"), col("code"), (t, cd) => element_at(t, (cd + 1).cast("int"))),
      lit(0L), (acc, x) => acc + x)
    val nativeAdc = ColumnBridge.column(graft.functions.PqAdcExpr(
      ColumnBridge.expression(col("qt")), ColumnBridge.expression(col("code"))))
    val rows = df.select(hofCodes.as("hof"), nativeCodes.as("native"), qtab.as("qt"))
      .withColumn("code", col("native"))
      .select(col("hof"), col("native"), hofAdc.as("hof_adc"), nativeAdc.as("native_adc"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "codes diverge from the HOF form")
      assert(r.getLong(2) == r.getLong(3), "ADC diverges from the HOF form")
    }
  }

  test("PqEncodeExpr compiles under forced codegen for every gs, NaN and ±Inf included") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    val w = 2
    val cb = Array(Array(0L, 0L, 0L, 0L), Array(5L, -5L, 127L, -127L), Array(-1L, 2L, -3L, 4L))
    val vecs = Seq(Array(0.5f, -0.25f, 1f, -1f), Array(0f, 0f, 0f, 0f), Array(-3f, 2f, 0.1f, 7f))
    val df = vecs.map(Tuple1(_)).toDF("v")
    val conf = Map(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.wholeStage" -> "true",
      // keep the projection out of the optimizer's interpreted local fold
      "spark.sql.optimizer.excludedRules" -> "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      for (gs <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0, 1e-300, 3.5)) {
        val q = df.select(ColumnBridge.column(graft.functions.PqEncodeExpr(
          ColumnBridge.expression(col("v")), gs, cb, w)).as("codes"))
        assert(q.queryExecution.executedPlan.toString.contains("*("), s"gs=$gs: not whole-stage compiled")
        val got = q.collect().map(_.getSeq[Long](0)).toSeq
        val want = vecs.map { v =>
          val a = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)
          PqOps.encode(a, gs, cb, w, childIsFloat = true).toLongArray().toSeq
        }
        assert(got == want, s"gs=$gs")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hyperplaneSig interpreted path agrees with codegen path") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val df = Seq.fill(32)(Tuple1(Array.fill(64)(rnd.nextFloat() - 0.5f))).toDF("v")
    val q = df.select(TextFunctions.hyperplaneSig(col("v"), 16, 64).as("s"))
    val on = q.collect().map(_.getInt(0)).toSeq
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(q.collect().map(_.getInt(0)).toSeq == on)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
