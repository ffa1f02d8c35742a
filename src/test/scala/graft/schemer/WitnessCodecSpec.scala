package graft.schemer

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The native witness aggregate and its shuffle codec: byte-exact
 *  round-trips for arbitrary witnesses, equivalence per group with the
 *  tree path (`ofJson` + `merge`), and the ObjectHashAggregate plan shape. */
class WitnessCodecSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  private def genWitness(depth: Int): Gen[Witness] =
    if (depth == 0) genLeaf
    else Gen.frequency(
      3 -> genLeaf,
      1 -> Gen.lzy(genWitness(depth - 1).map(WArr(_))),
      2 -> Gen.lzy(genFields(depth - 1).map(WObj(_))))

  private val genLeaf: Gen[Witness] = Gen.oneOf(
    Gen.const(WNull),
    Gen.const(WBool),
    Gen.choose(0, 70000).map(WStr(_)),
    for {
      a <- Gen.choose(-1e15, 1e15); b <- Gen.choose(-1e15, 1e15); s <- Gen.choose(0, 8)
    } yield {
      val (lo, hi) = (BigDecimal(math.min(a, b)), BigDecimal(math.max(a, b)))
      WNum(lo.setScale(s, BigDecimal.RoundingMode.HALF_UP),
        hi.setScale(s, BigDecimal.RoundingMode.HALF_UP), s)
    })

  private def genFields(depth: Int): Gen[Vector[(String, Witness)]] =
    Gen.choose(0, 5).flatMap { n =>
      Gen.sequence[Vector[(String, Witness)], (String, Witness)](
        (0 until n).map(i => genWitness(depth).map(w => s"f$i" -> w)))
    }

  test("codec round-trips arbitrary witnesses exactly") {
    samples(genWitness(3)).foreach { w =>
      val back = WitnessCodec.read(WitnessCodec.write(w))
      assert(back == w, s"round-trip mismatch for $w")
      // and the rendered type (what the aggregate ships downstream) agrees
      assert(HiveRender.renderType(back) == HiveRender.renderType(w))
    }
  }

  test("codec preserves BigDecimal scale/precision through the string form") {
    val w = WNum(BigDecimal("-0.0001200"), BigDecimal("12345678901234.5"), 7)
    val back = WitnessCodec.read(WitnessCodec.write(w)).asInstanceOf[WNum]
    assert(back.min.scale == 7 && back.max.scale == 1)
    assert(back.precision == w.precision && back.maxScale == 7)
  }

  test("native ObjectHashAggregate equals the tree-path fold per group") {
    import spark.implicits._
    val rows = Seq(
      (1L, """{"a": 1, "b": "xy"}"""),
      (1L, """{"a": 2.5, "c": [1, 2]}"""),
      (2L, """{"nested": {"p": true}}"""),
      (2L, null.asInstanceOf[String]),
      (3L, ""))
    val docs = rows.toDF("g", "doc")
    val native = docs.groupBy("g").agg(InferSchema.infer_hive_type(col("doc")).as("t"))
    // the reference form: each group's non-empty documents parsed to a tree
    // and merged in row order, from the bottom witness
    val viaTree = rows.groupBy(_._1).map { case (g, gs) =>
      g -> HiveRender.renderType(gs.map(_._2).filter(d => d != null && d.nonEmpty)
        .foldLeft(Witness.bottom)((acc, d) => Witness.merge(acc, Witness.ofJson(d))))
    }
    val byG = native.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byG == viaTree)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
    // empty group / all-null group renders the unknown marker, not a crash
    assert(byG(3L) == "???")
    assert(byG(1L).startsWith("STRUCT<"))
  }

  test("infer_column_defs renders the definition block natively") {
    import spark.implicits._
    val docs = Seq("""{"id": 7, "name": "ab"}""").toDF("doc")
    val out = docs.agg(InferSchema.infer_column_defs(col("doc"))).first().getString(0)
    assert(out.contains("id TINYINT") && out.contains("name VARCHAR(2)"))
  }
}
