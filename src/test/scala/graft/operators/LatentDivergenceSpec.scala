package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The round-8 latent-divergence fixes, each pinned by an input that
 *  actually TRIGGERS the guarded path — the fixes are worthless if the
 *  testdata never reaches them:
 *   - waterfall: a stage that filters EVERYTHING (n_in = 0) must report
 *     NULL keep rate, not NULL-by-accident (Spark div) vs abort (DuckDB //)
 *   - simpson: a one-token source makes N(N-1) = 0 — same guard
 *   - modularity: 4·m·internal at ≥2³¹ undirected edges wraps a 64-bit
 *     long; the widened decimal(38) path must match exact BigDecimal math
 */
class LatentDivergenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = graft.ScratchFiles.dir("graft_divergence")
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val data = rows.map { case (id, text, lang, source) =>
      Row(id, text, lang, source, text.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("waterfall: a stage that filters everything reports NULL kept_bp, no error") {
    // lang column 'zz' can never equal langId(text) -> stage 1 keeps zero
    // docs, so stages 2 and 3 see n_in = 0. Before the guard Spark's div
    // silently NULLed while DuckDB's // raised; now NULL is the contract.
    val dir = docsDir(Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "zz", "web"),
      (2L, "pack my box with five dozen liquor jugs", "zz", "web")))
    val rows = CurationPipeline.waterfall(spark, dir).collect()
    assert(rows.length == 3)
    val byStage = rows.map(r => r.getAs[String]("stage_name") -> r).toMap
    assert(byStage("lang_id").getAs[Long]("n_in") == 2L)
    assert(byStage("lang_id").getAs[Long]("n_kept") == 0L)
    assert(byStage("lang_id").getAs[Long]("kept_bp") == 0L)
    for (s <- Seq("quality", "exact_dedup")) {
      assert(byStage(s).getAs[Long]("n_in") == 0L, s)
      assert(byStage(s).isNullAt(byStage(s).fieldIndex("kept_bp")),
        s"$s: n_in = 0 must yield NULL kept_bp")
    }
  }

  test("simpson: a one-token source yields NULL simpson_bp, no error") {
    val dir = docsDir(Seq(
      (1L, "solitary", "en", "lonely"),
      (2L, "alpha beta alpha gamma alpha beta", "en", "busy")))
    val rows = TextQueries.simpsonDiversity(spark, dir).collect()
    val bysrc = rows.map(r => r.getAs[String]("source") -> r).toMap
    val lone = bysrc("lonely")
    assert(lone.getAs[Long]("n_tok") == 1L)
    assert(lone.isNullAt(lone.fieldIndex("simpson_bp")),
      "N(N-1) = 0 must yield NULL, matching the oracle's CASE guard")
    // and the guarded path leaves the normal path exact: 6 tokens,
    // coll = 3·2 + 2·1 + 1·0 = 8, D = 8/30, half-up bp = 2667
    val busy = bysrc("busy")
    assert(busy.getAs[Long]("n_tok") == 6L)
    assert(busy.getAs[Long]("simpson_bp") == 2667L)
    assert(busy.getAs[Long]("gini_simpson_bp") == 10000L - 2667L)
  }

  test("modularity arithmetic: the widened decimal path is exact past 2^31 edges") {
    // m = 3e9 undirected edges (a 100 TB graph), internal = 2.5e9:
    // 4·m·internal = 3e19 > 2^63 — the old long product wrapped silently.
    val m = 3000000000L
    val internal = 2500000000L
    val sds = BigDecimal("9000000000000000000000") // Σd_c² past 2^63 too
    val df = spark.sql(
      s"SELECT ${m}L AS m, ${internal}L AS internal_edges, cast('$sds' as decimal(38,0)) AS sds")
    // the exact expression modularity() ships (GraphOps.scala)
    val got = df.select(
      expr("""(cast(4 * cast(m as decimal(38,0)) * internal_edges as double)
               - cast(sds as double))
             / cast(4 * cast(m as decimal(38,0)) * m as double)""").as("q"))
      .collect().head.getAs[Double]("q")
    val exact = ((BigDecimal(4) * BigDecimal(m) * BigDecimal(internal) - sds) /
      (BigDecimal(4) * BigDecimal(m) * BigDecimal(m))).toDouble
    assert(math.abs(got - exact) < 1e-12, s"widened: got $got want $exact")
    // and prove the trigger is real: the unwidened 64-bit product wraps
    val wrapped = 4L * m * internal
    assert(wrapped != BigDecimal(4) * BigDecimal(m) * BigDecimal(internal),
      "4·m·internal must overflow a long at this scale — else the test is vacuous")
    assert(wrapped < 0, "the wrap flips the sign — a silent wrong answer")
  }
}
