package graft

import graft.SparkTestSession
import org.apache.spark.sql.graft.GraftFunctions
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-facing function catalog: every native expression callable from
 *  pure SQL after registration, with the same results as the Column API. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; GraftFunctions.register(s); s }

  test("scalar natives work from SQL") {
    val r = spark.sql(
      """SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       array_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |       simhash64(array('a', 'b')) AS s,
        |       minhash_sig(array(7L, 8L), 4) AS m,
        |       shingle_hashes(array('x', 'y', 'z'), 3) AS sh,
        |       lang_id(array('the', 'cat', 'the')) AS lang,
        |       hyperplane_sig(array(0.5f, -0.5f), 8, 2) AS hp,
        |       char_sum_sq('aab') AS sq,
        |       char_distinct('aab') AS dc""".stripMargin).first()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 1.0)
    assert(r.getSeq[Long](3).length == 4)
    assert(r.getSeq[Long](4).length == 1)
    assert(r.getString(5) == "en")
    assert(r.getInt(6) >= 0 && r.getInt(6) < 256)
    assert(r.getLong(7) == 5L)
    assert(r.getInt(8) == 2)
  }

  test("infer_hive_type aggregates from SQL and matches the Column API") {
    import org.apache.spark.sql.functions.col
    val df = spark.sql(
      """SELECT v FROM VALUES ('{"a": 1}'), ('{"a": 2.5, "b": "x"}') AS t(v)""")
    df.createOrReplaceTempView("json_rows")
    val viaSql = spark.sql("SELECT infer_hive_type(v) AS t FROM json_rows").first().getString(0)
    val viaApi = df.agg(graft.schemer.InferSchema.infer_hive_type(col("v"))).first().getString(0)
    assert(viaSql == viaApi)
    assert(viaSql.startsWith("STRUCT<"))
    val defs = spark.sql("SELECT infer_column_defs(v) FROM json_rows").first().getString(0)
    assert(defs.contains("a FLOAT") && defs.contains("b VARCHAR(1)"))
  }

  test("the SQL witness functions bind to the native aggregates") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    for ((fn, native) <- Seq(
        "infer_hive_type" -> classOf[graft.schemer.HiveWitnessAgg],
        "infer_column_defs" -> classOf[graft.schemer.HiveWitnessAgg],
        "infer_column_types" -> classOf[graft.schemer.WitnessColumnsAgg])) {
      val df = spark.sql(s"""SELECT $fn(v) FROM VALUES ('{"a": 1}'), ('{"b": "x"}') AS t(v)""")
      val bound = df.queryExecution.analyzed.expressions
        .flatMap(_.collect { case a: AggregateExpression => a.aggregateFunction.getClass })
      assert(bound == Seq(native), s"$fn bound to $bound")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ObjectHashAggregate"), s"$fn planned as:\n$plan")
    }
  }

  test("minhash_sig rejects a non-literal k") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array(1L), cast(rand()*4 as int))").collect()
    }
    assert(e.getMessage.contains("literal int"))
  }

  test("a fresh session built with the extensions class resolves the functions") {
    // spark.sql.extensions is honored at session-state creation; cloning the
    // active session through the extension entry point exercises the same
    // injectFunction path spark-submit users get
    val ext = new GraftExtensions
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    ext(exts) // must not throw; catalog rows all well-formed
    assert(GraftExtensions.catalog.map(_._1).distinct.size == GraftExtensions.catalog.size)
  }
}
