package graft.schemer

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Distributed-equals-sequential (SURVEY.md §5.2-4) and the UDAF surface. */
class InferSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val rows = Seq(
    """{"id":1, "name":"Rok", "income":null, "city":{"name":"Grosuplje", "area":12544}, "children":[{"name":"Matej"}]}""",
    """{"id":2, "name":"Jožica", "cars":[], "num":12345678901234.5, "employed":true, "children":null}""",
    """{"id":3, "name":"Simon", "num":0.12, "city":{"area":1234.5434}, "children":[{"name":"Simonca"},{"name":"Matic", "toy":"Ropotulica"}]}"""
  )

  private def sequential: Witness =
    rows.foldLeft(Witness.bottom)((acc, l) => Witness.merge(acc, Witness.ofJson(l)))

  /** Recursively sort object keys — canonical form for comparing witnesses
   *  across partitionings, where first-seen key order legitimately varies
   *  with row placement (the TYPE of every column must not). */
  private def canon(w: Witness): Witness = w match {
    case WObj(fs) => WObj(fs.map { case (k, v) => k -> canon(v) }.sortBy(_._1))
    case WArr(e) => WArr(canon(e))
    case other => other
  }

  test("distributed fold equals sequential fold at adversarial partition counts") {
    import spark.implicits._
    val seqDdl = HiveRender.definition(canon(sequential), 1)
    for (n <- Seq(1, 2, 3, 7)) {
      // repartition may reorder rows across partitions; the rendered type of
      // every (nested) column must be invariant anyway (lattice laws)
      val w = InferSchema.inferWitness(spark.createDataset(rows).repartition(n))
      assert(HiveRender.definition(canon(w), 1) == seqDdl, s"n=$n")
    }
    // order-preserving path: single partition == sequential byte-for-byte
    val one = InferSchema.inferWitness(spark.createDataset(rows).coalesce(1))
    assert(HiveRender.definition(one, 1) == HiveRender.definition(sequential, 1))
  }

  test("two-level ranged reduce equals the direct collect byte-for-byte") {
    import spark.implicits._
    val ds = spark.createDataset(rows).repartition(7)
    // rangeSize=2 forces the distributed range-fold stage on 7 partitions;
    // order preservation must make it identical to the direct path on the
    // SAME partitioning, first-seen column order included
    val direct = InferSchema.inferWitness(ds, rangeSize = 1024)
    val ranged = InferSchema.inferWitness(ds, rangeSize = 2)
    assert(HiveRender.definition(ranged, 1) == HiveRender.definition(direct, 1))
  }

  test("infer_hive_type UDAF works inside a DataFrame aggregation") {
    import spark.implicits._
    val df = Seq(
      ("a", """{"k": 87}"""),
      ("a", """{"k": 3000}"""),
      ("b", """{"k": 1.5}""")
    ).toDF("g", "props")
    val out = df.groupBy($"g")
      .agg(InferSchema.infer_hive_type($"props").as("hive_type"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a") == "STRUCT<\n\tk: SMALLINT\n>")
    assert(out("b") == "STRUCT<\n\tk: FLOAT\n>")
  }

  test("infer_hive_type is registered for SQL") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    import spark.implicits._
    Seq("""{"x": true}""", """{"y": "ab"}""").toDF("j").createOrReplaceTempView("jrows")
    val t = spark.sql("SELECT infer_hive_type(j) AS t FROM jrows").collect()(0).getString(0)
    assert(t == "STRUCT<\n\tx: BOOLEAN,\n\ty: VARCHAR(2)\n>" ||
           t == "STRUCT<\n\ty: VARCHAR(2),\n\tx: BOOLEAN\n>")
  }

  test("null and empty JSON strings are ignored by the aggregator") {
    import spark.implicits._
    val df = Seq(Some("""{"k":1}"""), None, Some("")).toDF("j")
    val t = df.agg(InferSchema.infer_hive_type($"j")).collect()(0).getString(0)
    assert(t == "STRUCT<\n\tk: TINYINT\n>")
  }

  test("empty input renders an empty column list, like the reference's Json.obj() seed") {
    import spark.implicits._
    val w = InferSchema.inferWitness(spark.emptyDataset[String])
    assert(w == WObj.empty)
    assert(HiveRender.definition(w) == "")
  }

  test("non-object top-level rows fail with RowMismatch, like the reference") {
    import spark.implicits._
    val ds = Seq("42").toDS().coalesce(1)
    val e = intercept[org.apache.spark.SparkException](InferSchema.inferWitness(ds))
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("STRUCT<") || msg.contains("TINYINT"))
  }

  test("tiny fractions (scale > precision) still produce a valid Spark DecimalType") {
    import spark.implicits._
    val ds = Seq("""{"a": 0.000001234567890123456}""").toDS()
    val w = InferSchema.inferWitness(ds)
    val t = HiveRender.toSparkType(w).asInstanceOf[org.apache.spark.sql.types.StructType]("a").dataType
    val d = t.asInstanceOf[org.apache.spark.sql.types.DecimalType]
    assert(d.scale <= d.precision && d.precision <= 38)
  }

  test("witness-derived Spark schema reads the data back") {
    val fixture = getClass.getResource("/users.json").getPath
    val df = SchemaGen.readJsonWithInferredSchema(spark, fixture)
    assert(df.count() == 3)
    assert(df.schema.fieldNames.take(3).toSeq == Seq("id", "name", "income"))
    assert(df.schema("id").dataType == org.apache.spark.sql.types.ByteType)
  }
}
