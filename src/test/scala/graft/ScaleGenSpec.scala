package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sf1 scale proof is only as good as the generator behind it: these
 *  invariants pin that ScaleGen's replication is FK-consistent and that
 *  its perturbations keep copies honestly distinct (no artificial
 *  near-dups, no shared keys). */
class ScaleGenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val src = "/root/testdata/sf0.001"
  private lazy val out: String = {
    val dir = graft.ScratchFiles.dir("graft_scalegen_spec")
    ScaleGen.generate(spark, src, dir.toString, copies = 3)
    dir.toString
  }
  private def t(name: String) = spark.read.parquet(s"$out/$name.parquet")
  private def s(name: String) = spark.read.parquet(s"$src/$name.parquet")

  test("every table scales by the copy count; dims stay fixed") {
    for (n <- Seq("customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"))
      assert(t(n).count() == 3 * s(n).count(), n)
    for (n <- Seq("region", "nation"))
      assert(t(n).count() == s(n).count(), n)
  }

  test("shifted keys stay unique and FKs stay closed") {
    assert(t("orders").select("o_orderkey").distinct().count() == t("orders").count())
    assert(t("documents").select("doc_id").distinct().count() == t("documents").count())
    // lineitem -> orders, orders -> customer: zero orphans
    val li = t("lineitem"); val ord = t("orders"); val cust = t("customer")
    assert(li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti").count() == 0)
    assert(ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti").count() == 0)
  }

  test("document copies share no word shingles with the original") {
    import graft.functions.TextFunctions._
    val n = s("documents").count()
    val sh = t("documents")
      .select(col("doc_id"),
        explode(array_distinct(wordShingleHashes(col("text"), 3))).as("sh"))
    val orig = sh.filter(col("doc_id") < n).select("sh").distinct()
    val copy1 = sh.filter(col("doc_id") >= n && col("doc_id") < 2 * n)
      .select("sh").distinct()
    assert(orig.join(copy1, "sh").count() == 0,
      "perturbed copies must not manufacture near-dup pairs")
  }

  test("embedding copies are distinct vectors, copy 0 is the identity") {
    val n = s("embeddings").count()
    val joined = t("embeddings").filter(col("vec_id") < n).as("a")
      .join(t("embeddings").filter(col("vec_id") >= n && col("vec_id") < 2 * n).as("b"),
        col("a.vec_id") === col("b.vec_id") - n)
    assert(joined.filter(col("a.embedding") === col("b.embedding")).count() == 0)
    val identity = t("embeddings").filter(col("vec_id") < n)
      .select("vec_id", "embedding")
      .except(s("embeddings").select("vec_id", "embedding"))
    assert(identity.count() == 0, "copy 0 must be byte-identical to the source")
  }

  test("sparse key spaces are rejected loudly, never silently collided") {
    import spark.implicits._
    // span 11 values over 3 rows: shifting by 3 per copy would collide
    val e = intercept[IllegalArgumentException] {
      ScaleGen.assertDenseKey(Seq(0L, 1L, 10L).toDF("k"), "k", 3L, "sparse")
    }
    assert(e.getMessage.contains("collide"))
    // dense 1-based (real TPC-H PK shape) and dense 0-based both pass
    ScaleGen.assertDenseKey(Seq(1L, 2L, 3L).toDF("k"), "k", 3L, "dense1")
    ScaleGen.assertDenseKey(Seq(0L, 1L, 2L).toDF("k"), "k", 3L, "dense0")
    // an empty table is trivially safe
    ScaleGen.assertDenseKey(Seq.empty[Long].toDF("k"), "k", 3L, "empty")
  }
}
