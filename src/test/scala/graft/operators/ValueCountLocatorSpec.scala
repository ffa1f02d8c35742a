package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Pins [[ScalableRank.valuesAtRanksFromCounts]] against the sequential
 *  definition: value at global rank r under ascending order. */
class ValueCountLocatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Locates `ranksOf(n)` in the value-count table of `df`'s column `v`. */
  private def locate(df: DataFrame, v: String, ranksOf: Long => Seq[Long]) =
    ScalableRank.valuesAtRanksFromCounts(
      df.groupBy(v).agg(count(lit(1)).as("__c")), v, "__c", ranksOf, "rk")

  test("locator equals the sequential sorted-list answer on a skewed distribution") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // skewed multiset: values 0..999 with zipf-ish counts; heavy ties: 5
    // distinct values over 2000 rows; a single distinct value
    val inputs = Seq(
      "skewed" -> (0 until 1000).flatMap(v => Seq.fill(1 + rnd.nextInt(1 + v % 37))(v.toLong)),
      "heavy ties" -> Seq.fill(2000)(rnd.nextInt(5) * 100L),
      "one value" -> Seq.fill(500)(42L))
    for ((name, values) <- inputs) {
      val sorted = values.sorted
      val n = sorted.length.toLong
      val ranks = Seq(1L, 2L, n / 4, n / 3, n / 2, 3L * n / 4, n - 1L, n)
      // an out-of-range rank is dropped, not located
      val (hit, total) = locate(values.toDF("v").repartition(7), "v", _ => ranks :+ (n + 7))
      assert(total == n, name)
      val got = hit.collect().map(r => r.getAs[Long]("rk") -> r.getAs[Long]("v")).toMap
      for (r <- ranks)
        assert(got(r) == sorted((r - 1).toInt),
          s"$name rank $r: got ${got.get(r)} want ${sorted((r - 1).toInt)}")
      assert(got.size == ranks.distinct.size, s"$name: exactly the in-range ranks")
    }
    // a string column ranks lexically: "10" < "100" < "7" < "85" < "9"
    val strs = Seq("9", "10", "85", "7", "100").toDF("v")
    val (h, t) = locate(strs, "v", _ => Seq(1L, 5L))
    assert(t == 5L)
    assert(h.collect().map(r => r.getAs[Long]("rk") -> r.getAs[String]("v")).toMap ==
      Map(1L -> "10", 5L -> "9"))
  }

  test("locator agrees on the sf0.001 lineitem cents distribution") {
    val dir = "/root/testdata/sf0.001"
    val cents = graft.Tables.lineitem(spark, dir).select(
      expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as decimal(38,0))")
        .cast("long").as("cents"))
    val exact = cents.orderBy("cents").collect().map(_.getLong(0))
    val n = exact.length.toLong
    val ranks = Seq((49L * n + 99) / 100, (51L * n + 99) / 100,
      (989L * n + 999) / 1000, (991L * n + 999) / 1000)
    val (hit, total) = locate(cents, "cents", _ => ranks)
    assert(total == n)
    val got = hit.collect().map(r => r.getAs[Long]("rk") -> r.getAs[Long]("cents")).toMap
    for (r <- ranks)
      assert(got(r) == exact((r - 1).toInt), s"rank $r: got ${got.get(r)} want ${exact((r - 1).toInt)}")
  }
}
