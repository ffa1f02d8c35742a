package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ScalableRank must equal the single-partition window forms exactly —
 *  including the SQL-standard ntile remainder distribution — while never
 *  using a no-partitionBy window itself. */
class ScalableRankSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sample(n: Int) = {
    // duplicate-heavy values force tiebreak correctness across partitions
    (1 to n).map(i => (i.toLong, (i * 7919 % 97).toDouble)).toDF("id", "v")
      .repartition(7)
  }

  test("global row number equals the window row_number for a total order") {
    val df = sample(1000)
    val (ranked, total) = ScalableRank.withGlobalRowNumber(df, Seq(col("v"), col("id")), "rn")
    assert(total == 1000L)
    val expected = df.withColumn("rn2",
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("bigint"))
    val joined = ranked.join(expected, Seq("id", "v"))
    assert(joined.filter(col("rn") =!= col("rn2")).count() == 0)
  }

  test("grouped prefix sum is exact when a group spans multiple range slices") {
    // r6 regression: the carry-in branch only executes when a group straddles
    // ≥2 range partitions — 2 string-keyed groups × 2000 rows over the
    // test session's 4 slices guarantees it (and the STRING key reproduces
    // the using-join column-order ClassCastException the r6 driver bench
    // hit at sf0.1)
    val df = (1 to 4000).map { i =>
      (if (i % 2 == 0) "web" else "api", i.toLong, (i % 13).toLong)
    }.toDF("source", "seq", "amount").repartition(11)
    val got = ScalableRank.withGroupedPrefixSum(df, Seq("source"), Seq("seq"), "amount", "prior")
    val nSlices = got.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    assert(nSlices > 1, "test needs >1 range slice to exercise the carry branch")
    val want = df.withColumn("prior2",
      (sum(col("amount")).over(
        Window.partitionBy("source").orderBy("seq")) - col("amount")).cast("bigint"))
    val joined = got.join(want, Seq("source", "seq", "amount"))
    assert(joined.count() == 4000)
    assert(joined.filter(col("prior") =!= col("prior2")).count() == 0)
  }

  test("grouped prefix sum carries NEGATIVE totals across slice boundaries") {
    // r7 regression: the carry filter dropped carries ≤ 0, so a sweep-line
    // boundary stream (±1 deltas) whose running sum dips negative at a
    // slice boundary read a 0 carry-in. ±1 alternating with more −1s early
    // keeps many prefixes negative across the 4 range slices.
    val df = (1 to 4000).map { i =>
      ("sweep", i.toLong, if (i % 3 == 0) 1L else -1L)
    }.toDF("source", "seq", "delta").repartition(11)
    val got = ScalableRank.withGroupedPrefixSum(df, Seq("source"), Seq("seq"), "delta", "prior")
    val want = df.withColumn("prior2",
      (sum(col("delta")).over(
        Window.partitionBy("source").orderBy("seq")) - col("delta")).cast("bigint"))
    val joined = got.join(want, Seq("source", "seq", "delta"))
    assert(joined.count() == 4000)
    assert(joined.filter(col("prior") =!= col("prior2")).count() == 0)
    assert(got.filter(col("prior") < 0).count() > 0, "test data must produce negative prefixes")
  }

  test("grouped prefix max equals the exclusive window max, nulls on group-first rows") {
    // values oscillate so the running max changes throughout; two groups,
    // each spanning several of the 4 range slices, exercise the carry path;
    // negative values pin the Long.MinValue identity handling
    val df = (1 to 4000).map { i =>
      (if (i % 2 == 0) "a" else "b", i.toLong, ((i * 7919) % 997).toLong - 500L)
    }.toDF("grp", "seq", "v").repartition(11)
    val got = ScalableRank.withGroupedPrefixMax(df, Seq("grp"), Seq("seq"), "v", "pmax")
    val want = df.withColumn("pmax2",
      max(col("v")).over(Window.partitionBy("grp").orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)).cast("bigint"))
    val joined = got.join(want, Seq("grp", "seq", "v"))
    assert(joined.count() == 4000)
    assert(joined.filter(not(col("pmax") <=> col("pmax2"))).count() == 0)
    assert(got.filter(col("pmax").isNull).count() == 2, "exactly one null per group")
  }

  test("fuzz: grouped prefix sum/max equal the window forms on random shapes") {
    // randomized group counts / sizes / signed values with fixed seeds —
    // the deterministic-seed ScalaCheck discipline of LatticeLawsSpec,
    // hunting slice-boundary shapes the fixed fixtures don't draw
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val nGroups = 1 + rnd.nextInt(6)
      val rows = (1 to 500 + rnd.nextInt(3000)).map { i =>
        (s"g${rnd.nextInt(nGroups)}", i.toLong, (rnd.nextInt(2001) - 1000).toLong)
      }
      val df = rows.toDF("g", "id", "v").repartition(5 + rnd.nextInt(9))
      val w = Window.partitionBy("g").orderBy("id")
      val expSum = df.withColumn("e",
        coalesce(sum("v").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val gotSum = ScalableRank.withGroupedPrefixSum(df, Seq("g"), Seq("id"), "v", "p")
      assert(gotSum.join(expSum, Seq("g", "id", "v"))
        .filter(col("p") =!= col("e")).count() == 0, s"prefix-sum trial $trial")
      val expMax = df.withColumn("e",
        max("v").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      val gotMax = ScalableRank.withGroupedPrefixMax(df, Seq("g"), Seq("id"), "v", "p")
      assert(gotMax.join(expMax, Seq("g", "id", "v"))
        .filter(not(col("p") <=> col("e"))).count() == 0, s"prefix-max trial $trial")
    }
  }

  test("ntile matches the window ntile, including non-divisible remainders") {
    for (n <- Seq(1000, 1003, 150, 5)) { // 1003 % 4 = 3, 150 % 4 = 2, 5 % 4 = 1
      val df = sample(n)
      val got = ScalableRank.withNtile(df, Seq(col("v"), col("id")), 4, "q")
      val want = df.withColumn("q2",
        ntile(4).over(Window.orderBy(col("v"), col("id"))).cast("bigint"))
      val joined = got.join(want, Seq("id", "v"))
      assert(joined.filter(col("q") =!= col("q2")).count() == 0, s"ntile diverged at n=$n")
    }
  }
}
