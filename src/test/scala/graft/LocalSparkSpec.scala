package graft

import org.scalatest.funsuite.AnyFunSuite

/** What [[LocalSpark]] fixes on every session it builds, read back from the
 *  shared test session. */
class LocalSparkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the factory pins UTC, sizes shuffles to the threads, compresses RDD blocks and sizes the codegen cache") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == spark.sparkContext.defaultParallelism.toString)
    assert(spark.sparkContext.getConf.getOption("spark.rdd.compress").contains("true"))
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
  }
}
