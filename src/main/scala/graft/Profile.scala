package graft

/** Diagnostic main: times one named query N times (default 3) at the given
  * sf dir — isolates per-query cost from suite noise when optimizing. */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("dedup_minhash_lsh")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // at 10×+ the driver SF, partitions sized for sf0.1 overfill — let a
    // profiling run scale them (SPARK_GRAFT_SHUFFLE) the way a cluster
    // deployment would
    val spark = LocalSpark.session()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[profile] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
