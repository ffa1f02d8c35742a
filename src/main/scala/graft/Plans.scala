package graft

import scala.util.control.NonFatal

/** Diagnostic main: prints the formatted physical plan of every SparkEntry
  * query (or the ones named in args) at sf0.001 — the review loop for
  * pushdown/broadcast/codegen health. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (q <- names; fn <- SparkEntry.queries.get(q)) {
      println(s"########## $q")
      try fn(spark, dir).explain("formatted")
      catch { case NonFatal(e) => System.err.println(s"(explain of $q failed: $e)") }
    }
    spark.stop()
  }
}
