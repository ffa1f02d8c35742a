package graft

import graft.schemer.{HiveRender, InferSchema}
import org.apache.spark.sql.graft.FileLines

/** Layer throughput of schema inference over an NDJSON path, e.g. an
 *  `InferCorpusGen` corpus:
 *
 *    SPARK_GRAFT_CPUS=4 sbt "runMain graft.InferBench data/infer_corpus"
 *
 *  For `local[1]` and then `local[$SPARK_GRAFT_CPUS]` (see [[LocalSpark]])
 *  it prints one JSON line with two rates in MB of input per second: the
 *  scan alone (counting the rows of the line scan `inferPath` folds) and
 *  `inferPath` itself, the scan plus the witness fold. Their difference is
 *  the fold's share. `call_ms` is the driver's fixed cost per call before
 *  any job: the median of 21 constructions of the scan's RDD
 *  (`FileLines(spark, path)`: listing, splitting, the Hadoop conf).
 *  Each rate is the median of five runs after two warm-ups; the inferred
 *  definition is printed once at the end. */
object InferBench {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val reps = 5
    val mb = inputBytes(path) / 1e6
    var definition = ""
    for (threads <- Seq(1, LocalSpark.defaultCpus).distinct) {
      val spark = LocalSpark.session(cpus = threads)
      def rate(body: => Unit): Double = {
        (1 to 2).foreach(_ => body)
        val secs = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }.sorted
        mb / secs(reps / 2)
      }
      var rows = 0L
      val scan = rate { rows = FileLines(spark, path).count() }
      val fold = rate { definition = HiveRender.definition(InferSchema.inferPath(spark, path)) }
      val calls = (1 to 21).map { _ =>
        val t0 = System.nanoTime()
        FileLines(spark, path)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val callMs = calls(calls.size / 2)
      println(f"""{"master":"local[$threads]","rows":$rows,"input_mb":$mb%.1f,""" +
        f""""scan_mb_s":$scan%.1f,"scan_fold_mb_s":$fold%.1f,"call_ms":$callMs%.2f}""")
      LocalSpark.stop(spark)
    }
    println(definition)
  }

  private def inputBytes(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).getContentSummary(p).getLength
  }
}
