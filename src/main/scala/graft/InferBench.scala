package graft

import graft.schemer.{HiveRender, InferSchema}
import org.apache.spark.sql.SparkSession

/** Layer throughput of schema inference over an NDJSON path, e.g. an
 *  `InferCorpusGen` corpus:
 *
 *    SPARK_GRAFT_CPUS=4 sbt "runMain graft.InferBench data/infer_corpus"
 *
 *  For `local[1]` and then `local[$SPARK_GRAFT_CPUS]` (default: all cores)
 *  it prints one JSON line with two rates in MB of input per second: the
 *  scan alone (counting the rows of the same line scan the fold reads) and
 *  the scan plus the witness fold. Their difference is the fold's share.
 *  Each figure is the median of five runs after two warm-ups; the inferred
 *  definition is printed once at the end. */
object InferBench {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val reps = 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString).toInt
    val mb = inputBytes(path) / 1e6
    var definition = ""
    for (threads <- Seq(1, cpus).distinct) {
      val spark = SparkSession.builder().master(s"local[$threads]")
        .config("spark.sql.shuffle.partitions", threads.toString)
        .config("spark.sql.files.maxPartitionBytes", sys.env.getOrElse("INFER_SPLIT", "134217728"))
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      def docs = spark.read.textFile(path)
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
      val scan = rate { rows = InferSchema.lines(docs).count() }
      val fold = rate { definition = HiveRender.definition(InferSchema.inferWitness(docs)) }
      println(f"""{"master":"local[$threads]","rows":$rows,"input_mb":$mb%.1f,""" +
        f""""scan_mb_s":$scan%.1f,"scan_fold_mb_s":$fold%.1f}""")
      spark.stop()
    }
    println(definition)
  }

  private def inputBytes(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).getContentSummary(p).getLength
  }
}
