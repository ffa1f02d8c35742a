package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** The one way graft's entry points and tests build a session.
 *
 *  Two environment variables size it: `SPARK_GRAFT_CPUS` (default
 *  min(32, cores)) is the master's thread count and `SPARK_GRAFT_SHUFFLE`
 *  (default: the thread count; local mode wants it there, not at 200) the
 *  shuffle partitions. Everything else is fixed here: the UTC pin, no UI,
 *  compressed persisted-RDD blocks (the per-corpus snapshots; shuffle and
 *  spill are compressed anyway) and a code-generation cache that holds a
 *  whole suite's classes. */
object LocalSpark {
  val defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  // Hadoop starts its statistics cleaner thread on the first file-system
  // use; started while a session is active, the thread would inherit that
  // session and keep its context reachable for the rest of the JVM
  FileSystem.getLocal(new Configuration())

  /** `master` overrides `local[cpus]` with a deployment address. */
  def session(cpus: Int = defaultCpus, shuffle: Option[Int] = None,
      master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        shuffle.getOrElse(sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cpus)(_.toInt)).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.rdd.compress", "true")
      // one pass of all 249 queries compiles ~2500 classes at sf0.01; at
      // Spark's default of 100 entries every query recompiles what an
      // earlier one already built
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stops `spark` and lets its context be collected: the next session's
   *  threads would otherwise inherit this thread's active session. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
