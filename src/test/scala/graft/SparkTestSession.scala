package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (sbt forks one test JVM):
 *  four threads and four shuffle partitions on any host, whatever the
 *  environment asks of the entry points. */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSpark.session(cpus = 4, shuffle = Some(4))
}
