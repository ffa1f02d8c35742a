package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Scratch lives no longer than its JVM: a run that writes sink outputs,
 *  the bucketed tables, the schema-driven NDJSON copy and a stream replay
 *  directory, and never calls [[graft.sources.Sinks.cleanup]] or
 *  [[CorpusCaches.releaseAll]], leaves no `graft_*` entry in its
 *  `java.io.tmpdir`. */
class ScratchLifetimeSpec extends AnyFunSuite {

  test("a JVM that never cleans up leaves no graft_* entry in its tmpdir") {
    // in a JVM of its own, with a tmpdir nothing else writes to
    val tmp = ScratchFiles.dir("lifetime")
    val jvmTmp = Files.createDirectories(tmp.resolve("jvm"))
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val log = tmp.resolve("child.log")
    val child = new ProcessBuilder((Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g",
      s"-Djava.io.tmpdir=$jvmTmp") ++ jvm ++ Seq("-cp", System.getProperty("java.class.path"),
      ScratchLifetimeProbe.getClass.getName.stripSuffix("$"), "/root/testdata/sf0.001")): _*)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    val finished = child.waitFor(5, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) child.destroyForcibly()
    val out = new String(Files.readAllBytes(log), UTF_8)
    assert(finished && child.exitValue == 0, out)
    for (q <- ScratchLifetimeProbe.Queries)
      assert(out.linesIterator.exists(_.startsWith(s"$q: ")), out)
    val left = Files.list(jvmTmp).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_")).toVector
    assert(left.isEmpty, s"left behind in the child's tmpdir: ${left.mkString(", ")}")
  }
}

/** Runs [[Queries]] over the corpus dir in `args(0)`, then stops its
 *  session and exits without releasing any scratch. */
object ScratchLifetimeProbe {
  /** A sink round trip, the bucketed tables, the schema-driven NDJSON copy
   *  and a stream whose sink lives in a scratch directory. */
  val Queries = Seq("sink_csv_roundtrip", "sink_bucketed_join", "schema_driven_read",
    "stream_foreach_upsert")

  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session(cpus = 1)
    for (q <- Queries) println(s"$q: ${SparkEntry.queries(q)(spark, args(0)).count()} rows")
    LocalSpark.stop(spark)
  }
}
