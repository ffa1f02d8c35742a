package graft.schemer

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * Distributed-error golden: the reference fails a conflicting file with a
 * line-numbered RowMismatch rendering both schemas
 * (`/root/reference/Schemer.scala:16-25`). The distributed engine reads the
 * file as many partitions, so the diagnostic carries partition + record
 * context instead of a global line number (documented deviation, SURVEY.md
 * §7.4) — these tests pin that contract END-TO-END through `inferPath` on
 * real multi-partition files: the error must escape the job, name the
 * failing location, and render both conflicting schemas like the README's
 * error transcript.
 */
class DistributedErrorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rootMessage(e: Throwable): String = {
    var c: Throwable = e
    while (c.getCause != null && !c.isInstanceOf[RowMismatch]) c = c.getCause
    c.getMessage
  }

  private def writeFile(dir: java.nio.file.Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes("UTF-8"))

  test("within-partition conflict names the partition and record") {
    val dir = graft.ScratchFiles.dir("graft_dist_err")
    // records 1-2 agree; record 3 flips names from array to object
    writeFile(dir, "part-0.json", Seq(
      """{"names": ["Rok", "Manca"]}""",
      """{"names": ["Ana"]}""",
      """{"names": {"first": "Rok"}}"""))
    val e = intercept[org.apache.spark.SparkException] {
      InferSchema.inferPath(spark, dir.toString)
    }
    val msg = rootMessage(e)
    assert(msg.contains("partition 0 record 3"), msg)
    // both schemas rendered, like the reference transcript (README.md:90-102)
    assert(msg.contains("attempted to merge a value with schema:"), msg)
    assert(msg.contains("STRUCT<"), msg)
    assert(msg.contains("ARRAY<"), msg)
  }

  test("row-level conflict prints the offending document, like the reference") {
    val dir = graft.ScratchFiles.dir("graft_dist_err_row")
    writeFile(dir, "part-0.json", Seq(
      """{"names": ["Rok", "Manca"]}""",
      """{"names": {"first": "Zala"}}"""))
    val e = intercept[org.apache.spark.SparkException] {
      InferSchema.inferPath(spark, dir.toString)
    }
    val msg = rootMessage(e)
    // the reference prints the pretty-printed offending row itself
    // (Schemer.scala:19, Json.prettyPrint) before the two schemas
    assert(msg.contains("failed to merge the row:"), msg)
    assert(msg.contains("Zala"), msg)
    assert(msg.contains("attempted to merge a value with schema:"), msg)
  }

  test("cross-partition conflict (each partition valid alone) surfaces at the reduce") {
    val dir = graft.ScratchFiles.dir("graft_dist_err2")
    // two files => two partitions; each is self-consistent, the CONFLICT
    // only exists across them, so only the witness reduce can see it
    writeFile(dir, "a.json", Seq("""{"x": [1, 2]}""", """{"x": [3]}"""))
    writeFile(dir, "b.json", Seq("""{"x": {"a": 1}}"""))
    val ds = spark.read.textFile(dir.toString)
    assert(ds.rdd.getNumPartitions >= 2, "test premise: multi-partition read")
    val e = intercept[Exception] { InferSchema.inferWitness(ds) }
    val msg = rootMessage(e)
    assert(msg.contains("reduce"), msg)
    assert(msg.contains("ARRAY<") && msg.contains("STRUCT<"), msg)
  }

  test("a clean multi-partition file infers the same witness as a single partition") {
    val dir = graft.ScratchFiles.dir("graft_dist_ok")
    writeFile(dir, "a.json", Seq("""{"id": 1, "name": "Rok"}""", """{"id": 1200, "city": {"name": "Lj"}}"""))
    writeFile(dir, "b.json", Seq("""{"id": -5, "name": "Manca-Lina"}""", """{"flag": true}"""))
    val multi = InferSchema.inferPath(spark, dir.toString)
    import spark.implicits._
    val single = InferSchema.inferWitness(
      spark.read.textFile(dir.toString).collect().toSeq.toDS().coalesce(1))
    assert(HiveRender.renderType(multi) == HiveRender.renderType(single))
    assert(HiveRender.renderType(multi).contains("STRUCT<"))
  }
}
