package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The one owner of on-disk scratch: sink round-trips, the schema-driven
 *  NDJSON copy, streaming replay sources and sinks, and test directories.
 *  Nothing else chooses, creates or deletes a scratch path. Lifetimes:
 *
 *   - '''Root.''' Each JVM gets one root, a fresh `graft_scratch*`
 *     directory in `java.io.tmpdir`, made on first use. One exit hook
 *     deletes it with everything under it, so a run that never calls
 *     [[release]] still leaves nothing behind (a killed JVM runs no hook).
 *   - '''[[dir]].''' A fresh directory under the root, alive until the JVM
 *     exits.
 *   - '''[[output]].''' A write-once output under the root's `out`
 *     directory, memoized per (application, query name, corpus dir) in a
 *     [[CorpusCaches.memo]]. A write that throws leaves neither its
 *     partial output nor its memo entry. [[release]] deletes every output
 *     and clears the memo; the next call writes again.
 *
 *  Only I/O failures while deleting are ignored (a file already gone, a
 *  directory still being written, a permission); anything else — an
 *  interrupt, an out-of-memory error, a bug — propagates. */
object ScratchFiles {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  private def outputs: Path = root.resolve("out")

  private val written = CorpusCaches.memo[(String, String), String]()

  /** A fresh directory under the JVM's scratch root, named `prefix…`. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** The output of `name` over corpus `dir`: on the first call in this
   *  application `write` fills a fresh empty directory, whose path every
   *  call returns. */
  def output(spark: SparkSession, name: String, dir: String)(write: String => Unit): String =
    written(spark, (name, dir)) {
      val out = Files.createTempDirectory(Files.createDirectories(outputs), name)
      try write(out.toString)
      catch { case t: Throwable => deleteRecursively(out); throw t }
      out.toString
    }

  /** Delete every [[output]] and forget them all. */
  def release(): Unit = {
    written.clear()
    deleteRecursively(outputs)
  }

  /** Delete `p` and everything under it, deepest first; a missing `p` is
   *  not an error. */
  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val files = Files.walk(p)
        try files.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach { f =>
          try Files.deleteIfExists(f) catch { case _: IOException => () }
        } finally files.close()
      }
    } catch { case _: IOException | _: UncheckedIOException => () }
}
