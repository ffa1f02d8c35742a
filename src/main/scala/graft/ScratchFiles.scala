package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Removal of scratch output: sink round-trips, schema-driven NDJSON copies
 *  and streaming replay directories. Only I/O failures are ignored (a file
 *  already gone, a directory still being written, a permission); anything
 *  else — an interrupt, an out-of-memory error, a bug — propagates. */
object ScratchFiles {

  /** Delete `p` and everything under it, deepest first; a missing `p` is
   *  not an error. */
  def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val files = Files.walk(p)
        try files.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach { f =>
          try Files.deleteIfExists(f) catch { case _: IOException => () }
        } finally files.close()
      }
    } catch { case _: IOException | _: UncheckedIOException => () }

  /** [[deleteRecursively]] `p` when the JVM exits. */
  def deleteOnExit(p: Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p)))
}
