package perfbench

import java.io.File

/** File-tree helpers for the benchmark's scratch root. */
object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** Bytes of every regular file under `f`. */
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).fold(0L)(_.iterator.map(size).sum) else f.length

  /** Give a Spark output directory's part files fixed names (part-00000.ext, …,
   *  in Spark's partition order) and drop its marker and checksum files, so
   *  the same rows always yield the same tree, byte for byte. */
  def renameParts(dir: File, ext: String): Unit = {
    val files = Option(dir.listFiles).getOrElse(Array.empty[File])
    files.filter(f => f.getName.startsWith(".") || f.getName.startsWith("_")).foreach(_.delete())
    files.filter(_.getName.startsWith("part-")).sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
      f.renameTo(new File(dir, f"part-$i%05d.$ext"))
    }
  }
}
