package org.apache.spark.sql.graft

import graft.SparkTestSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path => JPath}

/** [[SplitLines]] against Hadoop's `LineRecordReader` (through Spark's
 *  `HadoopFileLinesReader`, the reader `spark.read.textFile` runs): every
 *  split `[s, e)` of small files with every kind of line end yields the same
 *  lines, byte for byte, at buffer capacities small enough that the reads
 *  cut every line and every CRLF. */
class SplitLinesSpec extends AnyFunSuite {
  private val Bom = "\u00ef\u00bb\u00bf"

  /** Fixtures as ISO-8859-1 strings, so each char is one byte. */
  private val Fixtures = Seq(
    "lf" -> "{\"a\":1}\n\n{\"bb\":22}\nc\n",
    "cr" -> "{\"a\":1}\r\r{\"bb\":22}\rc\r",
    "crlf" -> "{\"a\":1}\r\n\r\n{\"bb\":22}\r\nc\r\n",
    "mixed" -> "a\r\nb\rc\n\r\n\n\rd\r\r\ne",
    "bom" -> s"$Bom{\"a\":1}\r\n${Bom}b\n",
    "bom, no line end" -> s"${Bom}x",
    "bom only" -> Bom,
    "bom, then a line end" -> s"$Bom\r\nx",
    "no final line end" -> "ab\ncd",
    "only line ends" -> "\r\n\r\r\n\n\n\r",
    "one byte" -> "x",
    "one line end" -> "\n",
    "empty" -> "")

  private val Capacities = Seq(1, 2, 3, 5, 8, 9, 16, 1 << 16)

  private def write(bytes: Array[Byte]): JPath = {
    val f = _root_.graft.ScratchFiles.dir("graft_split_lines").resolve("f.txt")
    Files.write(f, bytes)
    f
  }

  private lazy val conf = new Configuration()

  private def hadoop(file: JPath, start: Long, end: Long): Vector[String] = {
    val split = PartitionedFile(InternalRow.empty, SparkPath.fromPath(new Path(file.toUri)), start, end - start)
    val reader = new HadoopFileLinesReader(split, conf)
    try reader.map(t => new String(t.getBytes, 0, t.getLength, ISO_8859_1)).toVector finally reader.close()
  }

  private def ours(bytes: Array[Byte], start: Int, end: Int, capacity: Int): Vector[String] = {
    val lines = new SplitLines(new ByteArrayInputStream(bytes, start, bytes.length - start), start, end, capacity)
    try lines.map { r =>
      val s = r.getUTF8String(0)
      new String(s.getBytes, ISO_8859_1)
    }.toVector finally lines.close()
  }

  test("every split of every fixture, at every buffer capacity, yields Hadoop's lines") {
    for ((name, text) <- Fixtures) {
      val bytes = text.getBytes(ISO_8859_1)
      val file = write(bytes)
      for (s <- 0 until bytes.length; e <- s + 1 to bytes.length) {
        val expected = hadoop(file, s, e)
        for (c <- Capacities)
          assert(ours(bytes, s, e, c) == expected, s"$name: split [$s, $e) at capacity $c")
      }
      // the splits of one cut cover the file's lines once each
      for (k <- 1 to bytes.length) {
        val cut = (0 until bytes.length by k).flatMap(s => ours(bytes, s, math.min(s + k, bytes.length), 3))
        assert(cut == ours(bytes, 0, bytes.length, 3), s"$name: splits of $k bytes")
      }
    }
  }

  test("the BOM is dropped only from the first line of a split at offset 0") {
    val bytes = s"${Bom}a\n${Bom}b\n".getBytes(ISO_8859_1)
    assert(ours(bytes, 0, bytes.length, 4) == Vector("a", s"${Bom}b"))
    assert(ours(bytes, 1, bytes.length, 4) == Vector(s"${Bom}b"))
  }

  test("a line longer than the buffer, and a CRLF across two reads, through FileLines") {
    // a CR at the last byte of the first full buffer and its LF at the
    // first byte of the next; then a line longer than the buffer
    val b = FileLines.BufferSize
    val text = "y" * (b - 1) + "\r\n" + "z" * (b + 5000) + "\r\n\r" + "{\"a\":1}"
    val bytes = text.getBytes(UTF_8)
    val expected = Vector("y" * (b - 1), "z" * (b + 5000), "", "{\"a\":1}")
    assert(ours(bytes, 0, bytes.length, b) == expected)
    assert(hadoop(write(bytes), 0, bytes.length) == expected)

    val spark = SparkTestSession.spark
    val path = write(bytes).toString
    def lines(rows: org.apache.spark.rdd.RDD[InternalRow]) =
      rows.mapPartitions(_.map(_.getUTF8String(0).toString)).collect().toVector
    for (max <- Seq(bytes.length, b + 1, 4096)) {
      spark.conf.set("spark.sql.files.maxPartitionBytes", max.toLong)
      spark.conf.set("spark.sql.files.minPartitionNum", 1L)
      try {
        val rows = lines(FileLines(spark, path))
        assert(rows == expected, s"maxPartitionBytes $max")
        assert(rows == spark.read.textFile(path).collect().toVector)
      } finally {
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.minPartitionNum")
      }
    }
  }

  test("lineEnd finds the first CR or LF at every position and word offset") {
    for (len <- 0 to 20; at <- 0 to len; from <- 0 to math.min(at, 9); eol <- Seq('\n', '\r')) {
      val buf = Array.tabulate[Byte](len)(i => if (i == at) eol.toByte else ('a' + i % 26).toByte)
      // bytes next to CR and LF in value: tab, VT, FF, SO
      if (len > 0 && at > from) buf(from) = Seq(9, 11, 12, 14)(at % 4).toByte
      assert(SplitLines.lineEnd(buf, from, len) == at, s"len $len at $at from $from")
    }
  }
}
