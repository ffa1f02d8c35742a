package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.lib.input.LineRecordReader
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{DataSource, FilePartition, FileScanRDD,
  HadoopFileLinesReader, HadoopFsRelation, PartitionedFile}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.io.{Closeable, IOException, InputStream}
import java.lang.ref.WeakReference

/**
 * The lines of a text path as an RDD of one-field rows, read without a
 * Dataset plan: no analysis, optimisation, physical planning or scan
 * codegen per call, and no copy of a line after the read.
 *
 * Every step up to the read is the one `spark.read.textFile(path)` runs,
 * taken from the same Spark code, so the RDD has the same partitions, the
 * same files in the same order inside each partition and the same lines:
 *  - `DataSource.resolveRelation` globs, skips names starting with `_` or
 *    `.` (`_SUCCESS`, checksum files), lists, infers `k=v` partition
 *    directories and raises the missing-path error;
 *  - the relation's files are split and packed as `FileSourceScanExec`
 *    does: `isSplitable` per file (a `.gz` file is one split), splits
 *    sorted by length descending, `FilePartition.getFilePartitions` with
 *    `FilePartition.maxSplitBytes` (`maxPartitionBytes`, `openCostInBytes`);
 *  - Spark's `FileScanRDD` runs the read (`ignoreMissingFiles`,
 *    `ignoreCorruptFiles`, input metrics from the file system's thread
 *    statistics).
 *
 * An uncompressed split is framed by [[SplitLines]], which finds line ends
 * eight bytes at a time in one reused buffer and yields the lines Hadoop's
 * `LineRecordReader` yields for the split (CR, LF and CRLF line ends, the
 * UTF-8 BOM, the line that crosses a split boundary belongs to the split
 * it starts in). A file with a compression codec, and every file while
 * `mapreduce.input.linerecordreader.line.maxlength` is set (Hadoop's rule
 * for skipping long lines follows its own buffer arithmetic), is read by
 * `HadoopFileLinesReader`, as `TextFileFormat` reads it.
 *
 * Each row's string wraps the reader's buffer, so a row is valid only until
 * the iterator advances: a consumer must use each row before taking the
 * next, and copy what it keeps. Partition values of `k=v` directories are
 * not part of the row.
 */
object FileLines {
  def apply(session: SparkSession, path: String): RDD[InternalRow] = {
    val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val relation = DataSource(spark, paths = Seq(path), className = "text")
      .resolveRelation().asInstanceOf[HadoopFsRelation]
    val dirs = relation.location.listFiles(Nil, Nil)
    val maxSplitBytes = FilePartition.maxSplitBytes(spark, dirs)
    val splits = dirs.flatMap { dir =>
      dir.files.flatMap { file =>
        val filePath = file.getPath
        PartitionedFileUtil.splitFiles(file, filePath,
          relation.fileFormat.isSplitable(spark, relation.options, filePath), maxSplitBytes, dir.values)
      }
    }.sortBy(_.length)(Ordering[Long].reverse)
    val conf = broadcastConf(spark.sparkContext, spark.sessionState.newHadoopConfWithOptions(relation.options))
    new FileScanRDD(spark, new ReadLines(conf), FilePartition.getFilePartitions(spark, splits, maxSplitBytes),
      relation.dataSchema, Nil, Map.empty, new FileSourceOptions(CaseInsensitiveMap(relation.options)))
  }

  /** The last conf broadcast, with the context it belongs to and the
   *  properties of the conf it was built from. One slot: a caller that
   *  alternates confs rebuilds, but nothing accumulates. The context is
   *  held weakly, so the slot never keeps a stopped context alive. */
  private final class Slot(val sc: WeakReference[SparkContext], val props: java.util.Map[String, String],
      val conf: Broadcast[SerializableConfiguration])
  @volatile private var slot: Slot = _

  /** A broadcast of `hadoopConf`, reused while the context is live and the
   *  conf's properties are unchanged. Every SQL conf of the session is
   *  copied into `hadoopConf`, so any `spark.conf.set` makes a new one. */
  private def broadcastConf(sc: SparkContext, hadoopConf: Configuration): Broadcast[SerializableConfiguration] = {
    val props = new java.util.HashMap[String, String]
    hadoopConf.iterator().forEachRemaining(e => props.put(e.getKey, e.getValue))
    val last = slot
    if (last != null && (last.sc.get eq sc) && !sc.isStopped && last.props == props) last.conf
    else {
      val conf = SerializableConfiguration.broadcast(sc, hadoopConf)
      slot = new Slot(new WeakReference(sc), props, conf)
      conf
    }
  }

  /** The read of one split. A task deserializes its own copy, so the codec
   *  lookup is built once per task, not once per file. */
  private final class ReadLines(conf: Broadcast[SerializableConfiguration])
      extends (PartitionedFile => Iterator[InternalRow]) with Serializable {
    @transient private lazy val hadoopConf = conf.value.value
    @transient private lazy val codecs = new CompressionCodecFactory(hadoopConf)
    @transient private lazy val lineLimit = hadoopConf.get(LineRecordReader.MAX_LINE_LENGTH) != null

    override def apply(file: PartitionedFile): Iterator[InternalRow] =
      if (lineLimit || codecs.getCodec(file.toPath) != null) viaHadoop(file) else split(file)

    private def split(file: PartitionedFile): Iterator[InternalRow] = {
      val path = file.toPath
      val in = path.getFileSystem(hadoopConf).open(path)
      val lines = try {
        in.seek(file.start)
        new SplitLines(in, file.start, file.start + file.length,
          math.min(BufferSize.toLong, math.max(MinBufferSize.toLong, file.length)).toInt)
      } catch { case e: Throwable => in.close(); throw e }
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      lines
    }

    private def viaHadoop(file: PartitionedFile): Iterator[InternalRow] = {
      val reader = new HadoopFileLinesReader(file, hadoopConf)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
      val row = new GenericInternalRow(1)
      reader.map { line =>
        row.update(0, UTF8String.fromBytes(line.getBytes, 0, line.getLength))
        row
      }
    }
  }

  /** The largest buffer [[SplitLines]] starts with; it grows past this only
   *  for a line that does not fit. Under G1 an array of half a heap region
   *  or more (512 KB at the smallest region size) is a humongous object,
   *  and each one's allocation may start a collection; 256 KB stays below. */
  private[graft] val BufferSize: Int = 1 << 18

  /** The smallest: Hadoop's `LineReader` reads 64 KB at a time. */
  private val MinBufferSize = 64 << 10
}

/**
 * The lines of the split `[start, end)` of an uncompressed file, as Hadoop
 * 3.4's `LineRecordReader` over an `UncompressedSplitLineReader` yields
 * them, read from `in`, a stream positioned at `start`:
 *  - LF, CR and CRLF each end a line; a CRLF is one line end also when it
 *    straddles two reads. A last line without a line end is a line; no
 *    empty line follows a final line end.
 *  - When `start` is not 0, everything up to and including the first line
 *    end at or after `start` is skipped: the line it ends belongs to the
 *    split before. Then every line whose first byte lies at an offset
 *    ≤ `end` is yielded; a line that starts exactly at `end` belongs to
 *    this split, and the next split skips it.
 *  - In a split starting at 0, a UTF-8 BOM at the start of the first line
 *    is dropped; a file that is only a BOM has no line.
 *
 * Bytes are read into one buffer of `capacity` bytes, reused for the whole
 * split; it grows only when one line does not fit. Each row's string wraps
 * the buffer, so a row is valid only until the iterator advances.
 */
private[graft] final class SplitLines(in: InputStream, start: Long, end: Long, capacity: Int)
    extends Iterator[InternalRow] with Closeable {
  import SplitLines._

  private var buf = new Array[Byte](math.max(capacity, 1))
  private var base = start // the file offset of buf(0)
  private var lo = 0 // the first byte not yet framed
  private var hi = 0 // the end of the bytes read
  private var eof = false
  private var afterCR = false // a line ended with a CR at `hi`: skip an LF that follows
  private var first = start == 0 // the next line is the first of the file
  private var framed = false
  private var done = false // the split is at its end, or closed

  // the line `frame` found: buf[lineStart, lineStart + lineLen), and whether a line end closed it
  private var lineStart = 0
  private var lineLen = 0
  private var terminated = false

  private val row = new GenericInternalRow(1)

  if (start != 0 && !frame()) close()

  override def hasNext: Boolean = {
    if (!framed && !done) {
      framed = nextLine()
      if (!framed) close()
    }
    framed
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException("end of split")
    framed = false
    row
  }

  /** Ends the split: closes the stream and lets the buffer go (a task's
   *  completion listener holds this reader until the task ends). */
  override def close(): Unit = if (!done) {
    done = true
    buf = null
    in.close()
  }

  /** Puts the split's next line in `row`; false after its last. */
  private def nextLine(): Boolean = {
    if (afterCR) {
      afterCR = false
      if (lo == hi) fill()
      if (lo < hi && buf(lo) == '\n') lo += 1
    }
    if (base + lo > end || !frame()) return false
    var at = lineStart
    var len = lineLen
    if (first) {
      first = false
      if (len >= 3 && buf(at) == Bom0 && buf(at + 1) == Bom1 && buf(at + 2) == Bom2) {
        at += 3
        len -= 3
        if (len == 0 && !terminated) return false
      }
    }
    row.update(0, UTF8String.fromBytes(buf, at, len))
    true
  }

  /** Finds the line that starts at `lo` and moves `lo` past its line end;
   *  false when no byte is left. */
  private def frame(): Boolean = {
    var eol = lineEnd(buf, lo, hi)
    while (eol == hi) {
      val scanned = hi - lo // no line end among them
      if (!fill()) {
        if (lo == hi) return false
        lineStart = lo
        lineLen = hi - lo
        terminated = false
        lo = hi
        return true
      }
      eol = lineEnd(buf, lo + scanned, hi)
    }
    lineStart = lo
    lineLen = eol - lo
    terminated = true
    lo = eol + 1
    if (buf(eol) == '\r') {
      if (lo == hi) afterCR = true
      else if (buf(lo) == '\n') lo += 1
    }
    true
  }

  /** Reads more bytes after `hi`. A full buffer first moves its bytes from
   *  `lo` on to the front, or doubles when `lo` is already there: the line
   *  being framed does not fit. False at the end of the file. */
  private def fill(): Boolean = {
    if (eof) return false
    if (hi == buf.length) {
      if (lo > 0) {
        System.arraycopy(buf, lo, buf, 0, hi - lo)
        base += lo
        hi -= lo
        lo = 0
      } else {
        if (buf.length >= MaxLength) throw new IOException(s"a line at offset $base is longer than $MaxLength bytes")
        buf = java.util.Arrays.copyOf(buf, math.min(MaxLength.toLong, 2L * buf.length).toInt)
      }
    }
    var n = 0
    while (n == 0) n = in.read(buf, hi, buf.length - hi)
    if (n < 0) eof = true else hi += n
    n > 0
  }
}

private[graft] object SplitLines {
  private val Bom0 = 0xef.toByte
  private val Bom1 = 0xbb.toByte
  private val Bom2 = 0xbf.toByte

  /** The longest array the JVM allocates. */
  private val MaxLength = Int.MaxValue - 8

  // Line ends are found eight bytes at a time, as WitnessScan finds its
  // stops: a word is the 8 bytes at an index, read with `Platform.getLong`
  // (byte i of the word is buf(index + i) on a little-endian machine; on
  // any other the byte loop is the only path). The flag words set the high
  // bit of each flagged byte and may set spurious flags above one (a
  // borrow moves upward only), so only the lowest flag is exact, and it is
  // the one used. A word is first tested for any byte below 0x0E, the
  // smallest bound that holds both CR and LF (JSON text has no other such
  // byte but a raw tab), and only then for CR and LF themselves.
  private val Words = java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN
  private val Ones = 0x0101010101010101L
  private val Highs = 0x8080808080808080L
  private val LFs = Ones * '\n'
  private val CRs = Ones * '\r'
  private val Below = Ones * 0x0e

  /** Flags the bytes of `x` that are zero. */
  private def zeros(x: Long): Long = (x - Ones) & ~x & Highs

  /** The index of the first LF or CR in `buf[from, to)`, or `to`. */
  private[graft] def lineEnd(buf: Array[Byte], from: Int, to: Int): Int = {
    var i = from
    if (Words) {
      while (i + 8 <= to) {
        val x = Platform.getLong(buf, Platform.BYTE_ARRAY_OFFSET + i)
        if (((x - Below) & ~x & Highs) != 0) {
          val flags = zeros(x ^ LFs) | zeros(x ^ CRs)
          if (flags != 0) return i + (java.lang.Long.numberOfTrailingZeros(flags) >>> 3)
        }
        i += 8
      }
    }
    while (i < to && buf(i) != '\n' && buf(i) != '\r') i += 1
    i
  }
}
