package graft.schemer

import graft.SparkTestSession
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.FileLines
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** Differential guard of the path reader: `inferPath(p)` reads the same
 *  partitions, with the same lines in the same order, as
 *  `spark.read.textFile(p)`, and folds them to the same witness — compared
 *  with field order and BigDecimal scales — or fails with the same
 *  exception class and message (`partition i record n` included). Each
 *  path is read at Spark's default split size and at two small ones, where
 *  every file is cut into several splits, every cut falls inside a line,
 *  and the short tail splits are packed several to a partition. */
class PathReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private type Outcome[A] = Either[(Class[_], String), A]

  /** A failure as its innermost cause: a task's exception reaches the
   *  caller wrapped in a `SparkException` whose message names the task. */
  private def attempt[A](f: => A): Outcome[A] =
    try Right(f) catch {
      case e: Exception =>
        var c: Throwable = e
        while (c.getCause != null) c = c.getCause
        Left(c.getClass -> c.getMessage)
    }

  private def same(a: Outcome[Witness], b: Outcome[Witness]): Boolean = (a, b) match {
    case (Right(x), Right(y)) => WitnessEquality.exact(x, y)
    case _ => a == b
  }

  private def partitions(rows: RDD[InternalRow]): Seq[(Int, Vector[String])] =
    rows.mapPartitionsWithIndex((i, it) => Iterator(i -> it.map(_.getUTF8String(0).toString).toVector))
      .collect().toSeq

  /** (maxPartitionBytes, openCostInBytes): Spark's defaults, then two split
   *  sizes that cut every fixture file; [[Split]] divides both. */
  private val Split = 64
  private val Configs = Seq(None, Some((Split, 16L)), Some((4 * Split, 4L)))

  private def withSplits[A](conf: Option[(Int, Long)])(body: => A): A = conf match {
    case None => body
    case Some((max, open)) =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", max.toLong)
      spark.conf.set("spark.sql.files.openCostInBytes", open)
      try body finally {
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
      }
  }

  /** Checks `path` at every split size; returns the default-size outcome. */
  private def check(path: String): Outcome[Witness] = Configs.map { conf =>
    withSplits(conf) {
      val rows = attempt(partitions(InferSchema.lines(spark.read.textFile(path))))
      assert(attempt(partitions(FileLines(spark, path))) == rows, s"partitions of $path at $conf")
      val expected = attempt(InferSchema.inferWitness(spark.read.textFile(path)))
      val actual = attempt(InferSchema.inferPath(spark, path))
      assert(same(expected, actual), s"$path at $conf\n  textFile: $expected\n  path:     $actual")
      actual
    }
  }.head

  private def eolBytes(b: Byte): Boolean = b == '\n' || b == '\r'

  /** `n` NDJSON lines joined by `eol`, each with a key of its own (so the
   *  witness's field order records the order the lines were folded in),
   *  padded so that no line end touches a multiple of [[Split]]: every
   *  split boundary falls inside a line. `blankEvery` inserts blank lines;
   *  `last` ends the file with `eol` or not. */
  private def ndjson(file: String, n: Int, eol: String, prefix: Array[Byte] = Array.empty,
                     blankEvery: Int = 0, last: Boolean = true): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(prefix)
    for (i <- 0 until n) {
      var pad = 0
      def line = s"""{"${file}_$i":$i,"s":"${"x" * (i % 7 + pad)}","n":${i * 3}.${"5" * (i % 3)}1}"""
      def ok = {
        val endAt = out.size + line.getBytes(UTF_8).length
        (endAt until endAt + eol.length + 1).forall(p => p % Split != 0)
      }
      while (!ok) pad += 1
      out.write(line.getBytes(UTF_8))
      if (i < n - 1 || last) out.write(eol.getBytes(UTF_8))
      if (blankEvery > 0 && i % blankEvery == blankEvery - 1 && i < n - 1 &&
          (out.size + 1 until out.size + eol.length + 1).forall(p => p % Split != 0))
        out.write(eol.getBytes(UTF_8))
    }
    val bytes = out.toByteArray
    assert((Split until bytes.length by Split).forall(b => !eolBytes(bytes(b - 1)) && !eolBytes(bytes(b))),
      s"$file: a split boundary sits on a line end")
    bytes
  }

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(bytes)
    gz.close()
    out.toByteArray
  }

  private def write(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(dir.resolve(name).getParent)
    Files.write(dir.resolve(name), bytes)
  }

  private val Bom = Array(0xef, 0xbb, 0xbf).map(_.toByte)

  /** Files of different sizes, line ends and codecs, and files the scan
   *  must skip (they would fail the fold if read). */
  private def mixedDir(): Path = {
    val dir = graft.ScratchFiles.dir("graft_path_reader")
    write(dir, "part-000.json", ndjson("a", 30, "\n", blankEvery = 4))
    write(dir, "part-001.json", ndjson("b", 12, "\r\n"))
    write(dir, "part-002.json", ndjson("c", 20, "\r"))
    write(dir, "part-003.json", ndjson("d", 5, "\n", prefix = Bom, last = false))
    val gz = gzip(ndjson("e", 40, "\n"))
    assert(gz.length > 2 * Split, "test premise: the .gz file is larger than a split")
    write(dir, "part-004.json.gz", gz)
    write(dir, "_SUCCESS", "not json".getBytes(UTF_8))
    // a checksum file of a file that is not there: the local file system
    // would verify part-000.json against a `.part-000.json.crc`
    write(dir, ".part-999.json.crc", Array[Byte](99, 114, 99, 0, 1, 2, 3, -1))
    dir
  }

  test("a directory of files with mixed line ends, blank lines, a BOM, a .gz file and hidden files") {
    val dir = mixedDir()
    val w = check(dir.toString)
    assert(w.isRight, w)
    val fields = w.toOption.get.asInstanceOf[WObj].fields.map(_._1).toSet
    // every file is read, the BOM is not part of the first key, and the
    // hidden files are skipped (they are not JSON)
    assert(Seq("a_29", "b_11", "c_19", "d_0", "d_4", "e_39").forall(fields), fields)
    for (f <- Seq("part-000.json", "part-001.json", "part-002.json", "part-003.json", "part-004.json.gz"))
      assert(check(dir.resolve(f).toString).isRight, f)
  }

  test("a glob path") {
    val dir = mixedDir()
    assert(check(dir.toString + "/part-00[0-2].json").isRight)
    assert(check(dir.toString + "/part-*").isRight)
  }

  test("k=v subdirectories") {
    val dir = graft.ScratchFiles.dir("graft_path_reader_kv")
    write(dir, "k=1/a.json", ndjson("a", 9, "\n"))
    write(dir, "k=2/b.json", ndjson("b", 14, "\n"))
    write(dir, "k=2/c.json", ndjson("c", 3, "\r\n"))
    write(dir, "_SUCCESS", Array.empty)
    assert(check(dir.toString).isRight)
  }

  test("an empty directory folds to the empty object") {
    val dir = graft.ScratchFiles.dir("graft_path_reader_empty")
    assert(check(dir.toString) == Right(WObj.empty))
  }

  test("a missing path raises the same exception") {
    val missing = graft.ScratchFiles.dir("graft_path_reader_missing").resolve("nope.json").toString
    val outcome = check(missing)
    assert(outcome.isLeft && outcome.left.toOption.get._2.contains("nope.json"), outcome)
  }

  test("a SQL conf set between calls reaches the line reader") {
    // the reader's Hadoop conf is broadcast once and reused while it is
    // unchanged; every SQL conf is part of it
    val dir = graft.ScratchFiles.dir("graft_path_reader_conf")
    val long = """{"a":1,"b":"""" + "x" * 66 + """"}"""
    assert(long.length == 80)
    write(dir, "a.json", s"{\"a\":1}\n$long\n".getBytes(UTF_8))
    val p = dir.toString
    def infer(): Witness = {
      val w = InferSchema.inferPath(spark, p)
      assert(WitnessEquality.exact(w, InferSchema.inferWitness(spark.read.textFile(p))), w)
      w
    }
    val a = "a" -> WNum(BigDecimal(1), BigDecimal(1), 0)
    val both = WObj(Vector(a, "b" -> WStr(66)))
    val key = "mapreduce.input.linerecordreader.line.maxlength"
    assert(infer() == both)
    assert(infer() == both)
    spark.conf.set(key, "50")
    try assert(infer() == WObj(Vector(a)), "the 80-byte line is longer than the reader's limit")
    finally spark.conf.unset(key)
    assert(infer() == both)
  }

  test("after the context stops, a new session's inferPath works and the old context is released") {
    // in a JVM of its own: a test JVM's other suites keep their session
    val dir = graft.ScratchFiles.dir("graft_path_reader_restart")
    write(dir, "a.json", ndjson("a", 20, "\n"))
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val log = dir.resolve("child.log")
    val child = new ProcessBuilder((Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvm ++
      Seq("-cp", System.getProperty("java.class.path"), PathReaderRestart.getClass.getName.stripSuffix("$"),
        dir.resolve("a.json").toString)): _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
    val finished = child.waitFor(5, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) child.destroyForcibly()
    val out = new String(Files.readAllBytes(log), UTF_8)
    assert(finished && child.exitValue == 0, out)
    assert(out.linesIterator.contains("same witness: true"), out)
    assert(out.linesIterator.contains("stopped context released: true"), out)
  }

  test("every split size cuts small files on every byte: CR, LF, inside a CRLF and inside the BOM") {
    val bom = new String(Bom, ISO_8859_1)
    val files = Seq(
      "lf" -> "{\"a\":1}\n\n{\"bb\":22}\nc\n",
      "cr" -> "{\"a\":1}\r\r{\"bb\":22}\rc\r",
      "crlf" -> "{\"a\":1}\r\n\r\n{\"bb\":22}\r\nc\r\n",
      "mixed" -> "a\r\nb\rc\n\r\n\n\rd\r\r\ne",
      "bom" -> s"$bom{\"a\":1}\r\n${bom}b\n",
      "bom only" -> bom,
      "no final line end" -> "ab\ncd",
      "only line ends" -> "\r\n\r\r\n\n\n\r",
      "empty" -> "")
    val dir = graft.ScratchFiles.dir("graft_path_reader_cuts")
    for (((name, text), i) <- files.zipWithIndex) {
      val bytes = text.getBytes(ISO_8859_1)
      write(dir, s"$i.txt", bytes)
      val path = dir.resolve(s"$i.txt").toString
      // one split per maxPartitionBytes bytes: with a 1-byte open cost and
      // one minimum partition, maxSplitBytes is maxPartitionBytes
      for (max <- 1 to math.max(bytes.length, 1)) {
        spark.conf.set("spark.sql.files.maxPartitionBytes", max.toLong)
        spark.conf.set("spark.sql.files.openCostInBytes", 1L)
        spark.conf.set("spark.sql.files.minPartitionNum", 1L)
        try assert(partitions(FileLines(spark, path)) == partitions(InferSchema.lines(spark.read.textFile(path))),
          s"$name at maxPartitionBytes $max")
        finally Seq("maxPartitionBytes", "openCostInBytes", "minPartitionNum")
          .foreach(k => spark.conf.unset(s"spark.sql.files.$k"))
      }
    }
  }

  test("input metrics: the records and bytes spark.read.textFile reports") {
    val dir = graft.ScratchFiles.dir("graft_path_reader_metrics")
    val bytes = ndjson("a", 30, "\n", blankEvery = 4) ++ ndjson("b", 12, "\r\n")
    write(dir, "a.json", bytes)
    val path = dir.resolve("a.json").toString
    // (records, bytes) summed over the tasks of one read, counted once all
    // of its tasks have ended
    def metrics(rows: RDD[InternalRow]): (Long, Long) = {
      val tasks = new java.util.concurrent.LinkedBlockingQueue[(Long, Long)]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(end: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val in = end.taskMetrics.inputMetrics
          tasks.put(in.recordsRead -> in.bytesRead)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        rows.foreach(_ => ())
        val counts = Seq.fill(rows.getNumPartitions)(tasks.poll(1, java.util.concurrent.TimeUnit.MINUTES))
        assert(!counts.contains(null), "a task end did not arrive")
        counts.map(_._1).sum -> counts.map(_._2).sum
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    for (conf <- Configs) withSplits(conf) {
      val (records, read) = metrics(FileLines(spark, path))
      val (expected, _) = metrics(InferSchema.lines(spark.read.textFile(path)))
      assert(records == expected && records > 0, s"recordsRead at $conf")
      assert(read >= bytes.length, s"bytesRead $read of a ${bytes.length}-byte file at $conf")
    }
  }

  test("a conflicting row names the same partition and record") {
    val dir = mixedDir()
    write(dir, "part-005.json", ndjson("f", 6, "\n") ++ """{"n":{"x":1}}""".getBytes(UTF_8))
    val outcome = check(dir.toString)
    assert(outcome.isLeft && outcome.left.toOption.get._2.contains("record"), outcome)
  }
}

/** [[PathReaderSpec]]'s restart case, run as a JVM of its own: infers a path
 *  in one session and stops it, reports whether the stopped context became
 *  unreachable, then infers the path again in a new session and reports
 *  whether the witnesses agree. */
object PathReaderRestart {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.SparkContext
    import java.lang.ref.WeakReference
    def session() = graft.LocalSpark.session(cpus = 1)
    def first(): (Witness, WeakReference[SparkContext]) = {
      val s = session()
      val w = InferSchema.inferPath(s, args(0))
      graft.LocalSpark.stop(s)
      (w, new WeakReference(s.sparkContext))
    }
    val (w, stopped) = first()
    // before any new call could replace what the last one left behind
    var tries = 0
    while (stopped.get != null && tries < 50) { System.gc(); Thread.sleep(100); tries += 1 }
    println(s"stopped context released: ${stopped.get == null}")
    val s = session()
    println(s"same witness: ${WitnessEquality.exact(w, InferSchema.inferPath(s, args(0)))}")
    s.stop()
  }
}
