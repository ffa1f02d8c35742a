package perfbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.schemer._

/** Checks of the benchmark itself: a fixed seed yields byte-identical
 *  corpora (and another seed different ones), and the inference workloads'
 *  checks accept the program's real output but reject deliberately wrong
 *  witnesses. */
object SelfTest {
  def run(spark: SparkSession, root: File, seed: Long): Map[String, Any] = {
    val results = mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(what: String, ok: Boolean): Unit = {
      System.err.println(s"perfbench: selftest ${if (ok) "ok  " else "FAIL"} $what")
      results += what -> ok
    }
    def fresh(name: String): File = { val d = new File(root, s"selftest/$name"); Dirs.delete(d); d.mkdirs(); d }

    // determinism of every generator
    def digests(write: (File, Long) => Unit): Seq[String] =
      Seq(("a", seed), ("b", seed), ("c", seed + 1)).map { case (n, s) => val d = fresh(n); write(d, s); digest(d) }
    for ((name, write) <- Seq[(String, (File, Long) => Unit)](
        "infer_ndjson corpus" -> ((d, s) => NdjsonCorpus.write(d, s, 20000, 4)),
        "infer_wide_grouped corpus" -> ((d, s) => WideCorpus.write(spark, d, s, 2000)),
        "suite corpus" -> ((d, s) => StarCorpus.write(spark, d, s, 0.001)))) {
      val Seq(a, b, c) = digests(write)
      expect(s"$name: same seed, same bytes", a == b)
      expect(s"$name: another seed, other bytes", a != c)
    }

    val noTrace = new Tracer(spark.sparkContext)

    // infer_ndjson: the real DDL passes, DDL from a wrong witness fails
    val nd = new InferNdjson(spark, seed)
    nd.setup(fresh("ndjson"))
    val ndOp = nd.ops.head
    expect("infer_ndjson: real output accepted", ndOp.check(ndOp.run(noTrace)).isEmpty)
    val path = new File(root, "selftest/ndjson/ndjson").getPath
    val real = InferSchema.inferPath(spark, path).asInstanceOf[WObj]
    def tweak(key: String)(f: Witness => Witness) =
      WObj(real.fields.map { case (k, v) => k -> (if (k == key) f(v) else v) })
    val wrong = Seq(
      "string one longer" -> tweak("user") { case WStr(n) => WStr(n + 1); case w => w },
      "integer range widened" -> tweak("qty") { case n: WNum => n.copy(max = n.max * 1000); case w => w },
      "decimal scale raised" -> tweak("rate") { case n: WNum => n.copy(maxScale = n.maxScale + 9); case w => w },
      "nested field dropped" -> tweak("geo") { case WObj(fs) => WObj(fs.init); case w => w },
      "column dropped" -> WObj(real.fields.filterNot(_._1 == "active")))
    wrong.foreach { case (what, w) =>
      expect(s"infer_ndjson: wrong witness rejected ($what)", ndOp.check(HiveRender.table(w, "docs", path)).nonEmpty)
    }

    // infer_wide_grouped: the real rows pass, one altered column type fails
    val wide = new InferWide(spark, seed)
    wide.setup(fresh("wide"))
    val wideOp = wide.ops.head
    val rows = wideOp.run(noTrace).asInstanceOf[Array[InternalRow]]
    expect("infer_wide_grouped: real output accepted", wideOp.check(rows).isEmpty)
    val altered = rows.clone()
    val first = rows(0).getArray(1)
    val cols = (0 until first.numElements()).map(i => first.getStruct(i, 2).copy(): Any).toArray
    val c0 = cols(0).asInstanceOf[InternalRow]
    cols(0) = InternalRow(c0.getUTF8String(0), UTF8String.fromString(c0.getUTF8String(1).toString + " "))
    altered(0) = new GenericInternalRow(Array[Any](rows(0).getInt(0), new GenericArrayData(cols)))
    expect("infer_wide_grouped: wrong column type rejected", wideOp.check(altered).nonEmpty)

    Dirs.delete(new File(root, "selftest"))
    val failed = results.count(!_._2)
    Map("correct" -> (failed == 0), "attempted" -> results.size, "failed" -> failed, "metrics" -> Map.empty)
  }

  /** SHA-256 over every file's relative path and bytes. */
  def digest(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory) f.listFiles.sortBy(_.getName).foreach(c => walk(c, s"$rel/${c.getName}"))
      else { md.update(rel.getBytes("UTF-8")); md.update(java.nio.file.Files.readAllBytes(f.toPath)) }
    walk(dir, "")
    md.digest().map(b => f"$b%02x").mkString
  }
}
