package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions.col

import graft.schemer._

/** One timed call into the program. `run` returns its output; `check`
 *  compares that output with the expectation (outside the timed region) and
 *  returns a mismatch message, if any; `digest` renders the output as the
 *  `rows<TAB>hash` line that recording stores. */
final case class Op(name: String, module: String, run: Tracer => Any, check: Any => Option[String],
    digest: Any => String = _ => "")

/** A workload: inputs it builds, and the operations of one pass over them. */
trait Workload {
  def name: String
  /** Build the inputs under `dir`, which is empty; called several times. */
  def setup(dir: File): Unit
  /** Set-up repetitions; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Untimed passes before measuring: JIT, codegen and memos settle. */
  def warmPasses: Int = 2
  /** Timed passes at least, however long they take. */
  def minPasses: Int = 2
  /** Size of the input one pass reads, in MB. */
  def inputMb: Double
  def ops: Seq[Op]
  def afterOp(op: Op): Unit = ()
  /** Per-layer figures this workload measures beyond the span tree. */
  def layers(opSeconds: Double): Map[String, Double] = Map.empty
}

/** The rows a query returned, with an order-insensitive digest. */
final case class Rows(count: Long, hash: Long)

object Rows {
  /** Rows of a physical plan's output. The digest sums the Murmur3 hash of
   *  each row's UnsafeRow bytes, so it ignores row order. */
  def of(rows: Array[InternalRow], schema: org.apache.spark.sql.types.StructType): Rows = {
    val proj = UnsafeProjection.create(schema)
    var h = 0L
    rows.foreach(r => h += proj(r).hashCode().toLong)
    Rows(rows.length.toLong, h)
  }
}

object Workloads {
  val Names: Seq[String] = Seq("infer_ndjson", "infer_wide_grouped", "suite_sf001")

  /** Spark threads (`local[n]`, and as many shuffle partitions): two of the
   *  host's four cores, so that the task threads leave the others to the
   *  JIT, GC and driver threads and a run depends less on how busy the host
   *  is. In one JVM the suite's steady passes took 7.4–10.3 s with 4 threads
   *  and 6.1–7.1 s with 2; over ten runs, infer_ndjson's median pass time
   *  spread 0.24 (interquartile range over median) with 4 threads and
   *  0.16–0.19 with 2. */
  val Cores = 2

  /** Corpus seed of the suite workload, whose inputs are fixed so that its
   *  expected outputs can be recorded once. */
  val SuiteSeed = 42L

  def apply(name: String, spark: SparkSession, seed: Long, expectedDir: Option[File]): Workload = name match {
    case "infer_ndjson" => new InferNdjson(spark, seed)
    case "infer_wide_grouped" => new InferWide(spark, seed)
    case "suite_sf001" => new QuerySuite(spark, name, Suite.SuiteQueries, Suite.SuiteSf, expectedDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other; one of ${Names.mkString(", ")}")
  }
}

/** Shared schema-fold passes for the two inference workloads: cumulative
 *  passes over the same documents (decode; + Jackson tree; + witness; +
 *  per-partition merge), each timed as the median of three runs. */
object SchemerLayers {
  val Reps = 3

  private def mapper = new ObjectMapper().configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

  /** Work of one partition at `level` 1..4 over (group, document) pairs;
   *  level 4 returns each group's merged witness. */
  def fold(level: Int)(it: Iterator[(Int, String)]): Iterator[(Int, Witness)] = {
    val m = if (level >= 2) mapper else null
    val acc = mutable.HashMap.empty[Int, Witness]
    var chars = 0L
    while (it.hasNext) {
      val (g, doc) = it.next()
      chars += doc.length
      if (level >= 2) {
        val node = m.readTree(doc)
        if (level >= 3) {
          val w = Witness.ofNode(node)
          if (level >= 4) acc(g) = Witness.merge(acc.getOrElse(g, WObj.empty), w)
        }
      }
    }
    if (level >= 4) acc.iterator else Iterator.single(-1 -> WStr(chars.toInt))
  }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  /** Per-layer self times plus render and codec figures over `docs`.
   *  `render` renders every final witness once. */
  def measure(docs: org.apache.spark.rdd.RDD[(Int, String)], opSeconds: Double,
      render: Map[Int, Witness] => Unit): Map[String, Double] = {
    var finals = Map.empty[Int, Witness]
    val levels = (1 to 4).map { level =>
      median((1 to Reps).map { _ =>
        val (s, out) = time(docs.mapPartitions(fold(level)).collect())
        if (level == 4) finals = out.groupBy(_._1).map { case (g, ws) =>
          g -> ws.map(_._2).reduce(Witness.merge(_, _))
        }
        s
      })
    }
    val reps = 200
    val renderS = median((1 to Reps).map(_ => time((1 to reps).foreach(_ => render(finals)))._1 / reps))
    val codecS = median((1 to Reps).map(_ => time((1 to reps).foreach(_ =>
      finals.values.foreach(w => WitnessCodec.read(WitnessCodec.write(w)))))._1 / reps))
    Map(
      "schemer.decode_s" -> levels(0),
      "schemer.parse_s" -> (levels(1) - levels(0)),
      "schemer.witness_s" -> (levels(2) - levels(1)),
      "schemer.merge_s" -> (levels(3) - levels(2)),
      "schemer.driver_s" -> (opSeconds - levels(3) - renderS),
      "schemer.render_s" -> renderS,
      "schemer.witness_fields" -> finals.values.map(fields).sum.toDouble,
      "schemer.codec_bytes" -> finals.values.map(w => WitnessCodec.write(w).length).sum.toDouble,
      "schemer.codec_s" -> codecS)
  }

  def fields(w: Witness): Int = w match {
    case WObj(fs) => fs.size + fs.map(f => fields(f._2)).sum
    case WArr(e) => fields(e)
    case WMap(v) => fields(v)
    case _ => 0
  }
}

/** `SchemaGen.hiveScript` over a seeded NDJSON directory. */
final class InferNdjson(spark: SparkSession, seed: Long) extends Workload {
  val name = "infer_ndjson"
  val RowCount = 200000L
  val Files = 16
  override def setupReps = 21
  override def warmPasses = 6
  private var path = ""
  private var expected = ""
  private var bytes = 0L

  def setup(dir: File): Unit = {
    val out = new File(dir, "ndjson")
    val w = NdjsonCorpus.write(out, seed, RowCount, Files)
    path = out.getPath
    bytes = w.bytes
    expected = Shape.hiveScript(w.expected, "docs", path)
  }

  def inputMb: Double = bytes / 1e6

  def ops: Seq[Op] = Seq(Op("hiveScript", "schemer",
    t => t.span("schemer.hiveScript")(SchemaGen.hiveScript(spark, path, "docs")),
    out => if (out == expected) None else Some(s"DDL differs:\n$out\n--- expected ---\n$expected")))

  override def layers(opSeconds: Double): Map[String, Double] = {
    val docs = spark.read.textFile(path).rdd.map(l => (0, l))
    SchemerLayers.measure(docs, opSeconds, ws => ws.values.foreach(HiveRender.table(_, "docs", path)))
  }
}

/** The native `infer_column_types` aggregate, grouped by source, over a
 *  seeded parquet file of wide sparse documents. */
final class InferWide(spark: SparkSession, seed: Long) extends Workload {
  val name = "infer_wide_grouped"
  val Docs = 20000
  private var path = ""
  private var expected = Map.empty[Int, Vector[(String, String)]]
  private var bytes = 0L

  def setup(dir: File): Unit = {
    val w = WideCorpus.write(spark, dir, seed, Docs)
    path = new File(dir, "wide.parquet").getPath
    bytes = w.bytes
    expected = w.expected.map { case (g, cols) => g -> cols.sorted }
  }

  def inputMb: Double = bytes / 1e6

  def ops: Seq[Op] = Seq(Op("infer_column_types", "schemer", t => {
    val df = t.span("query.build")(spark.read.parquet(path).groupBy("src")
      .agg(InferSchema.infer_column_types(col("doc")).as("cols")))
    val plan = t.span("spark.plan")(df.queryExecution.executedPlan)
    t.span("query.exec")(plan.executeCollect())
  }, out => {
    val got = out.asInstanceOf[Array[InternalRow]].map { r =>
      val a = r.getArray(1)
      r.getInt(0) -> (0 until a.numElements()).map { i =>
        val s = a.getStruct(i, 2)
        s.getUTF8String(0).toString -> s.getUTF8String(1).toString
      }.toVector.sorted
    }.toMap
    val bad = (got.keySet ++ expected.keySet).toSeq.sorted.filter(g => got.get(g) != expected.get(g))
    if (bad.isEmpty) None
    else Some(s"${bad.size} groups differ, first ${bad.head}: got ${got.get(bad.head)} expected ${expected.get(bad.head)}")
  }))

  override def layers(opSeconds: Double): Map[String, Double] = {
    import spark.implicits._
    val docs = spark.read.parquet(path).select(col("src"), col("doc")).as[(Int, String)].rdd
    SchemerLayers.measure(docs, opSeconds, ws => ws.values.foreach {
      case WObj(fs) => fs.foreach { case (_, v) => HiveRender.renderType(v) }
      case other => HiveRender.renderType(other)
    })
  }
}
