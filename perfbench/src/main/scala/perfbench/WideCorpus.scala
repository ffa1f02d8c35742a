package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import perfbench.Shape._

/** Seeded corpus for `infer_wide_grouped`: wide, sparse JSON documents in a
 *  parquet file with columns (src INT, doc STRING).
 *
 *  Each document holds 20 to 60 keys drawn with skew from a pool of
 *  [[PoolSize]] (low-numbered keys are common, high-numbered ones rare), in
 *  drawn order. A key's kind is fixed by its number: string, integer of a
 *  key-specific magnitude, decimal of a key-specific scale, boolean, integer
 *  array, or a two-field struct. About 3% of values are JSON null. `src`
 *  takes [[Groups]] values, also skewed.
 *
 *  The expected `(col_name, hive_type)` list of every group is folded from
 *  the values as they are written, with [[Shape]]. */
object WideCorpus {
  val PoolSize = 400
  val Groups = 64
  val Chunks = 8
  /** Parquet files, so the aggregate's map side has more tasks than cores. */
  val Files = 16

  final case class Written(bytes: Long, rows: Long, expected: Map[Int, Vector[(String, String)]])

  private val keys: Array[String] = Array.tabulate(PoolSize)(k => f"k$k%03d")

  def write(spark: SparkSession, dir: File, seed: Long, rows: Int): Written = {
    val per = (rows + Chunks - 1) / Chunks
    val chunks = Parallel.map(0 until Chunks) { c =>
      generate(new SplittableRandom(seed * 7919L + c), math.min(rows, (c + 1) * per) - c * per)
    }
    val docs = chunks.flatMap(_._1)
    val shapes = chunks.map(_._2).reduce { (a, b) =>
      b.foldLeft(a) { case (acc, (g, o)) => acc.updated(g, acc.get(g).fold(o)(joinObj(_, o))) }
    }
    val schema = StructType(Seq(StructField("src", IntegerType, nullable = false),
      StructField("doc", StringType, nullable = false)))
    val out = new File(dir, "wide.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(docs, Files), schema).write.parquet(out.getPath)
    Dirs.renameParts(out, "parquet")
    Written(docs.iterator.map(_.getString(1).length.toLong).sum, docs.size,
      shapes.map { case (g, o) => g -> o.fields.map { case (k, v) => k -> render(v) } })
  }

  private def joinObj(a: Obj, b: Obj): Obj = join(a, b).asInstanceOf[Obj]

  /** One chunk of documents plus the per-group shapes of its values. */
  private def generate(rnd: SplittableRandom, n: Int): (Seq[Row], Map[Int, Obj]) = {
    val groups = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.LinkedHashMap[String, Shape]]
    val rows = new Array[Row](n)
    val sb = new java.lang.StringBuilder(2048)
    val picked = new java.util.BitSet(PoolSize)
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      val src = (Groups * u * u).toInt
      val nKeys = 20 + rnd.nextInt(41)
      picked.clear()
      sb.setLength(0)
      sb.append('{')
      val fields = groups.getOrElseUpdate(src, scala.collection.mutable.LinkedHashMap.empty)
      var j = 0
      while (j < nKeys) {
        val d = rnd.nextDouble()
        val k = (PoolSize * d * d * d).toInt
        if (!picked.get(k)) {
          picked.set(k)
          if (j > 0) sb.append(',')
          sb.append('"').append(keys(k)).append("\":")
          val shape = value(rnd, k, sb)
          fields(keys(k)) = fields.get(keys(k)).fold(shape)(join(_, shape))
          j += 1
        }
      }
      sb.append('}')
      rows(i) = Row(src, sb.toString)
      i += 1
    }
    (rows.toSeq, groups.iterator.map { case (g, fs) => g -> Obj(fs.toVector) }.toMap)
  }

  /** Append key `k`'s value to `sb` and return its shape. */
  private def value(rnd: SplittableRandom, k: Int, sb: java.lang.StringBuilder): Shape =
    if (rnd.nextInt(100) < 3) { sb.append("null"); Bottom }
    else k % 6 match {
      case 0 =>
        val len = 1 + rnd.nextInt(4 + k % 40)
        sb.append('"')
        var c = 0
        while (c < len) { sb.append(('a' + rnd.nextInt(26)).toChar); c += 1 }
        sb.append('"')
        Str(len)
      case 1 =>
        val mag = math.pow(10, 1 + k % 12).toLong
        val v = rnd.nextLong(mag) - (if (k % 4 == 1) mag / 2 else 0)
        sb.append(v)
        int(v)
      case 2 =>
        val scale = 1 + k % 5
        val v = decimal(rnd, math.pow(10, 2 + k % 14).toLong, scale, signed = k % 4 == 2)
        sb.append(v.toPlainString)
        num(v)
      case 3 =>
        val b = rnd.nextBoolean()
        sb.append(b)
        Bool
      case 4 =>
        val len = rnd.nextInt(4)
        var elem: Shape = Bottom
        sb.append('[')
        var c = 0
        while (c < len) {
          val v = rnd.nextInt(1000)
          if (c > 0) sb.append(',')
          sb.append(v)
          elem = join(elem, int(v))
          c += 1
        }
        sb.append(']')
        Arr(elem)
      case _ =>
        val a = rnd.nextInt(100)
        val len = 1 + rnd.nextInt(10)
        val b = "x" * len
        sb.append("{\"a\":").append(a).append(",\"b\":\"").append(b).append("\"}")
        Obj(Vector("a" -> int(a), "b" -> Str(b.length)))
    }
}
