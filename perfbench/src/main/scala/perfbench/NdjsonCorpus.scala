package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import perfbench.Shape._

/** Seeded corpus for `infer_ndjson`: narrow nested documents, written as
 *  NDJSON text files, one writer thread per file.
 *
 *  Every document lists its keys in one canonical order (id, user, amount,
 *  qty, rate, tags, geo{lat, lon, city}, active); qty, rate, tags and geo are
 *  each missing from about 15% of documents, except the first document of a
 *  file, which has them all. Files are far below the scan's split size, so
 *  every scan partition starts at a complete document and the inferred
 *  column order is the canonical one. Numbers never end in a fractional
 *  zero, so their text has exactly one decimal reading.
 *
 *  The expected Hive script is folded from the values as they are written,
 *  with [[Shape]], not with the code under test. */
object NdjsonCorpus {
  final case class Written(bytes: Long, rows: Long, expected: Obj)

  private val Words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "omicron")
  private val Cities = Vector("Lisbon", "Oslo", "Lima", "Quito", "Accra", "Hanoi",
    "Perth", "Reykjavik", "Ulaanbaatar", "Bratislava")

  def write(dir: File, seed: Long, rows: Long, files: Int): Written = {
    dir.mkdirs()
    val per = (rows + files - 1) / files
    val parts = Parallel.map(0 until files) { f =>
      val lo = f * per
      val hi = math.min(rows, lo + per)
      writeFile(new File(dir, f"part-$f%03d.json"), new SplittableRandom(seed * 1000003L + f), lo, hi)
    }
    parts.reduce((a, b) => Written(a.bytes + b.bytes, a.rows + b.rows, join(a.expected, b.expected).asInstanceOf[Obj]))
  }

  private def writeFile(file: File, rnd: SplittableRandom, lo: Long, hi: Long): Written = {
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    var bytes = 0L
    // field-wise running shapes, folded into one Obj at the end
    var id, user, amount, qty, rate, lat, lon, city, tagElem: Shape = Bottom
    val sb = new java.lang.StringBuilder(256)
    try {
      var r = lo
      while (r < hi) {
        val full = r == lo
        def present = full || rnd.nextInt(100) >= 15
        sb.setLength(0)
        sb.append("{\"id\":").append(r)
        id = join(id, int(r))
        val u = "u" + rnd.nextInt(100000)
        sb.append(",\"user\":\"").append(u).append('"')
        user = join(user, Str(u.length))
        val a = decimal(rnd, 1000000000L, 2, signed = false)
        sb.append(",\"amount\":").append(a.toPlainString)
        amount = join(amount, num(a))
        if (present) {
          val q = rnd.nextInt(501)
          sb.append(",\"qty\":").append(q)
          qty = join(qty, int(q))
        }
        if (present) {
          val s = 1 + rnd.nextInt(4)
          val v = decimal(rnd, 10L * math.pow(10, s).toLong, s, signed = false) // below 10
          sb.append(",\"rate\":").append(v.toPlainString)
          rate = join(rate, num(v))
        }
        if (present) {
          sb.append(",\"tags\":[")
          val n = rnd.nextInt(5)
          var i = 0
          while (i < n) {
            val w = Words(rnd.nextInt(Words.size))
            if (i > 0) sb.append(',')
            sb.append('"').append(w).append('"')
            tagElem = join(tagElem, Str(w.length))
            i += 1
          }
          sb.append(']')
        }
        if (present) {
          val la = decimal(rnd, 90000000L, 6, signed = true)
          val lg = decimal(rnd, 180000000L, 6, signed = true)
          val c = Cities(rnd.nextInt(Cities.size))
          sb.append(",\"geo\":{\"lat\":").append(la.toPlainString)
            .append(",\"lon\":").append(lg.toPlainString)
            .append(",\"city\":\"").append(c).append("\"}")
          lat = join(lat, num(la)); lon = join(lon, num(lg)); city = join(city, Str(c.length))
        }
        sb.append(",\"active\":").append(rnd.nextBoolean()).append("}\n")
        out.append(sb)
        bytes += sb.length // ASCII only
        r += 1
      }
    } finally out.close()
    // the first document of the file carries every key
    Written(bytes, hi - lo, Obj(Vector("id" -> id, "user" -> user, "amount" -> amount, "qty" -> qty,
      "rate" -> rate, "tags" -> Arr(tagElem), "geo" -> Obj(Vector("lat" -> lat, "lon" -> lon, "city" -> city)),
      "active" -> Bool)))
  }
}
