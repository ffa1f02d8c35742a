package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-in for graft's test corpus: the same ten parquet tables with
 *  the same column names and types (a TPC-H-like star schema, an `events`
 *  stream, a `documents` text table and an `embeddings` vector table), sized
 *  by a scale factor `sf` (sf = 0.1 gives 600k lineitem rows).
 *
 *  Every value is a hash of (seed, column salt, row key), so a table does not
 *  depend on how Spark splits the work, and each table is written as a
 *  few parquet files with fixed names. Value domains follow
 *  the test corpus: uniform keys, TPC-H category lists, 1995–2001 order and
 *  ship dates, a 30-day event stream with exponential values, 10–100-word
 *  documents over a 30-word vocabulary with injected exact and near
 *  duplicates, and unit-norm 64-dimensional embeddings with 10 labels. */
object StarCorpus {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def write(spark: SparkSession, dir: File, seed: Long, sf: Double): Unit = {
    val g = new Gen(spark, seed)
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val customers = n(150000)
    val suppliers = n(10000)
    val parts = n(200000)
    val orders = n(1500000)
    val events = n(1000000)
    val users = n(15000)
    import g._

    val tables = mutable.ArrayBuffer.empty[(String, DataFrame)]
    def save(name: String, df: DataFrame): Unit = tables += name -> df
    def ntz(days0: String, days: Column): Column =
      date_add(lit(days0).cast("date"), days.cast("int")).cast("timestamp_ntz")

    save("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    save("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", range(customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 10999.79).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")))
    save("supplier", range(suppliers).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      int(4, 25).cast("int").as("s_nationkey"), money(5, -999.99, 10999.79).as("s_acctbal")))
    save("part", range(parts).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, "blue", "old", "large", "hot", "cold", "red", "small", "new"),
        pick(7, "widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")).as("p_name"),
      concat(lit("Brand#"), int(8, 25) + 1).as("p_brand"),
      pick(9, "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO").as("p_type"),
      (int(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    val ord = range(orders).select(col("id").as("o_orderkey"), int(11, customers).as("o_custkey"),
      pick(12, "F", "O", "P").as("o_orderstatus"), money(13, 1000.0, 499000.0).as("o_totalprice"),
      ntz("1995-01-01", int(14, 2404)).as("o_orderdate"),
      pick(15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
    save("orders", ord)
    save("lineitem", range(orders)
      .select(col("id").as("l_orderkey"), explode(sequence(lit(1), (int(16, 7) + 1).cast("int"))).as("l_linenumber"))
      .withColumn("id", col("l_orderkey") * 8 + col("l_linenumber"))
      .select(col("l_orderkey"), int(17, parts).as("l_partkey"), int(18, suppliers).as("l_suppkey"),
        col("l_linenumber"), (int(19, 50) + 1).cast("double").as("l_quantity"),
        money(20, 900.0, 104100.0).as("l_extendedprice"), (int(21, 11) / 100.0).as("l_discount"),
        (int(22, 9) / 100.0).as("l_tax"), pick(23, "A", "N", "R").as("l_returnflag"),
        pick(24, "O", "F").as("l_linestatus"), ntz("1995-01-02", int(25, 2498)).as("l_shipdate")))
    val stepMicros = 30L * 86400L * 1000000L / events
    save("events", range(events).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepMicros + int(26, stepMicros))
        .cast("timestamp_ntz").as("ts"),
      int(27, users).as("user_id"), pick(28, "signup", "click", "error", "view", "purchase").as("event_type"),
      round(-log(lit(1.0) - unif(29)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), int(30, 100), lit("}")).as("props")))
    // documents: 0.2% exact copies and 5% near copies (" dup" appended) of an
    // earlier document's text
    val docs = n(50000)
    val words = array(Vocab.map(lit): _*)
    def text(tid: Column): Column = concat_ws(" ", transform(sequence(lit(1), (hashMod(31, tid, 91) + 10).cast("int")),
      i => element_at(words, (hashMod2(32, tid, i, Vocab.size) + 1).cast("int"))))
    val kind = int(33, 1000)
    val tid = when(kind < 52 && col("id") > 0, greatest(lit(0L), col("id") - 1 - int(34, 50))).otherwise(col("id"))
    save("documents", range(docs)
      .select(col("id").as("doc_id"), concat(text(tid), when(kind >= 2 && kind < 52 && col("id") > 0, lit(" dup"))
        .otherwise(lit(""))).as("text"),
        element_at(array(Seq("en", "en", "en", "en", "en", "en", "en", "en", "es", "es", "es", "fr", "fr", "fr",
          "zh", "zh", "zh", "de", "de", "de").map(lit): _*), (int(35, 20) + 1).cast("int")).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val gauss = transform(sequence(lit(0), lit(63)), i =>
      sqrt(lit(-2.0) * log(lit(1.0) - unif2(36, i))) * cos(lit(2 * math.Pi) * unif2(37, i)))
    save("embeddings", range(n(20000)).select(col("id").as("vec_id"), gauss.as("g"), int(38, 10).cast("int").as("label"))
      .select(col("vec_id"), transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0), (a, y) => a + y * y)))
        .cast("float")).as("embedding"), col("label")))

    // the tables are independent small jobs: write them concurrently
    Parallel.map(tables.toSeq) { case (name, df) =>
      val out = new File(dir, s"$name.parquet")
      df.write.parquet(out.getPath)
      Dirs.renameParts(out, "parquet")
    }
  }

  /** Hash-derived value columns over a frame whose row key is `id`. */
  private final class Gen(spark: SparkSession, seed: Long) {
    def range(n: Long): DataFrame = spark.range(0, n, 1, Parallel.Threads).toDF()
    private def h(salt: Int, keys: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: keys): _*)
    def hashMod(salt: Int, key: Column, m: Long): Column = pmod(h(salt, key), lit(m))
    def hashMod2(salt: Int, key: Column, i: Column, m: Long): Column = pmod(h(salt, key, i), lit(m))
    def int(salt: Int, m: Long): Column = hashMod(salt, col("id"), m)
    def unif(salt: Int): Column = pmod(h(salt, col("id")), lit(1L << 53)) / lit((1L << 53).toDouble)
    def unif2(salt: Int, i: Column): Column = pmod(h(salt, col("id"), i), lit(1L << 53)) / lit((1L << 53).toDouble)
    def money(salt: Int, lo: Double, span: Double): Column = round(lit(lo) + unif(salt) * span, 2)
    def pick(salt: Int, values: String*): Column =
      element_at(array(values.map(lit): _*), (int(salt, values.size) + 1).cast("int"))
  }
}
