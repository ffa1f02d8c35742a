package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic scale-up of a testdata directory: replicate every fact
 * table `copies`× with key-shifted, content-perturbed copies, preserving
 * the star-schema FK structure (customer/orders/lineitem/part/supplier
 * shifts are consistent) and the per-copy distribution of every column.
 *
 * `ScaleGen <srcDir> <dstDir> [copies=10]` — sf0.1 × 10 ≈ sf1
 * (6M lineitem). Copy 0 is the identity, so the scaled directory is a
 * superset of the source.
 *
 * Perturbation policy (what makes the scaled data an HONEST scale test
 * rather than a 10× duplicate pile):
 *  - documents: every token gets a per-copy suffix, so copies share no
 *    shingles — near-dup structure per copy equals the source's, and
 *    dedup outputs scale exactly linearly instead of every doc acquiring
 *    9 artificial twins;
 *  - embeddings: small per-copy offset on every dimension — copies are
 *    distinct vectors, not cosine-1.0 duplicates that would quadratically
 *    inflate LSH bucket pair counts;
 *  - events: users shift per copy (10× users, same per-user session
 *    structure), timestamps keep the source range (10× denser stream —
 *    what a bigger corpus over the same wall-clock window looks like);
 *  - dims (region, nation) stay fixed, like TPC-H at any SF.
 *
 * Output is written as MULTIPLE parquet files per table (repartition) so
 * downstream scans get real split parallelism.
 */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "data/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10

    val spark = LocalSpark.session()
    generate(spark, src, dst, copies)
    spark.stop()
  }

  /** The generator itself, callable on any session (specs scale a tiny
   *  SF and assert FK integrity / disjointness invariants on the output). */
  def generate(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // dimension tables: copied verbatim (fixed at any scale factor)
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // key spaces are dense 0-based, so copy c shifts key k by c * |table|
    def count(t: String): Long = spark.read.parquet(s"$src/$t.parquet").count()
    val nCust = count("customer"); val nOrd = count("orders")
    val nPart = count("part"); val nSupp = count("supplier")
    val nEvt = count("events"); val nUsers =
      spark.read.parquet(s"$src/events.parquet").select("user_id").distinct().count()
    val nDoc = count("documents"); val nVec = count("embeddings")

    // Copy-shifting by c·base keeps copies disjoint (and FKs aimed at the
    // right copy) ONLY when the key occupies a dense span no wider than
    // the base — real TPC-H o_orderkey spans ~4× the row count and would
    // silently collide. Fail loudly on any sparse key space.
    Seq(("customer", "c_custkey", nCust), ("supplier", "s_suppkey", nSupp),
        ("part", "p_partkey", nPart), ("orders", "o_orderkey", nOrd),
        ("orders", "o_custkey", nCust), ("lineitem", "l_orderkey", nOrd),
        ("lineitem", "l_partkey", nPart), ("lineitem", "l_suppkey", nSupp),
        ("events", "event_id", nEvt), ("events", "user_id", nUsers),
        ("documents", "doc_id", nDoc), ("embeddings", "vec_id", nVec))
      .foreach { case (t, c, base) =>
        assertDenseKey(spark.read.parquet(s"$src/$t.parquet"), c, base, t) }

    def scale(table: String, files: Int)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val out = (0 until copies).map(c => shift(base, c)).reduce(_ unionAll _)
      out.repartition(files).write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"scaled $table x$copies -> $dst/$table.parquet ($files files)")
    }

    scale("customer", 8)((df, c) =>
      df.withColumn("c_custkey", col("c_custkey") + c * nCust))
    scale("supplier", 4)((df, c) =>
      df.withColumn("s_suppkey", col("s_suppkey") + c * nSupp))
    scale("part", 8)((df, c) =>
      df.withColumn("p_partkey", col("p_partkey") + c * nPart))
    scale("orders", 16)((df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + c * nOrd)
        .withColumn("o_custkey", col("o_custkey") + c * nCust))
    scale("lineitem", 32)((df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + c * nOrd)
        .withColumn("l_partkey", col("l_partkey") + c * nPart)
        .withColumn("l_suppkey", col("l_suppkey") + c * nSupp))
    scale("events", 16)((df, c) =>
      df.withColumn("event_id", col("event_id") + c * nEvt)
        .withColumn("user_id", col("user_id") + c * nUsers))
    scale("documents", 8)((df, c) => {
      val shifted = df.withColumn("doc_id", col("doc_id") + c * nDoc)
      if (c == 0) shifted
      else {
        // per-copy token suffix: copies share no word shingles
        val t = regexp_replace(col("text"), "(\\S+)", s"$$1x$c")
        shifted.withColumn("text", t).withColumn("n_chars", length(t).cast("long"))
      }
    })
    scale("embeddings", 8)((df, c) =>
      df.withColumn("vec_id", col("vec_id") + c * nVec)
        .withColumn("embedding",
          if (c == 0) col("embedding")
          else transform(col("embedding"), x => x + lit((c * 1e-3).toFloat))))
  }

  /** Shift-by-c·base is collision-free iff the key span (max−min+1) fits
   *  inside the base. Checked per shifted column before generating. */
  private[graft] def assertDenseKey(df: DataFrame, column: String, base: Long, table: String): Unit = {
    val r = df.agg(min(col(column)).cast("long"), max(col(column)).cast("long")).head()
    if (!r.isNullAt(0)) {
      val span = r.getLong(1) - r.getLong(0) + 1
      require(span <= base,
        s"$table.$column spans $span values but the shift base is $base: " +
          "copy-shifting a sparse key space would silently collide")
    }
  }
}
