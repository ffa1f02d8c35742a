package graft

import org.apache.spark.sql.functions._

/**
 * Deterministic nested-NDJSON corpus for `graft.InferBench`, written as
 * MULTIPLE text files so the schema-fold's parallelism is split-bound by
 * design, not by accident: the earlier single-file 273 MB corpus yielded
 * ~3 default splits and capped local[32] at ~5× local[1]. 32+ files give
 * every core its own streaming fold, which is the actual cluster shape
 * (a 100 TB corpus has ~800k splits).
 *
 * `InferCorpusGen [rows=2000000] [files=32] [out=data/infer_corpus]` —
 * all content derives from `id`, so the corpus (and the inferred schema:
 * INT/VARCHAR(n)/DOUBLE-ish/BOOLEAN/ARRAY/STRUCT + a sometimes-missing
 * nullable field) is bit-reproducible.
 */
object InferCorpusGen {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 2000000L
    val files = if (args.length > 1) args(1).toInt else 32
    val out = if (args.length > 2) args(2) else "data/infer_corpus"
    val spark = LocalSpark.session()
    spark.range(rows).select(to_json(struct(
        col("id"),
        concat(lit("user_"), col("id") % 10000).as("name"),
        (col("id") % 1000 / lit(10.0)).as("score"),
        (col("id") % 2 === 0).as("active"),
        // to_json drops null fields -> a sometimes-missing key, the
        // witness lattice's null/missing merge path
        when(col("id") % 7 =!= 0, concat(lit("note"), col("id") % 50)).as("note"),
        array(concat(lit("t"), col("id") % 13), concat(lit("t"), col("id") % 29)).as("tags"),
        struct((col("id") % 97).as("x"), concat(lit("c"), col("id") % 11).as("city")).as("geo")))
      .as("value"))
      .repartition(files)
      .write.mode("overwrite").text(out)
    println(s"wrote $rows NDJSON rows as $files files to $out")
    spark.stop()
  }
}
