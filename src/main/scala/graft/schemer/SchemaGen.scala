package graft.schemer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/**
 * Public API + CLI — the rebuild of the reference's entry points
 * (`/root/reference/Generator.scala:3-11`, `Schemer.scala:99-117`).
 *
 * EP1/EP2 (full script), EP3 (schema-only), plus the minimum public algebra
 * the reference exposes: `merge`, `renderType`, `columnDefs`, `hiveScript`
 * (SURVEY.md §3).
 */
object SchemaGen {

  /** EP2: full Hive script for an NDJSON file — `new Schemer(file).table(name)`. */
  def hiveScript(spark: SparkSession, path: String, table: String = "data"): String =
    HiveRender.table(InferSchema.inferPath(spark, path), table, path)

  /** Same over an in-memory dataset of NDJSON lines. `file` only appears in
   *  the generated LOAD DATA statement. */
  def hiveScript(ds: Dataset[String], table: String, file: String): String =
    HiveRender.table(InferSchema.inferWitness(ds), table, file)

  /** EP3: column-definition block only — `new Schemer(file).definition(i)`. */
  def columnDefs(spark: SparkSession, path: String, indent: Int = 0): String =
    HiveRender.definition(InferSchema.inferPath(spark, path), indent)

  /** The inferred witness itself, for programmatic use. */
  def witness(spark: SparkSession, path: String): Witness =
    InferSchema.inferPath(spark, path)

  /** Spark-native bonus: infer and immediately read the data as a typed
   *  DataFrame using the witness-derived schema. */
  def readJsonWithInferredSchema(spark: SparkSession, path: String): DataFrame = {
    val schema = HiveRender.toSparkSchema(InferSchema.inferPath(spark, path))
    spark.read.schema(schema).json(path)
  }

  /** CLI parity: `run file.json [table_name]` → script on stdout
   *  (Generator.scala:4-11). */
  def main(args: Array[String]): Unit = {
    args match {
      case Array(_) | Array(_, _) =>
        val spark = graft.LocalSpark.session(master = sys.env.get("SPARK_MASTER"))
        try println(hiveScript(spark, args(0), if (args.length > 1) args(1) else "data"))
        finally spark.stop()
      case _ =>
        println("USAGE: SchemaGen sample.json [table_name]")
    }
  }
}
