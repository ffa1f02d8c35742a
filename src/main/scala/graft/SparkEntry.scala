package graft

import graft.Tables.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * `queries` is the full operator inventory; each entry with an `oracleSql`
 * twin is hash-checked against DuckDB on the same parquet tables, the rest
 * get rows-only checks (non-SQL-expressible ops: schema-DDL strings,
 * MinHash/SimHash signatures, ANN rankings, …). */
object SparkEntry {

  /** Every query module with its catalog label (README §5, [[Catalog]]). */
  lazy val modules: Vector[(String, Vector[QueryDef])] = Vector(
    "Relational 1" -> graft.operators.RelationalQueries.defs,
    "Relational 2" -> graft.operators.RelationalQueries2.defs,
    "As-of & sketch" -> graft.operators.AsofAndSketch.defs,
    "Joins & set ops" -> graft.operators.JoinsAndSetOps.defs,
    "Sessions & skew" -> graft.operators.SessionAndSkew.defs,
    "Sweep & skyline" -> graft.operators.SweepSkyline.defs,
    "Graph" -> graft.operators.GraphOps.defs,
    "Sinks" -> graft.sources.Sinks.defs,
    "Schema inference" -> graft.operators.SchemerQueries.defs,
    "Text analysis" -> graft.operators.TextQueries.defs,
    "Curation pipeline" -> graft.operators.CurationPipeline.defs,
    "Training ops" -> graft.operators.TrainingOps.defs,
    "Deduplication" -> graft.dedup.Dedup.defs,
    "Similarity search" -> graft.similarity.Ann.defs,
    "Multimodal" -> graft.multimodal.Media.defs,
    "Streaming" -> graft.streaming.EventStreams.defs)

  /** All query modules, concatenated. Names must stay unique. */
  private lazy val allDefs: Vector[QueryDef] = modules.flatMap(_._2)

  /** Flagship: the schema-inference engine end-to-end on sf0.001 — the
   *  unified Hive DDL of the events.props JSON column as a 1-row frame. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val props = Tables.events(spark, dir).select("props").as[String]
    val witness = graft.schemer.InferSchema.inferWitness(props)
    val ddl = graft.schemer.HiveRender.table(witness, "events_props", s"$dir/events.parquet")
    Seq(ddl).toDF("ddl")
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case QueryDef(n, _, Some(sql)) => n -> sql.trim }.toMap
}
