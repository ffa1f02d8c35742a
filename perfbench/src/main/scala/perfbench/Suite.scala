package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.Tables.QueryDef

object Suite {
  /** Scale factor of the generated suite corpus. */
  val SuiteSf = 0.01

  /** The 16 query modules, in `SparkEntry`'s order. */
  val Modules: Seq[(String, Vector[QueryDef])] = Seq(
    "RelationalQueries" -> graft.operators.RelationalQueries.defs,
    "RelationalQueries2" -> graft.operators.RelationalQueries2.defs,
    "AsofAndSketch" -> graft.operators.AsofAndSketch.defs,
    "JoinsAndSetOps" -> graft.operators.JoinsAndSetOps.defs,
    "SessionAndSkew" -> graft.operators.SessionAndSkew.defs,
    "SweepSkyline" -> graft.operators.SweepSkyline.defs,
    "GraphOps" -> graft.operators.GraphOps.defs,
    "Sinks" -> graft.sources.Sinks.defs,
    "SchemerQueries" -> graft.operators.SchemerQueries.defs,
    "TextQueries" -> graft.operators.TextQueries.defs,
    "CurationPipeline" -> graft.operators.CurationPipeline.defs,
    "TrainingOps" -> graft.operators.TrainingOps.defs,
    "Dedup" -> graft.dedup.Dedup.defs,
    "Ann" -> graft.similarity.Ann.defs,
    "Media" -> graft.multimodal.Media.defs,
    "EventStreams" -> graft.streaming.EventStreams.defs)

  lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap

  /** The sampled queries, one per module for fifteen of the sixteen modules,
   *  in name order (see NOTES.md for how they were chosen, and why
   *  EventStreams has none). */
  val SuiteQueries: Seq[String] = Seq(
    "q3_shipping_priority", "q16_pivot", "q70_asof_nearest", "q34_range_join", "q97_event_paths",
    "q77_streaks", "graph_common_neighbors", "sink_csv_roundtrip", "schema_props_columns",
    "text_boilerplate", "pipeline_stratified_sample", "q59_transitions", "dedup_fingerprint",
    "embed_quantize", "media_edge_density").sorted

  /** The modules the suite measures, in `SparkEntry`'s order. */
  lazy val MeasuredModules: Seq[String] =
    Modules.map(_._1).filter(m => SuiteQueries.exists(moduleOf(_) == m))

  /** Expected output per query: row count, and the row digest unless the
   *  query's digest did not repeat across two recordings (`None`). */
  final case class Expected(rows: Long, hash: Option[Long])

  def readExpected(file: File): Map[String, Expected] =
    if (!file.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(file, "UTF-8")
      try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
        val Array(q, rows, hash) = l.split("\t")
        q -> Expected(rows.toLong, if (hash == "-") None else Some(hash.toLong))
      }.toMap
      finally src.close()
    }
}

/** A list of `SparkEntry.queries`, run once per pass in the listed order over
 *  a generated corpus, in one session whose corpus artifacts (memos) persist
 *  across queries and passes. Each timed call builds the frame, plans it and
 *  collects every row, so no column is pruned away. */
final class QuerySuite(spark: SparkSession, val name: String, queries: Seq[String], sf: Double,
    expectedDir: Option[File]) extends Workload {
  private var dir = ""
  private var bytes = 0L
  private val fns = SparkEntry.queries
  /** None while recording expectations. */
  private val expected = expectedDir.map(d => Suite.readExpected(new File(d, s"$name.tsv")))

  def setup(root: File): Unit = {
    val corpus = new File(root, "corpus")
    StarCorpus.write(spark, corpus, Workloads.SuiteSeed, sf)
    dir = corpus.getPath
    bytes = Dirs.size(corpus)
  }

  def inputMb: Double = bytes / 1e6

  /** The first pass builds every corpus artifact; the second and third still
   *  run 10–40% slower than the steady passes after them (JIT and code
   *  generation). */
  override def warmPasses = 3
  override def minPasses = 1

  def ops: Seq[Op] = queries.map { q =>
    val fn = fns.getOrElse(q, throw new IllegalArgumentException(s"no query $q"))
    Op(q, Suite.moduleOf(q), t => {
      val df = t.span("query.build")(fn(spark, dir))
      val plan = t.span("spark.plan")(df.queryExecution.executedPlan)
      (t.span("query.exec")(plan.executeCollect()), plan.schema)
    }, out => {
      val (rows, schema) = out.asInstanceOf[(Array[InternalRow], StructType)]
      val got = Rows.of(rows, schema)
      expected.map(_.get(q)) match {
        case None => None
        case Some(None) => Some("no recorded expectation")
        case Some(Some(e)) if e.rows != got.count => Some(s"${got.count} rows, expected ${e.rows}")
        case Some(Some(Suite.Expected(_, Some(h)))) if h != got.hash => Some(s"row digest ${got.hash}, expected $h")
        case _ => None
      }
    }, out => {
      val (rows, schema) = out.asInstanceOf[(Array[InternalRow], StructType)]
      val d = Rows.of(rows, schema)
      s"${d.count}\t${d.hash}"
    })
  }

  override def afterOp(op: Op): Unit = {
    spark.catalog.clearCache()
    if (op.name.startsWith("sink_")) graft.sources.Sinks.cleanup(spark)
  }
}
