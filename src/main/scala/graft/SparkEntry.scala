package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see SURVEY.md §7.
  *
  * Each module under graft.operators contributes a map of named queries
  * (one per capability row of SURVEY.md §2) plus, where ANSI-SQL
  * expressible, a DuckDB oracle query producing identical columns/values.
  *
  * Cache contract: the intermediates a query persists for the DataFrame
  * it returns to read lazily (pipeline_curate_ppl's scores, the graph
  * queries' edges) live until the runner's `clearCache()`, which Bench,
  * Verify, DiagJobs and the benchmark harness call after every query.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    QueryModule(Relational.queries, Relational.oracle),
    QueryModule(Aggregates.queries, Aggregates.oracle),
    QueryModule(Windows.queries, Windows.oracle),
    QueryModule(Functions.queries, Functions.oracle),
    QueryModule(Dedup.queries, Dedup.oracle),
    QueryModule(Curation.queries, Curation.oracle),
    QueryModule(Similarity.queries, Similarity.oracle),
    QueryModule(Clustering.queries, Clustering.oracle),
    QueryModule(TextAnalysis.queries, TextAnalysis.oracle),
    QueryModule(Events.queries, Events.oracle),
    QueryModule(AsOfJoin.queries, AsOfJoin.oracle),
    QueryModule(RangeJoin.queries, RangeJoin.oracle),
    QueryModule(Multimodal.queries, Multimodal.oracle),
    QueryModule(MatchPath.queries, MatchPath.oracle),
    QueryModule(Graph.queries, Graph.oracle),
    QueryModule(Profiling.queries, Profiling.oracle),
    QueryModule(Statistics.queries, Statistics.oracle),
    QueryModule(graft.sources.HiveBucketedIO.queries,
      graft.sources.HiveBucketedIO.oracle),
    QueryModule(graft.sources.RCFileIO.queries,
      graft.sources.RCFileIO.oracle),
    QueryModule(Compactor.queries, Compactor.oracle),
    QueryModule(graft.sources.SymlinkTextIO.queries,
      graft.sources.SymlinkTextIO.oracle),
    QueryModule(graft.sources.SchemaEvolutionIO.queries,
      graft.sources.SchemaEvolutionIO.oracle),
    QueryModule(graft.sources.ExportImport.queries,
      graft.sources.ExportImport.oracle),
    QueryModule(graft.sources.LoadData.queries,
      graft.sources.LoadData.oracle),
    QueryModule(graft.tools.GraftCli.queries, graft.tools.GraftCli.oracle)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    unique(modules.flatMap(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = unique(modules.flatMap(_.oracle))

  // a name two modules define would keep only one of them
  private[graft] def unique[V](entries: Seq[(String, V)]): Map[String, V] = {
    val twice = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty, s"defined by two modules: ${twice.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }
}

/** A bundle of harness queries + their DuckDB oracles. */
final case class QueryModule(
    queries: Map[String, (SparkSession, String) => DataFrame],
    oracle: Map[String, String])

object QueryModule {
  /** The queries Spark and the DuckDB oracle run as the same statement,
    * each declared once as name -> statement. Spark runs it with `run`
    * (by default the standard `Tables.sql`); its oracle is the statement
    * itself, or `oracleOf` it where DuckDB first derives, in CTEs, the
    * relations that `run` registers as views. Only comments may tell the
    * two texts apart: a Spark hint is a block comment to DuckDB. */
  def shared(statements: Map[String, String],
             run: String => (SparkSession, String) => DataFrame = Tables.sql,
             oracleOf: String => String = identity): QueryModule =
    QueryModule(statements.map { case (n, s) => n -> run(s) },
      statements.map { case (n, s) => n -> oracleOf(s) })
}
