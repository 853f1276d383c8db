package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** One registered query: the frame builder and the DuckDB-equivalent ANSI
  * SQL its result is hash-compared against, on the same parquet tables.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Driver contract (SURVEY.md §7): `entry`, `queries` and `oracleSql`.
  *
  * `queries` and `oracleSql` are two views of one [[registry]], so every
  * query carries oracle SQL and every oracle a query. Column names and row
  * order are made to match the oracle exactly (see [[graft.Tables]]
  * determinism conventions).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every module's query definitions, one module per line. */
  lazy val registry: Seq[QueryDef] = Seq(
    operators.Relational.registry,
    operators.Cleaning.registry,
    operators.Enrichment.registry,
    operators.TextAnalysis.registry,
    operators.Dedup.registry,
    operators.Similarity.registry,
    operators.Events.registry,
    operators.Multimodal.registry,
    operators.Quality.registry,
    operators.Graph.registry,
    operators.Stats.registry,
    operators.AsOf.registry,
    operators.Linkage.registry,
    operators.TypedAgg.registry,
    engine.Skew.registry,
    engine.Pipelines.registry,
    sources.Lake.registry).flatten

  private lazy val byName: Map[String, QueryDef] = index(registry)

  /** Keys `defs` by name; a name defined twice fails, naming it. */
  private[graft] def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"query names defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, d) => n -> d.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    byName.map { case (n, d) => n -> d.oracleSql }
}
