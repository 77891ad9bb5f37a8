package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from packs; each pack covers one slice of the
  * SURVEY §2 inventory (core analytics, DWRF format round-trips, dedup,
  * similarity, text analysis, multimodal).
  */
object SparkEntry {

  private def packs: Seq[QueryPack] = Seq(
    CoreQueries,
    AdvancedQueries,
    FormatQueries,
    TextQueries,
    DedupQueries,
    SimilarityQueries,
    MultimodalQueries,
    StreamingQueries,
  )

  lazy val allQueries: Seq[Q] = {
    val qs = packs.flatMap(_.all)
    require(qs.map(_.name).distinct.size == qs.size, "duplicate query names")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** Each query's audit ([[graft.queries.Q]]), run after the query on
    * the same (session, sfDir); it throws when a checked claim fails. */
  def audits: Map[String, (SparkSession, String) => Unit] =
    allQueries.map(q => q.name -> q.audit).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
