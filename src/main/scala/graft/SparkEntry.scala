package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Registry.oracleSql

  /** Build registered query `name` over `dir`, hand it to `use`, then run
    * the per-query release contract whether `use` returns or throws: the
    * Naive-Bayes feature cache first, then every intermediate operators
    * tracked in [[QueryCaches]]. Every main that runs registry queries goes
    * through here, so each query pays its own cache population and leaves
    * nothing behind: lingering query-local caches made later queries'
    * numbers depend on run order and storage pressure (BASELINE.md
    * "r15: bench run hygiene"). */
  def run[A](spark: SparkSession, name: String, dir: String)(
      use: DataFrame => A): A =
    try use(queries(name)(spark, dir))
    finally {
      graft.analytics.Corpus.releaseNbFeatureCache()
      QueryCaches.release()
    }
}

/** Central registry of (query, oracle) pairs. Each operator module
  * contributes its own entries; this object just concatenates them. */
object Registry {
  private def modules: Seq[QueryModule] = Seq(
    graft.operators.RelationalQueries,
    graft.operators.EventAnalytics,
    graft.operators.ReadQueries,
    graft.operators.RetentionQueries,
    graft.operators.RedactionQueries,
    graft.operators.SystemProjectionQueries,
    graft.projections.ProjectionQueries,
    graft.projections.js.JsProjectionQueries,
    graft.analytics.AnalyticsQueries,
    graft.analytics.CorpusQueries,
    graft.analytics.MultimodalQueries
  )
  /** All contributed names BEFORE map-dedup — lets tests detect silent
    * cross-module name collisions. */
  lazy val contributedQueryNames: Seq[String] = modules.flatMap(_.queries).map(_._1)
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap
  lazy val oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}

/** A module contributing named queries + DuckDB oracle SQL. */
trait QueryModule {
  def queries: Seq[(String, (SparkSession, String) => DataFrame)]
  def oracles: Seq[(String, String)]
}
