package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, BehaviorQueries, CorpusQueries, ExtendedQueries, GraphQueries, IngestQueries, PipelineQueries, RelationalQueries, SketchQueries, SubqueryQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * `queries` is the union of every operator suite's entries; `oracleSql`
  * carries the DuckDB-equivalent SQL for each hash-checked query.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q5LocalSupplierVolume(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.all ++ PipelineQueries.all ++ ExtendedQueries.all ++
      SubqueryQueries.all ++ SketchQueries.all ++ AnalyticsQueries.all ++
      CorpusQueries.all ++ IngestQueries.all ++ BehaviorQueries.all ++
      GraphQueries.all

  /** The named queries in the order given (each once), or every query
    * when `names` is empty; an unknown name fails before any query is
    * built. */
  def select(names: Seq[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) all.toSeq else names.distinct.map(n => n -> all(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ PipelineQueries.oracles ++
      ExtendedQueries.oracles ++ SubqueryQueries.oracles ++
      SketchQueries.oracles ++ AnalyticsQueries.oracles ++
      CorpusQueries.oracles ++ IngestQueries.oracles ++
      BehaviorQueries.oracles ++ GraphQueries.oracles
}
