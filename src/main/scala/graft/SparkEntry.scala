package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by per-area registries under [[graft.queries]];
  * every entry has a same-column-names DuckDB oracle in [[oracleSql]]
  * unless the op is not SQL-expressible (driver then does a rows-only
  * check).
  */
object SparkEntry {

  private val registries: Seq[_root_.graft.queries.QueryRegistry] = {
    import _root_.graft.queries._
    Seq(CoreQueries, RelQueries, StatQueries, PipelineQueries,
      CurationQueries, StreamQueries, MiscQueries, AnalyticsQueries,
      MlQueries, MiningQueries, RetrievalQueries, FunnelQueries,
      EvalQueries, ScoreQueries, TrainQueries, MetricQueries,
      AuditQueries)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_tpch1")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registries.map(_.oracleSql).reduce(_ ++ _)
}
