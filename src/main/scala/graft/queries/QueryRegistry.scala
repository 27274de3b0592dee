package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One per-area query registry: every query by name, and the DuckDB
  * oracle SQL for those that are SQL-expressible. */
trait QueryRegistry {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
