package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.EventQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline pipeline shape (BASELINE.md):
    * source → filter → map → running sum → last. */
  def entry(spark: SparkSession): DataFrame =
    EventQueries.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Results are unordered sets. Emission order is data: it lives in
    * the `seq`, key and `out_seq` columns, so a caller who wants rows
    * in order sorts on them at the sink. Only a top-n query sorts, under
    * its limit. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EventQueries.queries ++ graft.queries.CombineQueries.queries ++
      graft.queries.NorthStarQueries.queries ++ graft.queries.RelationalQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    EventQueries.oracle ++ graft.queries.CombineQueries.oracle ++
      graft.queries.NorthStarQueries.oracle ++ graft.queries.RelationalQueries.oracle
}
