package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Single-pass column profiler — the data-quality gate a pipeline runs
 * before trusting a new drop of input (the Deequ/Great-Expectations
 * shape, re-expressed as one Spark aggregation): per column, row count,
 * null count, exact distinct count, min and max.
 *
 * Scale shape: ONE aggregation over the table produces every column's
 * metrics (the per-column metric structs are exploded afterwards — rows
 * move once, metrics row count is ncols, never data-sized). The exact
 * multi-column COUNT(DISTINCT) goes through Spark's Expand — one pass,
 * data multiplied by ncols pre-shuffle but map-side partially
 * aggregated; for very wide tables swap in approx_count_distinct and
 * re-verify the oracle tolerance.
 *
 * Values are normalized to DOUBLE (exact for longs below 2^53 and for
 * parquet doubles read by both engines), so one profile row type covers
 * every numeric column and the result stays hash-exact vs the oracle.
 */
object Profiler {

  /** Profile the given numeric columns: one output row per column —
    * (col_name, n_rows, n_null, ndv, min_v, max_v), keyed by
    * col_name. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: cols.flatMap { c =>
      val d = col(c).cast("double")
      Seq(
        count(d).as(s"__cnt_$c"),
        countDistinct(d).as(s"__ndv_$c"),
        min(d).as(s"__min_$c"),
        max(d).as(s"__max_$c"))
    }
    val metricRows = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__cnt_$c")).as("n_null"),
        col(s"__ndv_$c").as("ndv"),
        col(s"__min_$c").as("min_v"),
        col(s"__max_$c").as("max_v"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(metricRows: _*)).as("m"))
      .select(col("m.*"))
  }

  /** Profile the given STRING columns — the other half of the quality
    * gate: per column, row count, null count, empty-string count, exact
    * distinct count, lexicographic min/max, total and max length. Same
    * one-aggregation scale shape as [[profile]]; all metrics are exact
    * BIGINTs or strings, hash-exact vs the oracle. */
  def profileStrings(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: cols.flatMap { c =>
      val s = col(c).cast("string")
      Seq(
        count(s).as(s"__cnt_$c"),
        sum(when(s === "", 1L).otherwise(0L)).as(s"__emp_$c"),
        countDistinct(s).as(s"__ndv_$c"),
        min(s).as(s"__min_$c"),
        max(s).as(s"__max_$c"),
        sum(coalesce(length(s).cast("long"), lit(0L))).as(s"__len_$c"),
        max(coalesce(length(s).cast("long"), lit(0L))).as(s"__maxlen_$c"))
    }
    val metricRows = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__cnt_$c")).as("n_null"),
        coalesce(col(s"__emp_$c"), lit(0L)).as("n_empty"),
        col(s"__ndv_$c").as("ndv"),
        col(s"__min_$c").as("min_v"),
        col(s"__max_$c").as("max_v"),
        coalesce(col(s"__len_$c"), lit(0L)).as("sum_len"),
        coalesce(col(s"__maxlen_$c"), lit(0L)).as("max_len"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(metricRows: _*)).as("m"))
      .select(col("m.*"))
  }
}
