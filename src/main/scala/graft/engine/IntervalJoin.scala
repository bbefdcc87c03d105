package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scalable point-in-interval join (the "range join" Spark's optimizer
 * cannot plan as anything better than BroadcastNestedLoopJoin when the
 * predicate is `lo <= p AND p <= hi`).
 *
 * Encoding: pick a bucket width W in the same units as the bounds. Each
 * interval is announced once per W-aligned bucket it overlaps
 * (`ceil(len/W)+1` copies — bounded fanout when W is chosen near the
 * typical interval length); each point belongs to exactly ONE bucket.
 * The range join then becomes an equi-join on the bucket id with the
 * exact range test in the join condition — and because a point has a
 * single bucket, every qualifying (interval, point) pair is produced
 * EXACTLY once, no dedup pass. This is the public "bin the ranges"
 * technique used by interval-join implementations in stream processors
 * and warehouse engines; at 100 TB both sides shuffle once on the bucket key and the
 * quadratic nested-loop term never appears (per-bucket work is
 * |intervals in bucket| × |points in bucket|, bounded by time locality).
 */
object IntervalJoin {

  /**
   * A left join of intervals to points: every (interval row ++ point
   * row) combination where `points(ptCol)` lies in
   * `[intervals(loCol), intervals(hiCol)]`, and every interval kept.
   * Bounds and points are integers (e.g. epoch micros). The two inputs
   * must have disjoint column names; `__`-prefixed names are reserved.
   * Empty intervals (hi < lo) match nothing.
   *
   * The range test sits in the outer join's condition, so each of an
   * interval's bucket copies without a point in range adds one row
   * whose point columns are NULL (an empty interval has one such copy).
   * An interval can thus carry several NULL rows: group by the interval
   * and count a point column, never rows; `ptCol IS NOT NULL` keeps
   * exactly the matched pairs.
   */
  def pointsInIntervals(intervals: DataFrame, points: DataFrame,
      loCol: String, hiCol: String, ptCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val overlap = intervals.columns.toSet intersect points.columns.toSet
    require(overlap.isEmpty,
      s"interval/point column names must be disjoint, both have: ${overlap.mkString(", ")}")
    require(!(intervals.columns ++ points.columns).exists(_.startsWith("__")),
      "__-prefixed columns are reserved by pointsInIntervals")
    // `div` keeps the bucket id computation in exact integer arithmetic
    // (a double division could round at bucket boundaries). The hi >= lo
    // guard matters twice: sequence() COUNTS DOWN on inverted bounds, so
    // an empty interval would announce (lo-hi)/W descending buckets —
    // for a wildly inverted row (lo=1e12, hi=0) that is millions of
    // phantom copies all failing the exact test; the guard emits an
    // empty bucket array instead, which `explode_outer` turns into the
    // interval's one unmatched row ("match nothing", at zero cost).
    val iv = intervals.withColumn("__bkt",
      explode_outer(expr(s"CASE WHEN `$hiCol` >= `$loCol` THEN " +
        s"sequence(`$loCol` div ${bucketWidth}L, `$hiCol` div ${bucketWidth}L) " +
        "ELSE CAST(array() AS ARRAY<BIGINT>) END")))
    val pt = points.withColumn("__pbkt", expr(s"`$ptCol` div ${bucketWidth}L"))
    iv.join(pt, col("__bkt") === col("__pbkt") &&
        col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol), "left")
      .drop("__bkt", "__pbkt")
  }
}
