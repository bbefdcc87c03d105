package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/**
 * Custom sequential-scan aggregates the built-in function library lacks.
 *
 * All of these are used as WINDOW functions over a running frame
 * (unboundedPreceding..currentRow). Spark's WindowExec feeds rows to the
 * aggregate buffer in frame order and re-evaluates incrementally for
 * expanding frames, so each is an O(n) per-key scan — the exact Spark
 * analogue of the reference's per-event mutable state
 * (`/root/reference/eventkit/ops/aggregate.py`).
 *
 * `merge` is required by the Aggregator contract but never called in
 * window evaluation (no partial aggregation across a sorted frame); the
 * scans are order-sensitive by design, matching the reference.
 */
object Aggregators {

  /** EMA state: (current value, primed?). First row passes through raw
    * (`ops/aggregate.py:95-111`: prev==NO_VALUE → value = args). */
  case class EmaBuf(v: Double, primed: Boolean)

  class EmaAgg(alpha: Double) extends Aggregator[Double, EmaBuf, Double] {
    private val f1 = alpha
    private val f2 = 1.0 - alpha
    def zero: EmaBuf = EmaBuf(0.0, primed = false)
    def reduce(b: EmaBuf, x: Double): EmaBuf =
      if (!b.primed) EmaBuf(x, primed = true)
      else EmaBuf(b.v * f2 + x * f1, primed = true)
    def merge(a: EmaBuf, b: EmaBuf): EmaBuf =
      throw new UnsupportedOperationException("order-sensitive scan")
    def finish(b: EmaBuf): Double = b.v
    def bufferEncoder: Encoder[EmaBuf] = Encoders.product[EmaBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** `ema(col, n).over(wRun)` — weight 2/(n+1) like the reference. */
  def ema(c: Column, weight: Double): Column = udaf(new EmaAgg(weight)).apply(c)

  /**
   * Element-wise EMA over multi-arg tuples (`ops/aggregate.py:104-108`):
   * the reference zips the previous tuple with the incoming one and
   * folds each position independently. Tuples map to arrays here; like
   * Python's `zip`, a length mismatch truncates to the shorter side.
   */
  case class EmaVecBuf(v: Seq[Double], primed: Boolean)
  class EmaVecAgg(alpha: Double) extends Aggregator[Seq[Double], EmaVecBuf, Seq[Double]] {
    private val f1 = alpha
    private val f2 = 1.0 - alpha
    def zero: EmaVecBuf = EmaVecBuf(Vector.empty, primed = false)
    def reduce(b: EmaVecBuf, x: Seq[Double]): EmaVecBuf =
      if (!b.primed) EmaVecBuf(x, primed = true)
      else EmaVecBuf(b.v.zip(x).map { case (p, a) => p * f2 + a * f1 }, primed = true)
    def merge(a: EmaVecBuf, b: EmaVecBuf): EmaVecBuf =
      throw new UnsupportedOperationException("order-sensitive scan")
    def finish(b: EmaVecBuf): Seq[Double] = b.v
    def bufferEncoder: Encoder[EmaVecBuf] = Encoders.product[EmaVecBuf]
    def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }
  def emaVec(c: Column, weight: Double): Column = udaf(new EmaVecAgg(weight)).apply(c)

  /**
   * Generic user-lambda running fold — the first-class `reduceScan`
   * surface for the reference's `Reduce(func, initializer)`
   * (`ops/aggregate.py:18-36`): any Scala `(T, T) => T` becomes a
   * window-scan Column, no Aggregator subclass needed.
   *
   * Reference semantics preserved exactly, including the
   * NO-INITIALIZER off-by-one (`ops/aggregate.py:29-31`): without an
   * initializer the first element only SEEDS the state and emits
   * nothing — so over a running frame, row 1's fold value is the raw
   * first element and the caller drops row 1 from the emitted stream
   * (see `EventStream.reduceScan`). With an initializer, row 1 emits
   * `f(init, x1)` and every row emits.
   *
   * Buffer is a 0/1-element Seq so the unseeded state needs no
   * sentinel value of T (nothing is assumed about T beyond an encoder).
   */
  class ReduceScanAgg[T](f: (T, T) => T, init: Option[T])(
      implicit bufEnc: Encoder[Seq[T]])
      extends Aggregator[T, Seq[T], Seq[T]] {
    def zero: Seq[T] = Nil
    def reduce(b: Seq[T], x: T): Seq[T] = b match {
      case Seq()  => Seq(init.map(i => f(i, x)).getOrElse(x))
      case Seq(a) => Seq(f(a, x))
      case _      => throw new IllegalStateException("scan buffer > 1")
    }
    def merge(a: Seq[T], b: Seq[T]): Seq[T] =
      throw new UnsupportedOperationException("order-sensitive scan")
    def finish(b: Seq[T]): Seq[T] = b
    def bufferEncoder: Encoder[Seq[T]] = bufEnc
    def outputEncoder: Encoder[Seq[T]] = bufEnc
  }

  /** `reduceScan(f)(col, wRun)` — running `f`-fold of `col` over the
    * given (running) frame; see [[ReduceScanAgg]] for the emission
    * contract. The window binds to the UDAF itself (its buffer is the
    * 0/1-element array); the scalar extraction sits outside it. */
  def reduceScan[T](f: (T, T) => T, init: Option[T] = None)(
      c: Column, over: org.apache.spark.sql.expressions.WindowSpec)(
      implicit tt: scala.reflect.runtime.universe.TypeTag[T]): Column = {
    implicit val bufEnc: Encoder[Seq[T]] = ExpressionEncoder()
    org.apache.spark.sql.functions.element_at(
      udaf(new ReduceScanAgg[T](f, init)).apply(c).over(over), 1)
  }

  /** Generic Reduce (`ops/aggregate.py:18-36`) demo instance: running
    * string fold `acc || x` (initializer = ""). */
  class ConcatAgg extends Aggregator[String, String, String] {
    def zero: String = ""
    def reduce(b: String, x: String): String = b + x
    def merge(a: String, b: String): String = a + b
    def finish(b: String): String = b
    def bufferEncoder: Encoder[String] = Encoders.STRING
    def outputEncoder: Encoder[String] = Encoders.STRING
  }
  def runningConcat(c: Column): Column = udaf(new ConcatAgg).apply(c)

  /** Running product (`ops/aggregate.py:60-64`) — exact left fold, no
    * log-sum trick (handles zeros/negatives). */
  case class ProdBuf(v: Double)
  class ProductAgg(start: Double) extends Aggregator[Double, ProdBuf, Double] {
    def zero: ProdBuf = ProdBuf(start)
    def reduce(b: ProdBuf, x: Double): ProdBuf = ProdBuf(b.v * x)
    def merge(a: ProdBuf, b: ProdBuf): ProdBuf = ProdBuf(a.v * b.v)
    def finish(b: ProdBuf): Double = b.v
    def bufferEncoder: Encoder[ProdBuf] = Encoders.product[ProdBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
  def runningProduct(c: Column, start: Double = 1.0): Column =
    udaf(new ProductAgg(start)).apply(c)

  /**
   * Throttle as admitted-time rewrite (`ops/timing.py:104-184`): at most
   * `maximum` emits per sliding `intervalUs`; values are never dropped,
   * their timestamps move to when the rate limiter admits them:
   * admit(i) = max(ts(i), admit(i-maximum) + intervalUs).
   * Buffer keeps only the last `maximum` admit times.
   */
  case class ThrottleBuf(admits: Seq[Long])
  class ThrottleAgg(maximum: Int, intervalUs: Long)
      extends Aggregator[Long, ThrottleBuf, Long] {
    def zero: ThrottleBuf = ThrottleBuf(Vector.empty)
    def reduce(b: ThrottleBuf, tsUs: Long): ThrottleBuf = {
      val admit =
        if (b.admits.size < maximum) tsUs
        else math.max(tsUs, b.admits.head + intervalUs)
      val kept = (b.admits :+ admit).takeRight(maximum)
      ThrottleBuf(kept)
    }
    def merge(a: ThrottleBuf, b: ThrottleBuf): ThrottleBuf =
      throw new UnsupportedOperationException("order-sensitive scan")
    def finish(b: ThrottleBuf): Long = b.admits.last
    def bufferEncoder: Encoder[ThrottleBuf] = Encoders.product[ThrottleBuf]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
  def throttleAdmit(tsUs: Column, maximum: Int, intervalUs: Long): Column =
    udaf(new ThrottleAgg(maximum, intervalUs)).apply(tsUs)

  /**
   * Cost-based throttle (`ops/timing.py:104-184` with `cost_func`): each
   * item carries a cost; total admitted cost over any sliding
   * `intervalUs` stays ≤ `maximum`. Admission waits until enough earlier
   * admissions expire (`admit + intervalUs`). FIFO — admits are
   * monotone. Buffer = queue of live (admitUs, cost) pairs, pruned on
   * every step, so state is bounded by the cost budget.
   */
  case class ThrottleCostBuf(admits: Seq[(Long, Long)])
  class ThrottleCostAgg(maximum: Long, intervalUs: Long)
      extends Aggregator[(Long, Long), ThrottleCostBuf, Long] {
    def zero: ThrottleCostBuf = ThrottleCostBuf(Vector.empty)
    def reduce(b: ThrottleCostBuf, in: (Long, Long)): ThrottleCostBuf = {
      val (tsUs, cost) = in
      var t = b.admits.lastOption.map(a => math.max(tsUs, a._1)).getOrElse(tsUs)
      var live = b.admits
      def windowSum(at: Long) = live.collect {
        case (a, c) if a + intervalUs > at => c
      }.sum
      live = live.dropWhile { case (a, _) => a + intervalUs <= t }
      while (windowSum(t) + cost > maximum && live.nonEmpty) {
        t = live.head._1 + intervalUs // earliest expiry frees budget
        live = live.dropWhile { case (a, _) => a + intervalUs <= t }
      }
      ThrottleCostBuf(live :+ (t, cost))
    }
    def merge(a: ThrottleCostBuf, b: ThrottleCostBuf): ThrottleCostBuf =
      throw new UnsupportedOperationException("order-sensitive scan")
    def finish(b: ThrottleCostBuf): Long = b.admits.last._1
    def bufferEncoder: Encoder[ThrottleCostBuf] = Encoders.product[ThrottleCostBuf]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
  def throttleCostAdmit(tsUs: Column, cost: Column, maximum: Long, intervalUs: Long): Column =
    udaf(new ThrottleCostAgg(maximum, intervalUs)).apply(tsUs, cost)

  /**
   * Dynamic-limit throttle (`Throttle.set_limit`, `ops/timing.py:124-130`):
   * each row carries the (maximum, interval) in force at its arrival.
   * Like the reference — which forgets emit times older than the
   * *current* interval on every step (`ops/timing.py:151-153`) — past
   * admits are pruned with the interval attached to the incoming row,
   * so a later, longer interval does not resurrect them.
   *
   * Closed form (no wait loop): after pruning, the row must wait exactly
   * until the m-th-newest surviving admit expires —
   * `admit = kept(size - m) + iv` if `kept.size >= m`, else arrival `t`.
   * A final clamp to the newest surviving admit keeps emissions FIFO
   * when a relaxed limit would otherwise let a late arrival overtake a
   * still-queued earlier one (the reference queue cannot reorder).
   * Buffer = the pruned admit list, bounded by the in-window budget.
   */
  case class ThrottleDynBuf(admits: Seq[Long])
  class ThrottleDynAgg extends Aggregator[(Long, Int, Long), ThrottleDynBuf, Long] {
    def zero: ThrottleDynBuf = ThrottleDynBuf(Vector.empty)
    def reduce(b: ThrottleDynBuf, in: (Long, Int, Long)): ThrottleDynBuf = {
      val (t, m, iv) = in
      val kept = b.admits.filter(_ + iv > t)
      val raw = if (kept.size >= m) kept(kept.size - m) + iv else t
      val admit = math.max(t, math.max(raw, kept.lastOption.getOrElse(Long.MinValue)))
      ThrottleDynBuf(kept :+ admit)
    }
    def merge(a: ThrottleDynBuf, b: ThrottleDynBuf): ThrottleDynBuf =
      throw new UnsupportedOperationException("order-sensitive scan")
    def finish(b: ThrottleDynBuf): Long = b.admits.last
    def bufferEncoder: Encoder[ThrottleDynBuf] = Encoders.product[ThrottleDynBuf]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
  def throttleDynAdmit(tsUs: Column, maximum: Column, intervalUs: Column): Column =
    udaf(new ThrottleDynAgg).apply(tsUs, maximum, intervalUs)

  /**
   * Bounded k-smallest collector: `collect_list` whose buffer can never
   * exceed `cap` elements — it keeps the `cap` SMALLEST longs seen (a
   * grouped aggregate, so unlike the scans above `merge` is real and the
   * planner's map-side partial aggregation applies, bounding every
   * partial buffer and every shuffle record at `cap` too).
   *
   * Built for LSH bucket capping (TextOps.lshCandidatesCapped): a
   * degenerate band key with millions of members costs O(cap) memory in
   * one aggregation buffer instead of O(bucket), and the hot path keeps
   * the single-exchange hash-aggregate plan — no per-bucket sort, no
   * window stage. Buffers stay sorted ascending; inserts into a full
   * buffer that beat the current max shift in place (normal buckets are
   * far below the cap, so the common case is a tiny array append).
   */
  class BoundedMinAgg(cap: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    private def insert(b: Array[Long], x: Long): Array[Long] = {
      val full = b.length >= cap
      if (full && x >= b(b.length - 1)) return b
      val i = {
        val s = java.util.Arrays.binarySearch(b, x)
        if (s >= 0) s else -(s + 1)
      }
      val out = new Array[Long](if (full) cap else b.length + 1)
      System.arraycopy(b, 0, out, 0, i)
      out(i) = x
      System.arraycopy(b, i, out, i + 1, out.length - i - 1)
      out
    }
    def reduce(b: Array[Long], x: Long): Array[Long] = insert(b, x)
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      // merge two sorted arrays, keep the cap smallest
      val n = math.min(cap, a.length + b.length)
      val out = new Array[Long](n)
      var i = 0; var j = 0; var k = 0
      while (k < n) {
        if (j >= b.length || (i < a.length && a(i) <= b(j))) {
          out(k) = a(i); i += 1
        } else {
          out(k) = b(j); j += 1
        }
        k += 1
      }
      out
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** `collectMinK(col, cap)` — the cap-smallest longs per group, sorted. */
  def collectMinK(c: Column, cap: Int): Column =
    udaf(new BoundedMinAgg(cap)).apply(c)

  /** Bounded per-group top-k by (score DESC, id ASC) — the
    * sort-shuffle-sort deletion for the "best n candidates per query"
    * shape: `row_number() OVER (PARTITION BY a ORDER BY s DESC, b)`
    * followed by `rank <= n` sorts the ENTIRE scored-pair table (the
    * single biggest stage of the PQ serving plan at the sf10 rung, 78M
    * rows), while this aggregator's state is ≤ n (score, id) pairs per
    * group at every point — map-side combine caps what the shuffle
    * carries and nothing ever globally sorts. Output = the ids in rank
    * order, EXACTLY the rows and order the window encoding kept:
    *  - scores compare like Spark's float sort after
    *    NormalizeFloatingNumbers: -0.0 canonicalizes to 0.0 and NaN
    *    sorts LARGEST (java.lang.Double.compare does both once -0.0 is
    *    canonicalized);
    *  - ties break by id ascending (ids are unique per group — a
    *    candidate pair appears once — so the order is total and
    *    merge-order-independent).
    * Buffers are kept sorted; reduce is one binary-free insertion into
    * ≤ n elements, merge is one linear merge of two sorted runs. */
  case class TopKBuf(var m: Int, scores: Array[Double], ids: Array[Long])
  class TopKByScoreAgg(n: Int)
      extends Aggregator[(Double, Long), TopKBuf, Seq[Long]] {
    require(n >= 1, s"topKByScore: n must be >= 1, got $n")
    @inline private def canon(s: Double): Double =
      if (s == 0.0d) 0.0d else s
    // true if (sa, ia) ranks strictly before (sb, ib)
    @inline private def before(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
      val c = java.lang.Double.compare(sa, sb)
      if (c != 0) c > 0 else ia < ib
    }
    def zero: TopKBuf =
      TopKBuf(0, Array.emptyDoubleArray, Array.emptyLongArray)
    // Arrays grow GEOMETRICALLY toward n (never allocated at n up
    // front): n may legitimately be huge — an "unbounded" caller
    // passes Int.MaxValue to mean "keep everything" — and the buffer
    // must only ever be as large as what the group has actually kept.
    // PRACTICAL BOUND on n: the sorted-insertion reduce is O(kept)
    // per displacing row, so an effectively-unbounded n is only sane
    // when groups are small (every production caller passes k ≤ a few
    // hundred; the ranked-window form is the right encoding if you
    // truly need all rows ranked). The doubling is computed in Long
    // and clamped, so growth stays geometric at any n (r13 advice).
    private def grown(b: TopKBuf, want: Int): TopKBuf =
      if (b.scores.length >= want) b
      else {
        val doubled = math.min(n.toLong,
          math.max(8L, b.scores.length.toLong * 2L)).toInt
        val cap = math.max(want, doubled)
        TopKBuf(b.m, java.util.Arrays.copyOf(b.scores, cap),
          java.util.Arrays.copyOf(b.ids, cap))
      }
    // MUTATES the buffer in place (the ScalaAggregator/
    // TypedImperativeAggregate contract keeps one live object per
    // group; serialization happens only across shuffle/spill). The
    // common case — a full buffer and a candidate no better than the
    // current worst — costs ONE compare and no allocation, so the
    // per-row cost over the quadratic pair table is a branch, not a
    // Vector copy.
    def reduce(b0: TopKBuf, x: (Double, Long)): TopKBuf = {
      val s = canon(x._1)
      if (b0.m >= n && !before(s, x._2, b0.scores(b0.m - 1), b0.ids(b0.m - 1))) b0
      else {
        val b = grown(b0, math.min(n, b0.m + 1))
        var i = 0
        while (i < b.m && !before(s, x._2, b.scores(i), b.ids(i))) i += 1
        val last = math.min(b.m, n - 1)
        System.arraycopy(b.scores, i, b.scores, i + 1, last - i)
        System.arraycopy(b.ids, i, b.ids, i + 1, last - i)
        b.scores(i) = s
        b.ids(i) = x._2
        if (b.m < n) b.m += 1
        b
      }
    }
    def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      val cap = math.min(n.toLong, a.m.toLong + b.m.toLong).toInt
      val os = new Array[Double](cap)
      val oi = new Array[Long](cap)
      var i = 0; var j = 0; var k = 0
      while (k < cap) {
        if (j >= b.m ||
            (i < a.m && before(a.scores(i), a.ids(i), b.scores(j), b.ids(j)))) {
          os(k) = a.scores(i); oi(k) = a.ids(i); i += 1
        } else {
          os(k) = b.scores(j); oi(k) = b.ids(j); j += 1
        }
        k += 1
      }
      TopKBuf(cap, os, oi)
    }
    def finish(b: TopKBuf): Seq[Long] = b.ids.take(b.m).toSeq
    def bufferEncoder: Encoder[TopKBuf] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** `topKByScore(score, id, n)` — ids of the group's n best
    * (score DESC, id ASC) rows, in rank order. Since round 14 this is
    * the NATIVE [[TopKByScoreExpr]] (no per-row encoder boundary);
    * [[topKByScoreUdaf]] keeps the typed-Aggregator encoding as the
    * cross-check reference — PropertySpec pins both against the
    * row_number window. */
  def topKByScore(score: Column, id: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TopKByScoreExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(score),
        org.apache.spark.sql.graft.ColumnBridge.expression(id), n)
        .toAggregateExpression())

  /** The original typed-Aggregator encoding of [[topKByScore]]. */
  def topKByScoreUdaf(score: Column, id: Column, n: Int): Column =
    udaf(new TopKByScoreAgg(n)).apply(score, id)
}
