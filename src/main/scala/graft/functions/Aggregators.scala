package graft.functions

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction, WindowSpec}
import org.apache.spark.sql.functions.udaf

/**
 * Custom aggregates the built-in function library lacks.
 *
 * The order-sensitive scans (`ema`, `emaVec`, `reduceScan`,
 * `runningConcat`, `runningProduct` and the three throttles) are WINDOW
 * functions over an ordered frame. Spark's WindowExec feeds rows to the
 * aggregate buffer in frame order and re-evaluates incrementally for
 * expanding frames, so each is an O(n) per-key scan — the Spark
 * analogue of the reference's per-event mutable state
 * (`eventkit/ops/aggregate.py`). Each is one [[Scan]]: a zero buffer, a
 * per-row step, the output of the buffer, and the two encoders.
 *
 * `collectMinK` and `topKByScore` are grouped aggregates with a real
 * merge, so map-side partial aggregation applies to them.
 */
object Aggregators {

  /** The shell of every order-sensitive scan. `merge` is required by
    * the Aggregator contract, but window evaluation never calls it (no
    * partial aggregation across a sorted frame). */
  private final class Scan[I, S, O](zero0: S, step: (S, I) => S, out: S => O,
      bufEnc: Encoder[S], outEnc: Encoder[O]) extends Aggregator[I, S, O] {
    def zero: S = zero0
    def reduce(b: S, x: I): S = step(b, x)
    def merge(a: S, b: S): S =
      throw new UnsupportedOperationException("order-sensitive scan")
    def finish(b: S): O = out(b)
    def bufferEncoder: Encoder[S] = bufEnc
    def outputEncoder: Encoder[O] = outEnc
  }

  /** A [[Scan]] as a function; `name` labels its plan node. */
  private def scan[I: TypeTag, S, O](name: String, zero: S, bufEnc: Encoder[S],
      outEnc: Encoder[O])(step: (S, I) => S)(out: S => O): UserDefinedFunction =
    udaf(new Scan(zero, step, out, bufEnc, outEnc)).withName(name)

  /** EMA state: (current value, primed?). */
  case class EmaBuf(v: Double, primed: Boolean)

  /** `ema(col, w).over(wRun)` — weight 2/(n+1) like the reference. The
    * first row passes through raw (`ops/aggregate.py:95-111`:
    * prev==NO_VALUE → value = args). */
  def ema(c: Column, weight: Double): Column = {
    val f1 = weight
    val f2 = 1.0 - weight
    scan[Double, EmaBuf, Double]("ema", EmaBuf(0.0, primed = false),
        Encoders.product[EmaBuf], Encoders.scalaDouble) { (b, x) =>
      if (!b.primed) EmaBuf(x, primed = true)
      else EmaBuf(b.v * f2 + x * f1, primed = true)
    }(_.v).apply(c)
  }

  /**
   * Element-wise EMA over multi-arg tuples (`ops/aggregate.py:104-108`):
   * the reference zips the previous tuple with the incoming one and
   * folds each position independently. Tuples map to arrays here; like
   * Python's `zip`, a length mismatch truncates to the shorter side.
   */
  case class EmaVecBuf(v: Seq[Double], primed: Boolean)
  def emaVec(c: Column, weight: Double): Column = {
    val f1 = weight
    val f2 = 1.0 - weight
    scan[Seq[Double], EmaVecBuf, Seq[Double]]("ema_vec", EmaVecBuf(Vector.empty, primed = false),
        Encoders.product[EmaVecBuf], ExpressionEncoder()) { (b, x) =>
      if (!b.primed) EmaVecBuf(x, primed = true)
      else EmaVecBuf(b.v.zip(x).map { case (p, a) => p * f2 + a * f1 }, primed = true)
    }(_.v).apply(c)
  }

  /**
   * Generic user-lambda running fold — the first-class `reduceScan`
   * surface for the reference's `Reduce(func, initializer)`
   * (`ops/aggregate.py:18-36`): any Scala `(T, T) => T` becomes a
   * window-scan Column over the given (running) frame.
   *
   * Reference semantics preserved exactly, including the
   * NO-INITIALIZER off-by-one (`ops/aggregate.py:29-31`): without an
   * initializer the first element only SEEDS the state and emits
   * nothing — so over a running frame, row 1's fold value is the raw
   * first element and the caller drops row 1 from the emitted stream
   * (see `EventStream.reduceScan`). With an initializer, row 1 emits
   * `f(init, x1)` and every row emits.
   *
   * The buffer is a 0/1-element Seq, so the unseeded state needs no
   * sentinel value of T (nothing is assumed about T beyond an encoder).
   * The window binds to the aggregate itself; the scalar extraction
   * sits outside it.
   */
  def reduceScan[T](f: (T, T) => T, init: Option[T] = None)(
      c: Column, over: WindowSpec)(implicit tt: TypeTag[T]): Column = {
    val bufEnc: Encoder[Seq[T]] = ExpressionEncoder()
    val agg = scan[T, Seq[T], Seq[T]]("reduce_scan", Nil, bufEnc, bufEnc) { (b, x) =>
      b match {
        case Seq()  => Seq(init.map(i => f(i, x)).getOrElse(x))
        case Seq(a) => Seq(f(a, x))
        case _      => throw new IllegalStateException("scan buffer > 1")
      }
    }(identity)
    org.apache.spark.sql.functions.element_at(agg.apply(c).over(over), 1)
  }

  /** Generic Reduce (`ops/aggregate.py:18-36`) demo instance: running
    * string fold `acc || x` (initializer = ""). */
  def runningConcat(c: Column): Column =
    scan[String, String, String]("running_concat", "", Encoders.STRING, Encoders.STRING)(
      _ + _)(identity).apply(c)

  /** Running product (`ops/aggregate.py:60-64`) — exact left fold, no
    * log-sum trick (handles zeros/negatives). */
  case class ProdBuf(v: Double)
  def runningProduct(c: Column, start: Double = 1.0): Column =
    scan[Double, ProdBuf, Double]("running_product", ProdBuf(start),
      Encoders.product[ProdBuf], Encoders.scalaDouble)((b, x) => ProdBuf(b.v * x))(_.v).apply(c)

  /**
   * One admit of the sliding-window rate limiter (`ops/timing.py:104-184`):
   * a row waits until the `maximum`-th newest admit is `intervalUs` old,
   * and never precedes the previous admit (arrival order is FIFO, like
   * the reference queue, `ops/timing.py:119-121`). `admits` holds the
   * last ≤ `maximum` admit times, ascending. Shared by the batch
   * [[throttleAdmit]] scan and `Streaming.throttleStream`; on input
   * sorted by time the FIFO clamp never binds.
   */
  def throttleAdmitUs(admits: Seq[Long], tsUs: Long, maximum: Int, intervalUs: Long): Long = {
    val floor = admits.lastOption.getOrElse(Long.MinValue)
    val rateFloor =
      if (admits.size < maximum) Long.MinValue
      else admits(admits.size - maximum) + intervalUs
    math.max(tsUs, math.max(floor, rateFloor))
  }

  /**
   * Throttle as admitted-time rewrite (`ops/timing.py:104-184`): at most
   * `maximum` emits per sliding `intervalUs`; values are never dropped,
   * their timestamps move to when the rate limiter admits them:
   * admit(i) = max(ts(i), admit(i-maximum) + intervalUs).
   * Buffer keeps only the last `maximum` admit times.
   */
  case class ThrottleBuf(admits: Seq[Long])
  def throttleAdmit(tsUs: Column, maximum: Int, intervalUs: Long): Column =
    scan[Long, ThrottleBuf, Long]("throttle_admit", ThrottleBuf(Vector.empty),
        Encoders.product[ThrottleBuf], Encoders.scalaLong) { (b, t) =>
      val admit = throttleAdmitUs(b.admits, t, maximum, intervalUs)
      ThrottleBuf((b.admits :+ admit).takeRight(maximum))
    }(_.admits.last).apply(tsUs)

  /**
   * Cost-based throttle (`ops/timing.py:104-184` with `cost_func`): each
   * item carries a cost; total admitted cost over any sliding
   * `intervalUs` stays ≤ `maximum`. Admission waits until enough earlier
   * admissions expire (`admit + intervalUs`). FIFO — admits are
   * monotone. Buffer = queue of live (admitUs, cost) pairs, pruned on
   * every step, so state is bounded by the cost budget.
   */
  case class ThrottleCostBuf(admits: Seq[(Long, Long)])
  def throttleCostAdmit(tsUs: Column, cost: Column, maximum: Long, intervalUs: Long): Column =
    scan[(Long, Long), ThrottleCostBuf, Long]("throttle_cost_admit",
        ThrottleCostBuf(Vector.empty),
        Encoders.product[ThrottleCostBuf], Encoders.scalaLong) { (b, in) =>
      val (t0, c) = in
      var t = b.admits.lastOption.map(a => math.max(t0, a._1)).getOrElse(t0)
      var live = b.admits
      def windowSum(at: Long) = live.collect {
        case (a, w) if a + intervalUs > at => w
      }.sum
      live = live.dropWhile { case (a, _) => a + intervalUs <= t }
      while (windowSum(t) + c > maximum && live.nonEmpty) {
        t = live.head._1 + intervalUs // earliest expiry frees budget
        live = live.dropWhile { case (a, _) => a + intervalUs <= t }
      }
      ThrottleCostBuf(live :+ (t, c))
    }(_.admits.last._1).apply(tsUs, cost)

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
  def throttleDynAdmit(tsUs: Column, maximum: Column, intervalUs: Column): Column =
    scan[(Long, Int, Long), ThrottleDynBuf, Long]("throttle_dyn_admit",
        ThrottleDynBuf(Vector.empty),
        Encoders.product[ThrottleDynBuf], Encoders.scalaLong) { (b, in) =>
      val (t, m, iv) = in
      val kept = b.admits.filter(_ + iv > t)
      val raw = if (kept.size >= m) kept(kept.size - m) + iv else t
      val admit = math.max(t, math.max(raw, kept.lastOption.getOrElse(Long.MinValue)))
      ThrottleDynBuf(kept :+ admit)
    }(_.admits.last).apply(tsUs, maximum, intervalUs)

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

  /** `topKByScore(score, id, n)` — ids of the group's n best
    * (score DESC, id ASC) rows, in rank order: the bounded-buffer
    * replacement for `row_number() OVER (PARTITION BY g ORDER BY score
    * DESC, id)` + `rank <= n`, which sorts the whole scored-pair table.
    * The native [[TopKByScoreExpr]] over [[TopKOps]]; PropertySpec pins
    * it against the row_number window. */
  def topKByScore(score: Column, id: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TopKByScoreExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(score),
        org.apache.spark.sql.graft.ColumnBridge.expression(id), n)
        .toAggregateExpression())
}
