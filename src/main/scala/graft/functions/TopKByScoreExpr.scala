package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * The ordering, in-place insertion and merge of the bounded per-group
 * top-k by (score DESC, id ASC) behind [[TopKByScoreExpr]]
 * (PropertySpec pins it against the `row_number` window).
 *
 * Ordering contract (matches Spark's float sort after
 * NormalizeFloatingNumbers): -0.0 canonicalizes to 0.0, NaN sorts
 * LARGEST (java.lang.Double.compare), ties break by id ascending —
 * ids are unique per group, so the order is total and
 * merge-order-independent.
 */
private[functions] object TopKOps {
  final class State(var m: Int, var scores: Array[Double], var ids: Array[Long])

  def empty(): State =
    new State(0, Array.emptyDoubleArray, Array.emptyLongArray)

  @inline def canon(s: Double): Double = if (s == 0.0d) 0.0d else s

  /** true if (sa, ia) ranks strictly before (sb, ib). */
  @inline def before(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
    val c = java.lang.Double.compare(sa, sb)
    if (c != 0) c > 0 else ia < ib
  }

  /** In-place bounded insertion; the common case — a full buffer and a
    * candidate no better than the current worst — is ONE compare and no
    * allocation. Growth is geometric toward n, computed in Long. */
  def insert(b: State, n: Int, s0: Double, id: Long): Unit = {
    val s = canon(s0)
    if (b.m >= n && !before(s, id, b.scores(b.m - 1), b.ids(b.m - 1))) return
    val want = math.min(n, b.m + 1)
    if (b.scores.length < want) {
      val cap = math.max(want,
        math.min(n.toLong, math.max(8L, b.scores.length.toLong * 2L)).toInt)
      b.scores = java.util.Arrays.copyOf(b.scores, cap)
      b.ids = java.util.Arrays.copyOf(b.ids, cap)
    }
    var i = 0
    while (i < b.m && !before(s, id, b.scores(i), b.ids(i))) i += 1
    val last = math.min(b.m, n - 1)
    System.arraycopy(b.scores, i, b.scores, i + 1, last - i)
    System.arraycopy(b.ids, i, b.ids, i + 1, last - i)
    b.scores(i) = s
    b.ids(i) = id
    if (b.m < n) b.m += 1
  }

  /** Linear merge of two sorted runs, truncated at n. */
  def merge(a: State, b: State, n: Int): State = {
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
    new State(cap, os, oi)
  }
}

/**
 * NATIVE bounded per-group top-k — a `TypedImperativeAggregate` that
 * reads `score`/`id` straight off the input row, with no per-row
 * encoder boundary (InternalRow → (Double, Long) tuple) on the
 * quadratic scored-pair tables. update() is two primitive reads + one
 * [[TopKOps.insert]]; partial aggregation and map-side combine work
 * exactly as for any ImperativeAggregate, and the shuffle carries the
 * packed byte form of ≤ n (score, id) pairs.
 *
 * Output = ids in rank order (score DESC, id ASC) — row-identical to
 * `row_number() OVER (PARTITION BY g ORDER BY score DESC, id)` +
 * `rank <= n` (PropertySpec pins the two encodings on adversarial
 * score sets: ties, ±0.0, NaN, ±∞, groups smaller than n, n = 1).
 * Null score/id rows never occur in the pair frames this serves
 * (scores are dot/norm arithmetic over dense fixtures); they are
 * skipped defensively rather than ranked.
 */
case class TopKByScoreExpr(scoreExpr: Expression, idExpr: Expression, n: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKOps.State] {
  require(n >= 1, s"topKByScore: n must be >= 1, got $n")

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "top_k_by_score"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (scoreExpr.dataType, idExpr.dataType) match {
      case (DoubleType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"top_k_by_score needs (double score, long id), got $other")
    }

  override def createAggregationBuffer(): TopKOps.State = TopKOps.empty()

  override def update(b: TopKOps.State, input: InternalRow): TopKOps.State = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null)
      TopKOps.insert(b, n, s.asInstanceOf[Double], id.asInstanceOf[Long])
    b
  }

  override def merge(a: TopKOps.State, b: TopKOps.State): TopKOps.State =
    TopKOps.merge(a, b, n)

  override def eval(b: TopKOps.State): Any =
    new GenericArrayData(java.util.Arrays.copyOf(b.ids, b.m))

  override def serialize(b: TopKOps.State): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(4 + 16 * b.m)
    buf.putInt(b.m)
    var i = 0
    while (i < b.m) { buf.putDouble(b.scores(i)); buf.putLong(b.ids(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKOps.State = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val m = buf.getInt
    val ss = new Array[Double](m)
    val ii = new Array[Long](m)
    var i = 0
    while (i < m) { ss(i) = buf.getDouble; ii(i) = buf.getLong; i += 1 }
    new TopKOps.State(m, ss, ii)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScoreExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScoreExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScoreExpr =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}
