package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/**
 * Optimizer rule: plans a point-in-interval range join as the bucketed
 * equi-join of [[graft.engine.IntervalJoin]] AUTOMATICALLY, so a user
 * writing the natural predicate
 *
 *   iv.join(pt, pt("p") >= iv("lo") && pt("p") <= iv("hi"))
 *
 * gets one bucket-key shuffle + exact filter instead of the
 * BroadcastNestedLoopJoin Spark's built-in planner falls back to (the
 * quadratic, broadcast-bound shape that dies first at scale). This is
 * the (c)-tier extension point of the design ladder: a Rule[LogicalPlan]
 * registered through [[GraftExtensions]], used precisely where the
 * built-in operators cannot express the efficient plan.
 *
 * Pattern matched: an INNER join whose whole condition is the two-sided
 * bound `lo <= p AND p <= hi` (either comparison direction, either
 * join side holding the bounds) over LongType attributes, bounds both
 * from one side and the point from the other. The rewrite uses the
 * bucketing of IntervalJoin.pointsInIntervals (which is a left join;
 * this rewrite stays inner):
 *
 *   - interval side gains `explode(sequence(lo div W, hi div W, 1))`
 *     (explicit step 1: an empty interval yields an EMPTY bucket array,
 *     never a descending one);
 *   - point side gains `p div W` (every point has exactly ONE bucket,
 *     so each qualifying pair appears exactly once — no dedup pass);
 *   - equi-join on the bucket ids, original predicate re-applied as an
 *     exact Filter, original output restored by a Project.
 *
 * Truncating `div` is monotone, so lo <= p <= hi implies the point's
 * bucket lies in the interval's announced range — negatives included.
 * Null bounds/points produce a null sequence or bucket key and drop
 * out, matching the null semantics of the original predicate.
 *
 * Fanout guard: the bucket width is a default, not a promise about the
 * data — an interval spanning many widths (an id-range join hitting
 * this pattern, an interval 10^6× the width) would explode to span/W
 * bucket rows per interval, and a span over ~2^31 buckets makes
 * sequence() itself throw. So the rewrite splits the interval side BY
 * ROW on `hi div W - lo div W <= maxFanout`: narrow rows take the
 * bucketed equi-join; wide rows keep the ORIGINAL join shape (the
 * pre-rewrite fallback, quadratic but correct) and the two results are
 * unioned. A query that ran before the rule can therefore never be
 * made to fail or OOM by it — the rule only upgrades the rows it can
 * provably bound. Null-bound rows pass neither filter and drop out,
 * exactly as the original predicate (never true on null) dropped them.
 *
 * Config: `spark.graft.intervalJoin.enabled` (default true),
 * `spark.graft.intervalJoin.bucketWidth` (default 3600000000 = one
 * hour in microseconds; any positive width is correct — width only
 * tunes the fanout/bucket-occupancy tradeoff),
 * `spark.graft.intervalJoin.maxFanout` (default 4096 buckets per
 * interval row before that row falls back to the original join).
 */
object RewriteIntervalJoin {
  /** Marks the wide-row fallback join so the rule never rewrites its
    * own output on the next fixed-point iteration (the fallback is the
    * original range-join shape, so it would re-match forever). */
  private[plans] val FallbackTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.intervalJoin.fallback")
}

case class RewriteIntervalJoin() extends Rule[LogicalPlan] {
  import RewriteIntervalJoin.FallbackTag

  private def enabled: Boolean =
    conf.getConfString("spark.graft.intervalJoin.enabled", "true").toBoolean
  private def width: Long =
    conf.getConfString("spark.graft.intervalJoin.bucketWidth", "3600000000").toLong
  private def maxFanout: Long =
    conf.getConfString("spark.graft.intervalJoin.maxFanout", "4096").toLong

  /** Normalize a comparison to (smaller, larger) for `smaller <= larger`. */
  private def asLe(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(a, b)    => Some((a, b))
    case GreaterThanOrEqual(a, b) => Some((b, a))
    case _                        => None
  }

  private def longAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference if a.dataType == LongType => Some(a)
    case _                                               => None
  }

  /** If `cond` is exactly `lo <= p && p <= hi` with lo/hi from one join
    * side and p from the other, return (ivSide, ptSide, lo, hi, p). */
  private def matchRange(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(LogicalPlan, LogicalPlan, AttributeReference, AttributeReference, AttributeReference)] =
    cond match {
      case And(c1, c2) =>
        for {
          (x1, y1) <- asLe(c1); (x2, y2) <- asLe(c2)
          // orient: one conjunct bounds p from below, the other from above
          (lo, p1, p2, hi) <-
            Some((x1, y1, x2, y2)).filter { case (_, a, b, _) => a.semanticEquals(b) }
              .orElse(Some((x2, y2, x1, y1)).filter { case (_, a, b, _) => a.semanticEquals(b) })
          loA <- longAttr(lo); hiA <- longAttr(hi); pA <- longAttr(p1)
          sides <- {
            val (l, r) = (left.outputSet, right.outputSet)
            if (l.contains(loA) && l.contains(hiA) && r.contains(pA))
              Some((left, right))
            else if (r.contains(loA) && r.contains(hiA) && l.contains(pA))
              Some((right, left))
            else None
          }
        } yield (sides._1, sides._2, loA, hiA, pA)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if j.getTagValue(FallbackTag).isEmpty =>
        matchRange(cond, left, right) match {
          case Some((ivSide, ptSide, lo, hi, p)) =>
            val w = Literal(width, LongType)
            // Per-row bucket span; null when either bound is null, so a
            // null-bound row passes NEITHER branch filter below — which
            // matches the original predicate (never true on null).
            val span = Subtract(IntegralDivide(hi, w), IntegralDivide(lo, w))
            val capL = Literal(maxFanout, LongType)
            val narrowIv = Filter(LessThanOrEqual(span, capL), ivSide)
            // Sequence is TimeZoneAware: without an explicit zone the
            // expression never reports resolved post-analysis. It also
            // THROWS on inverted boundaries, so an empty or null-bound
            // interval must short-circuit to an empty bucket array
            // (same "match nothing" semantics as the original
            // predicate, whose null/empty comparisons are never true).
            val seqExpr = If(GreaterThanOrEqual(hi, lo),
              new Sequence(
                IntegralDivide(lo, w), IntegralDivide(hi, w),
                Some(Literal(1L, LongType)),
                Some(conf.sessionLocalTimeZone)),
              Literal.create(Array.empty[Long],
                org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)))
            val bktIv =
              AttributeReference("__bkt_iv", LongType, nullable = false)()
            val gen = Generate(Explode(seqExpr), unrequiredChildIndex = Nil,
              outer = false, qualifier = None,
              generatorOutput = Seq(bktIv), child = narrowIv)
            val bktPtAlias = Alias(IntegralDivide(p, w), "__bkt_pt")()
            val proj = Project(ptSide.output :+ bktPtAlias, ptSide)
            val eq = Join(gen, proj, Inner,
              Some(EqualTo(bktIv, bktPtAlias.toAttribute)),
              JoinHint.NONE)
            val bucketed = Project(j.output, Filter(cond, eq))
            // Wide rows (span > cap): keep the pre-rewrite join shape —
            // correct at any span, and rare by construction, so its
            // nested-loop cost is bounded by the few rows that take it.
            val wideIv = Filter(GreaterThan(span, capL), ivSide)
            val wideJoin = Join(wideIv, ptSide, Inner, Some(cond), JoinHint.NONE)
            wideJoin.setTagValue(FallbackTag, ())
            val fallback = Project(j.output, wideJoin)
            Union(Seq(bucketed, fallback))
          case None => j
        }
    }
}
