package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * HITS hubs-and-authorities (Kleinberg, JACM'99) in fixed-point integer
 * arithmetic — the natural ranking for BIPARTITE interaction graphs
 * (buyers→sellers, crawlers→hosts, queries→documents), where PageRank's
 * single score conflates the two roles: a hub is good because it points
 * at good authorities, an authority because good hubs point at it.
 *
 * Per iteration (mutual recursion, L1-normalized):
 *
 *   auth'(v) = Σ_{u→v} hub(u)      then  auth = (auth' · scale) / Σ auth'
 *   hub'(u)  = Σ_{u→v} auth(v)     then  hub  = (hub'  · scale) / Σ hub'
 *
 * with every division a floor — all-Long math, bit-identical across
 * engines, partitionings and retries. L1 (not the classical L2)
 * because the sum needs no square root, keeping the recursion closed
 * over the integers; the fixed point only differs by per-round scaling,
 * which normalization absorbs.
 *
 * The scale is CORPUS-DERIVED by default ([[scaleFor]] — the
 * [[graft.ml.Similarity.trainModFor]] doubling discipline applied to
 * the L1 mass): the smallest 10^6·2^k ≥ the node count. A pinned 10^6
 * fails its own `scale ≥ nodes` precondition two decades above the
 * gate fixtures (the r14 sf10 rung: 1.6M trade-graph nodes), and at
 * 100 TB any fixed constant loses to corpus growth; the ladder keeps
 * every gate-SF result on the historical constant while growing with
 * the graph. Floor 10^6 = the precision floor (scores are in units of
 * 1/scale).
 *
 * Overflow discipline: the start mass is a UNIFORM 1 per node — floor
 * division is invariant under a uniform rescaling of the start mass
 * ((c·a) // (c·b) = a // b), so any uniform init yields bit-identical
 * normalized rounds; starting at 1 rather than `scale` means round 1's
 * raw sums are in-degrees (≤ nodes ≤ scale) instead of degree·scale.
 * After every normalization the L1 total is ≤ scale, and a raw sum is
 * bounded by the total mass crossing the (deduplicated) edges — also
 * ≤ scale — so every normalization product is ≤ scale², which a signed
 * Long holds for any scale ≤ [[MAX_SCALE]] (10^6·2^11 ≈ 2.05·10^9;
 * (2.05e9)² ≈ 4.2e18 < 2^63). Graphs past ~2 billion nodes need a
 * wider score type, and the require fails loudly there.
 *
 * Scale shape mirrors [[PageRank]], with two HITS-specific twists:
 *
 *  - the edge table is checkpointed TWICE, once hash-partitioned by src
 *    (the auth pass joins ranks on node = src) and once by dst (the hub
 *    pass joins the fresh auth on node = dst) — two static layouts
 *    bought once instead of re-shuffling the edges by dst every round;
 *  - the per-round raw score tables (one row per scored node — graph-
 *    node-sized, not edge-sized) are checkpointed so the L1 sum, the
 *    normalization and the next pass all read a materialized aggregate
 *    instead of re-executing the edge-sized join+agg chain once per
 *    consumer (the un-checkpointed form measured ~3× the work per
 *    round). The auth-side checkpoint is LAZY: it materializes inside
 *    the hub-side's eager checkpoint job, so each round schedules ONE
 *    action, not two.
 *
 * Per round that leaves: two keyed partial-agg shuffles (the mutual
 * recursion's irreducible data movement), two in-plan broadcast 1-row
 * L1 sums (no driver round-trip), and one scheduled action; dead rounds
 * freed via [[CheckpointScope]]. The returned DataFrame is a scan over
 * one materialized node-sized table — every intermediate is released
 * before returning.
 */
object Hits {

  /** Largest safe scale: normalization products are ≤ scale² (see the
    * overflow note above), and (10^6·2^11)² is the last ladder rung
    * under 2^63. */
  val MAX_SCALE: Long = 1000000L << 11

  /** Corpus-derived integer scale: the smallest 10^6·2^k ≥ `nNodes`,
    * capped at [[MAX_SCALE]]. Gate-SF graphs (≤ 10^6 nodes) derive the
    * historical 10^6 — existing results are unchanged; bigger corpora
    * double until the `scale ≥ nodes` precondition holds. The oracle
    * derives the identical value from its nodes CTE via the same
    * VALUES ladder (see q_hits). */
  def scaleFor(nNodes: Long, floor: Long = 1000000L): Long = {
    require(floor >= 1 && floor <= MAX_SCALE, s"bad scaleFor floor $floor")
    var m = floor
    while (m < MAX_SCALE && nNodes > m) m *= 2
    math.min(m, MAX_SCALE)
  }

  /** Run `iters` HITS iterations over (srcCol → dstCol) edges.
    * Returns (node, hub, auth) — scores in units of 1/scale, L1 sums
    * equal to ~scale each (floors shave ≤1 unit per node).
    * `scale = 0` (the default) derives the scale from the node count
    * on the [[scaleFor]] ladder; an explicit scale is honored and
    * bounds-checked. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int, scale: Long = 0L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // Canonicalize ONCE under the caller's (adaptive) planning — the
    // only pass over the raw input; its row count sizes the static
    // round partitioning (see [[GraphRounds.run]]).
    val canon = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).dropDuplicates("src", "dst")
    GraphRounds.run(canon) { (scope, pinned, nEdges) =>
      // no edges: no nodes either — every score table is empty
      if (nEdges == 0) scope.ckpt(pinned
        .select(col("src").as("node"), lit(0L).as("hub"), lit(0L).as("auth")))
      else runStatic(scope, pinned, iters, scale)
    }
  }

  /** Iteration body — runs under [[StaticPlan.scoped]] so the pinned
    * edge layouts and per-round raw tables KEEP their partitioning
    * across checkpoints (exchange-free round joins) and each
    * checkpoint is one scheduled job, not one per exchange. */
  private def runStatic(scope: CheckpointScope, canon: DataFrame,
      iters: Int, scale: Long): DataFrame = {
    // sortWithinPartitions: the checkpoint also carries outputOrdering
    // under static planning, so every round's sort-merge join skips
    // re-sorting the edge side (the big side) — only the node-sized
    // rank tables sort per round
    // LAZY setup checkpoints (setup fusion): the two edge layouts
    // materialize inside the node-count action / the first eager
    // round's job with their pinned layouts intact
    val e = scope.ckptLazy(canon.repartition(col("src"))
      .sortWithinPartitions(col("src")))
    val eByDst = scope.ckptLazy(e.repartition(col("dst"))
      .sortWithinPartitions(col("dst")))
    // LAZY like the edge layouts: the nNodes count() below is the job
    // that materializes nodes (and, upstream, the pinned src layout) —
    // the eager form scheduled a separate persist job first (r15)
    val nodes = scope.ckptLazy(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct())

    // scale >= node count guarantees the largest normalized score is
    // >= 1, so the per-round L1 sums can never floor to zero (which
    // would divide by zero next round); it is also the precision floor
    val nNodes = nodes.count()
    val sc = if (scale > 0L) scale else scaleFor(nNodes)
    require(sc >= nNodes,
      s"scale ($sc) must be >= node count ($nNodes): L1-normalized " +
        "integer scores need scale units of mass to spread over the nodes")
    require(sc <= MAX_SCALE,
      s"scale ($sc) must be <= $MAX_SCALE: normalization products reach " +
        "scale^2, which a signed Long only holds up to that rung")

    // The recursion itself only ever consumes the HUB table (nodes
    // absent from it have hub 0 and contribute nothing to any sum, so
    // the inner contribution join is exact without them) — the full
    // (node, hub, auth) rebase is assembled ONCE after the last round,
    // not materialized per round. Each round's checkpointed state is
    // the raw hub table; the next round (and the final rebase) reads
    // it L1-normalized. L1 sums stay IN-PLAN as broadcast 1-row
    // scalars over the checkpointed raw tables — no per-round driver
    // head(); the engine's `div` on positive Longs is the same floor
    // the old driver-literal form applied.
    def hubN(hubRaw: DataFrame): DataFrame = {
      val hSumDf = hubRaw.agg(coalesce(sum(col("hraw")), lit(0L)).as("__hsum"))
      hubRaw.crossJoin(broadcast(hSumDf))
        .select(col("src").as("node"), expr(s"(hraw * $sc) div __hsum").as("hub"))
    }
    // uniform 1 per node, NOT `scale`: floor division is invariant
    // under a uniform rescaling of the start mass, so the normalized
    // rounds are bit-identical either way (the PropertySpec reference
    // still inits at `scale` and matches) — and round 1's raw sums stay
    // degree-sized, keeping every normalization product ≤ scale²
    val hub0 = scope.ckptLazy(nodes.withColumn("hub", lit(1L)))
    var auth: DataFrame = null
    // fused hub/auth rounds ([[GraphRounds.iterate]]): the hub-side
    // checkpoint is the round's one action; lazy rounds materialize
    // inside the next eager round's job — the whole loop in ONE job
    // below the big-table gate
    val hubRaw = GraphRounds.iterate(scope, hub0, iters) { (prev, r) =>
      val hub = if (r == 1) prev else hubN(prev)
      // with ≥1 edge, hub mass crosses it, so aSum/hSum are ≥ 1 and the
      // floor divisions are safe. Raw aggregates are node-sized, and
      // their groupBy partitioning (hash(dst) / hash(src)) is exactly
      // what the NEXT consumer joins on — a rollup same-shuffle total
      // was measured and rejected: its (key, gid) exchange key broke
      // that co-partitioning and re-shuffled every round. The auth side
      // is a LAZY checkpoint: it materializes inside the hub side's
      // eager-checkpoint job (its L1-sum broadcast subquery computes
      // every authRaw partition first, persisting it; the main path
      // reads the persisted blocks), so each round schedules ONE
      // action, not two — computed once, lineage-cut, no extra barrier.
      val authRaw = scope.ckptLazy(hub.join(e, col("node") === col("src"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("araw")))
      val aSumDf = authRaw.agg(coalesce(sum(col("araw")), lit(0L)).as("__asum"))
      auth = authRaw.crossJoin(broadcast(aSumDf))
        .select(col("dst").as("anode"),
          expr(s"(araw * $sc) div __asum").as("auth"))
      auth.join(eByDst, col("anode") === col("dst"))
        .select(col("src"), col("auth"))
        .groupBy(col("src")).agg(sum(col("auth")).as("hraw"))
    }
    // Materialize the final (node, hub, auth) rebase as ONE checkpoint
    // — node-sized joins over already-materialized tables, so the extra
    // action is cheap, and the returned plan pins exactly one
    // node-sized RDD instead of the final round's raws + node table
    // (which callers had no way to release; a long-lived session
    // running many Hits calls accumulated pinned executor storage).
    scope.ckpt(nodes
      .join(auth.withColumnRenamed("anode", "node"), Seq("node"), "left")
      .join(hubN(hubRaw), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth")))
  }
}
