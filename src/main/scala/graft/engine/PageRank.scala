package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * PageRank in FIXED-POINT integer arithmetic (Page et al. 1999; the
 * web-graph authority signal corpus-curation pipelines use to weight
 * crawl domains, e.g. Common-Crawl host ranking). Damping 0.85 is the
 * rational 85/100 applied with integer floor division to ranks scaled
 * by `scale` (default 1e12), so EVERY operation is exact long math:
 * results are bit-identical across engines, partitionings and retries —
 * no floating-point sum-order nondeterminism, which a distributed
 * double-precision PageRank cannot promise.
 *
 * Per iteration: r'(v) = (scale·15/100)/N  +  D/N  +  Σ_{u→v} d(u)/outdeg(u)
 * where d(u) = r(u)·85/100 (all divisions floor) and D is the damped
 * mass of dangling nodes (no out-edges), redistributed uniformly.
 * Floors shave ≤1 unit per division (≤ N·iters total mass, invisible
 * at scale=1e12); what matters is the result is deterministic.
 *
 * [[runPersonalized]] is the same recursion with the teleport (and
 * dangling) mass restricted to a SEED set (Haveliwala, WWW'02): random
 * surfers restart only at trusted nodes, so rank measures proximity to
 * the seeds — the "expand from a trusted domain list" primitive of
 * crawl curation. `run` is exactly the seeds-equal-all special case.
 *
 * Scale shape — per iteration exactly ONE shuffle executes:
 *
 *  - out-weight (and seed membership) is STATIC, attached to the rank
 *    table once at init instead of re-joined every round.
 *  - N, |S| and the per-round dangling mass are driver-side Long
 *    scalars folded into the plan as literals — no broadcast exchange
 *    per iteration; driver floor division on positive Longs is
 *    identical to the engine's integral divide.
 *  - Partitionings are ALIGNED and localCheckpoint preserves them:
 *    edges hash-partitioned by src once, the rank table born
 *    node-partitioned; the contribution join and the rebase join need
 *    no exchange, leaving the inflow groupBy(dst) as the only shuffle.
 *  - Each round's rank table is localCheckpoint'ed and dead rounds are
 *    freed via [[CheckpointScope]] — without the cut the unrolled
 *    lineage duplicates the damped subtree exponentially (measured:
 *    139 exchanges for 3 un-checkpointed iterations).
 */
object PageRank {

  /** Run `iters` PageRank iterations over (srcCol → dstCol) edges.
    * Returns (node: long, pr: long) — pr in units of 1/scale. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int, scale: Long = 1000000000000L): DataFrame =
    core(edges, srcCol, dstCol, None, None, iters, scale)

  /**
   * Personalized PageRank: teleport and dangling mass go ONLY to the
   * seed nodes (uniformly over the seeds present in the graph; seeds
   * absent from the edge list are ignored). Initial rank is uniform
   * over the seeds, 0 elsewhere.
   *
   * @param seeds one-column DataFrame of seed node ids
   */
  def runPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int, scale: Long = 1000000000000L): DataFrame =
    core(edges, srcCol, dstCol, Some(seeds), None, iters, scale)

  /**
   * Weighted PageRank: a node's damped mass splits over its out-edges
   * proportionally to integer edge weights — contribution over (u→v)
   * is d(u)·w(u,v) / W(u) with W(u) the node's total out-weight (all
   * floors). Duplicate (src, dst) rows SUM their weights. The uniform
   * variant is exactly weight ≡ 1 (then d·1/W = d/outdeg, the same
   * per-edge floor). Overflow envelope: per-edge weight must satisfy
   * w < 2^63/scale (≈ 9.2·10^6 at the default scale).
   *
   * @param weightCol positive integer edge-weight column
   */
  def runWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int, scale: Long = 1000000000000L): DataFrame =
    core(edges, srcCol, dstCol, None, Some(weightCol), iters, scale)

  private def core(edges: DataFrame, srcCol: String, dstCol: String,
      seedsOpt: Option[DataFrame], weightOpt: Option[String],
      iters: Int, scale: Long): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // The round loop runs static ([[GraphRounds.run]]): with AQE on,
    // localCheckpoint captures the adaptive plan's UnknownPartitioning,
    // so every round would re-shuffle both contribution-join sides —
    // static plans keep the pinned layouts' partitioning, leaving the
    // inflow groupBy(dst) as the round's only exchange, as designed.
    val canon = weightOpt match {
      case Some(w) =>
        edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"), col(w).cast("long").as("w"))
          .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      case None =>
        edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
          .dropDuplicates("src", "dst")
          .withColumn("w", lit(1L))
    }
    GraphRounds.run(canon) { (scope, pinned, _) =>
      coreStatic(scope, pinned, seedsOpt, iters, scale)
    }
  }

  private def coreStatic(scope: CheckpointScope, canon: DataFrame,
      seedsOpt: Option[DataFrame], iters: Int, scale: Long): DataFrame = {
    // setup checkpoints are LAZY (setup fusion): the edge layout, the
    // base table and the initial ranks all materialize inside the two
    // actions the setup already schedules (the scalar-count head() and
    // the first eager round) — under a static scope a lazy
    // localCheckpoint is genuinely lazy (no AQE stage materialization),
    // so init goes from 4 scheduled jobs to 1 with identical pinned
    // layouts.
    // src-partitioned AND src-sorted static edge layout: the checkpoint
    // carries both under static planning, so each round's sort-merge
    // contribution join neither exchanges nor re-sorts the edge side
    val e = scope.ckptLazy(canon.repartition(col("src"))
      .sortWithinPartitions(col("src")))
    // distinct leaves nodes hash-partitioned by node; the left joins
    // against deg (partitioned by src) and the broadcast seed flag keep
    // that, so base is born node-partitioned (checkpoint pins it)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // total out-weight; with weight ≡ 1 this IS the out-degree, and the
    // per-edge floor below reduces to the classic d div outdeg
    val deg = e.groupBy("src").agg(sum(col("w")).as("outw"))
    val withSeed = seedsOpt match {
      case Some(s) =>
        val sd = s.select(col(s.columns(0)).cast("long").as("node"))
          .distinct().withColumn("__seed", lit(true))
        nodes.join(broadcast(sd), Seq("node"), "left")
          .select(col("node"), coalesce(col("__seed"), lit(false)).as("is_seed"))
      case None => nodes.select(col("node"), lit(true).as("is_seed"))
    }
    val base = scope.ckptLazy(withSeed.join(deg, col("node") === col("src"), "left")
      .select(col("node"), col("is_seed"), col("outw")))
    // ONE action for both scalars (node count + seed count)
    val cnts = base.agg(count(lit(1)),
      coalesce(sum(when(col("is_seed"), lit(1L))), lit(0L))).head()
    val nSeed = cnts.getLong(1)
    // no nodes at all: vacuous (driver division by |S| would throw
    // where the old in-plan `div` simply never ran on zero rows)
    if (cnts.getLong(0) == 0)
      return scope.ckpt(base.select(col("node"), lit(0L).as("pr")))
    require(nSeed > 0, "personalized PageRank needs at least one seed present in the graph")
    // Loud scale precondition (the Hits.scaleFor lesson, r14 sf10 rung):
    // below this the integer start mass floors to zero per seed and the
    // recursion silently degenerates. Unlike HITS the default 10^12 is
    // NOT ladder-derived: raising scale shrinks the weighted variant's
    // safe weight range (w < 2^63/scale — see runWeighted), so the
    // constant trades three decades of node headroom above any
    // realistic 100 TB graph against weights up to ~9.2·10^6.
    // Deploy guidance (when to raise it, what shrinks, why no
    // auto-ladder): SCALE.md §"Operator guidance — the PageRank
    // `scale` knob".
    require(scale >= nSeed,
      s"scale ($scale) must be >= seed/node count ($nSeed): integer " +
        "teleport mass needs at least one unit per seed")

    val ranks0 = scope.ckptLazy(base.withColumn("pr",
      when(col("is_seed"), lit(scale / nSeed)).otherwise(lit(0L))))
    // fused rounds ([[GraphRounds.iterate]]): one-shuffle rounds
    // materialize in ONE scheduled job — the per-round job latency IS
    // the engine's sf-scale cost (JobProbe r10: job-sum ≈ wall)
    GraphRounds.iterate(scope, ranks0, iters) { (ranks, _) =>
      // dangling mass: 1-row agg over the materialized ranks table,
      // kept IN-PLAN as a broadcast scalar — the iteration schedules
      // ONE action (the checkpoint), not a separate driver head() per
      // round; the broadcast of one row costs nothing at any scale
      val dangDf = ranks.where(col("outw").isNull)
        .agg(coalesce(sum(expr("(pr * 85) div 100")), lit(0L)).as("__dang"))
      val inflow = ranks.where(col("outw").isNotNull)
        .join(e, col("node") === col("src"))
        .select(col("dst"),
          expr("(((pr * 85) div 100) * w) div outw").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("inflow"))
      // rebase: floor((scale·15/100)/|S|) is a positive-Long driver
      // division (identical to the engine's `div`); floor(D/|S|) is the
      // engine's `div` on the broadcast dangling scalar — both landing
      // only on seeds; non-seeds keep inflow
      base.join(inflow, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dangDf))
        .select(col("node"), col("is_seed"), col("outw"),
          (when(col("is_seed"), lit(scale * 15 / 100 / nSeed) +
            expr(s"__dang div ${nSeed}L"))
            .otherwise(lit(0L)) +
            coalesce(col("inflow"), lit(0L))).as("pr"))
    }.select("node", "pr")
  }
}
