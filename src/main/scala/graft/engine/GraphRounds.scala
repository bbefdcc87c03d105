package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.obs.QueryProfile

/**
 * The one superstep driver behind every graph engine ([[PageRank]],
 * [[Hits]], [[KCore]], [[Sssp]], [[Bfs]], [[LabelPropagation]],
 * [[Triangles]], [[ConnectedComponents]]) — the Pregel loop (Malewicz
 * et al., SIGMOD'10) on pinned Spark tables.
 *
 * [[run]] owns the setup: a [[CheckpointScope]], the lazy pin of the
 * engine's canonical edge table, the one sizing `count()` that
 * materializes it (under the caller's adaptive planning; its jobs are
 * labelled `graph:size`), the
 * serialized-checkpoint size gate and the static round scope
 * ([[StaticPlan.scoped]]: pinned layouts keep their partitioning, each
 * checkpoint is one job). All of it runs inside `scope.guarded`, so a
 * setup failure frees its pins and restores the scope's thread-local
 * like any round failure; on success every pin except the returned
 * plan's is freed.
 *
 * [[iterate]] owns the round loop: round FUSION (lazy checkpoints
 * materialize inside the next eager round's job, labelled
 * `graph:round r/R`) and the deferred freeing of dead generations.
 */
private[graft] object GraphRounds {

  /** Pin `canon` lazily, size it, and run `body(scope, pinnedCanon, n)`
    * under a static scope of `roundPartitions(n, rowsPerPart)`. Every
    * checkpoint the scope made, except those the returned plan still
    * references, is freed before returning. */
  def run(canon: DataFrame, rowsPerPart: Long = StaticPlan.GRAPH_ROUND_ROWS)(
      body: (CheckpointScope, DataFrame, Long) => DataFrame): DataFrame =
    runWith(canon.sparkSession, _ => canon, rowsPerPart)(body)

  /** [[run]] whose canonical table is built by `setup` inside the scope,
    * for an engine that pins tables of its own before the canonical one
    * ([[ConnectedComponents.runStar]]). */
  def runWith(spark: SparkSession, setup: CheckpointScope => DataFrame,
      rowsPerPart: Long)(
      body: (CheckpointScope, DataFrame, Long) => DataFrame): DataFrame = {
    val scope = new CheckpointScope(spark.sparkContext)
    scope.guarded {
      // LAZY + count: the sizing count() is the job that materializes
      // the pin — no separate persist job
      val canon = scope.ckptLazy(setup(scope))
      val n = QueryProfile.withJobLabel("graph:size")(canon.count())
      // big-rung heap survival: round generations past the threshold
      // pin serialized blocks (see StaticPlan.SER_CKPT_ROWS)
      scope.serialized = n > StaticPlan.SER_CKPT_ROWS
      val out = StaticPlan.scoped(spark,
          StaticPlan.roundPartitions(n, spark, rowsPerPart)) {
        body(scope, canon, n)
      }
      scope.freeAllBut(Checkpoints.pinnedIds(out).toList)
      out
    }
  }

  /**
   * `rounds` supersteps from `init`: round r checkpoints
   * `step(state, r)`. The whole loop materializes in ONE job below the
   * serialized-checkpoint gate (the graph engines' cost at gate scale is
   * per-job latency, job-time sum ≈ wall); above it rounds pair up, since
   * fusion defers the freeing of dead generations until the next eager
   * round and ~10⁸-row generations must not pile up against the heap
   * the serialized level protects (the k-core 16 g survival, r14). The
   * depth only changes WHEN checkpoints materialize and dead rounds
   * free, never what any round computes. The last round is always eager
   * (the caller consumes it).
   *
   * A round's pins are everything the scope pinned while it was built
   * (the state plus any lazy side table, e.g. HITS' auth scores); they
   * die once the next round has materialized. A lazy round's dead pins
   * wait for the next EAGER round: a localCheckpoint is unrecomputable
   * once freed, and the [[CheckpointScope]]'s
   * `checkpointAllMarkedAncestors` guarantees that eager job also cuts
   * the lazy rounds' lineage.
   */
  def iterate(scope: CheckpointScope, init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    val fuse = if (scope.serialized) 2 else math.max(2, rounds)
    var state = init
    var pins = Checkpoints.pinnedIds(init).toList
    var deferred = List.empty[Int]
    for (r <- 1 to rounds) {
      val before = scope.owned.toSet
      val next = step(state, r)
      if (r % fuse != 0 && r < rounds) {
        state = scope.ckptLazy(next)
        deferred = pins ::: deferred
      } else {
        state = QueryProfile.withJobLabel(s"graph:round $r/$rounds")(scope.ckpt(next))
        scope.free(pins ::: deferred)
        deferred = Nil
      }
      pins = scope.owned.filterNot(before)
    }
    state
  }

  /** Undirected pairs of a two-column edge list (names positional):
    * self-loops dropped, each edge once as (u = least, v = greatest). */
  def pairs(edges: DataFrame): DataFrame = {
    val a = col(edges.columns(0))
    val b = col(edges.columns(1))
    edges.filter(a =!= b)
      .select(least(a, b).as("u"), greatest(a, b).as("v"))
      .distinct()
  }

  /** [[pairs]] in both orientations as (src, dst). Orient-then-explode
    * reads the input once and dedups at half the symmetric size (a
    * two-projection union would execute the upstream twice). */
  def symmetric(edges: DataFrame): DataFrame =
    pairs(edges)
      .select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
}
