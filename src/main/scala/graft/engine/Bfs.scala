package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Multi-source breadth-first hop distance over an undirected graph —
 * the "how far is every page from a trusted seed set" primitive of
 * crawl curation (TrustRank-style distance gating: keep documents
 * within k hops of a vetted domain list, or weight them by hop count).
 *
 * Synchronous frontier expansion, all-integer: after `maxHops` rounds
 * dist(v) is the exact hop count to the NEAREST seed (0 for seeds),
 * null for nodes unreached within `maxHops`. No randomness, no
 * floating point — bit-identical across engines and retries.
 *
 * Scale shape — per hop exactly ONE shuffle executes:
 *
 *  - the symmetrized edge list is checkpointed hash-partitioned by
 *    src ONCE; the distance table is born node-partitioned.
 *  - only the FRONTIER (nodes first reached last round — a narrow
 *    filter over the checkpointed distance table, shrinking as the
 *    wave passes) joins the edges; the join is co-partitioned
 *    (node = src), so the new-reach groupBy(dst) is the only
 *    exchange of the round.
 *  - the merge back into the distance table is again node = dst
 *    co-partitioned; each round is checkpointed (lineage cut) and
 *    the dead round freed via [[CheckpointScope]] — the same
 *    discipline as [[PageRank]] / [[LabelPropagation]].
 *
 * Against a 100 TB web graph this is the standard Pregel-style BFS:
 * work per round is proportional to the frontier's edge cut, state is
 * one (node, dist) row per vertex, and nothing ever reaches the
 * driver.
 */
object Bfs {

  /**
   * @param edges   two-column undirected edge list (names positional)
   * @param seeds   one-column DataFrame of seed node ids; seeds not
   *                present in the edge list are ignored
   * @param maxHops number of expansion rounds (>= 1)
   * @return (node: long, dist: long) for every node of `edges`; dist
   *         null when no seed is within `maxHops` hops
   */
  def run(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val a = edges.columns(0)
    val b = edges.columns(1)
    // symmetrize + dedup once under the caller's (adaptive) planning;
    // the count sizes the static round partitioning
    val canon = GraphRounds.symmetric(
      edges.select(col(a).cast("long").as("a"), col(b).cast("long").as("b")))
    GraphRounds.run(canon) { (scope, pinned, _) =>
      // LAZY setup checkpoints (setup fusion): the layout and dist₀
      // materialize inside the first eager round's job
      val sym = scope.ckptLazy(pinned.repartition(col("src"))
        .sortWithinPartitions(col("src")))
      val nodes = sym.select(col("src").as("node")).distinct()
      val sd = seeds.select(col(seeds.columns(0)).cast("long").as("node"))
        .distinct().withColumn("__seed", lit(true))
      val dist0 = scope.ckptLazy(nodes.join(broadcast(sd), Seq("node"), "left")
        .select(col("node"),
          when(col("__seed"), lit(0L)).otherwise(lit(null).cast("long")).as("dist")))
      // fused hop rounds ([[GraphRounds.iterate]])
      GraphRounds.iterate(scope, dist0, maxHops) { (dist, k) =>
        // frontier: nodes first reached in round k-1 — a narrow filter
        // over the checkpointed table, already node-partitioned
        val frontier = dist.filter(col("dist") === lit(k - 1L))
          .select(col("node").as("src"))
        // co-partitioned join (src = src); the dst dedup is the round's
        // one exchange
        val reached = sym.join(frontier, Seq("src"))
          .select(col("dst").as("node")).distinct()
          .withColumn("__new", lit(true))
        dist.join(reached, Seq("node"), "left")
          .select(col("node"),
            when(col("dist").isNotNull, col("dist"))
              .when(col("__new"), lit(k.toLong))
              .otherwise(lit(null).cast("long")).as("dist"))
      }
    }
  }
}
