package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Multi-source WEIGHTED shortest paths by synchronous Bellman-Ford
 * relaxation (Bellman 1958) — the weighted companion of [[Bfs]]: hop
 * counts answer "how far", weighted distance answers "how costly"
 * (link latency, toll, inverse trust). All-integer Long arithmetic —
 * distances are exact, bit-identical across engines and retries.
 *
 * Per round every labeled node relaxes its out-edges:
 * dist'(v) = min(dist(v), min over (u→v) of dist(u) + w(u,v)).
 * After `rounds` rounds dist(v) is exact for every v whose true
 * shortest path uses ≤ `rounds` edges (the classic Bellman-Ford
 * guarantee), null beyond. Directed; duplicate (src, dst) edges keep
 * their MINIMUM weight. Weights must be nonnegative for the rounds
 * bound to mean "shortest"; negative weights still converge per the
 * Bellman-Ford recurrence but need more rounds.
 *
 * Scale shape, per round: the relaxation join is co-partitioned
 * (dist node-partitioned ⋈ edges src-partitioned, both pinned by
 * checkpoint), the per-dst min is the round's one exchange, and the
 * merge back is node = dst aligned. State is one (node, dist) row per
 * vertex; each round checkpointed, dead rounds freed via
 * [[CheckpointScope]] — the same discipline as the rest of the
 * graph suite.
 */
object Sssp {

  /**
   * @param edges   three-column directed weighted edge list
   *                (src, dst, weight — names positional, cast to long)
   * @param seeds   one-column DataFrame of source node ids; seeds not
   *                present in the edge list are ignored
   * @param rounds  relaxation rounds (>= 1): distances are exact for
   *                paths of up to `rounds` edges
   * @return (node: long, dist: long) for every node of `edges`; dist
   *         null when no seed reaches the node within `rounds` edges
   */
  def run(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val a = edges.columns(0)
    val b = edges.columns(1)
    val w = edges.columns(2)
    // canonicalize under the caller's (adaptive) planning — duplicate
    // edges keep their minimum weight; the count sizes the static round
    // partitioning (AQE-era checkpoints lose their partitioning,
    // re-shuffling every relaxation join otherwise)
    val canon = edges.select(col(a).cast("long").as("src"),
        col(b).cast("long").as("dst"), col(w).cast("long").as("w"))
      .groupBy("src", "dst").agg(min(col("w")).as("w"))
    GraphRounds.run(canon) { (scope, pinned, _) =>
      // src-partitioned, src-sorted pinned layout for the relaxation
      // joins — LAZY, like dist₀ below (setup fusion): both materialize
      // inside the first eager round's job
      val e = scope.ckptLazy(pinned.repartition(col("src"))
        .sortWithinPartitions(col("src")))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val sd = seeds.select(col(seeds.columns(0)).cast("long").as("node"))
        .distinct().withColumn("__seed", lit(true))
      val dist0 = scope.ckptLazy(nodes.join(broadcast(sd), Seq("node"), "left")
        .select(col("node"),
          when(col("__seed"), lit(0L)).otherwise(lit(null).cast("long")).as("dist")))
      // fused relaxation rounds ([[GraphRounds.iterate]]): one job for
      // the whole loop when small
      GraphRounds.iterate(scope, dist0, rounds) { (dist, _) =>
        val relaxed = dist.filter(col("dist").isNotNull)
          .join(e, col("node") === col("src"))
          .groupBy(col("dst")).agg(min(col("dist") + col("w")).as("nd"))
        dist.join(relaxed, col("node") === col("dst"), "left")
          .select(col("node"),
            when(col("dist").isNull, col("nd"))
              .when(col("nd").isNull, col("dist"))
              .otherwise(least(col("dist"), col("nd"))).as("dist"))
      }
    }
  }
}
