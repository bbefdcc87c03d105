package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Semi-supervised label propagation over an undirected graph (Zhu &
 * Ghahramani CMU-TR'02; the community-detection form is Raghavan et
 * al. PRE'07) — the "spread trusted annotations" primitive of corpus
 * curation: a few documents carry a human/expensive label (quality
 * tier, topic, license class) and the near-duplicate / similarity
 * graph carries it to everything connected.
 *
 * Synchronous rounds, seeds CLAMPED: an unlabeled node adopts the
 * majority label among its currently-labeled neighbors (ties broken by
 * the SMALLEST label — fully deterministic, no RNG, no update-order
 * dependence); seed nodes never change. Nodes unreached after `iters`
 * rounds keep a null label. Labels adopted in round k propagate in
 * round k+1, so reach grows one hop per round.
 *
 * Scale shape: each round is one keyed join of the symmetrized edge
 * list against the CURRENT labeled set (shrunk by the isNotNull
 * filter), one (node, label) partial-agg count, and one row_number
 * pick per node — keyed shuffles only, no driver data. Per-round label
 * tables are checkpointed (lineage cut) and dead rounds freed via
 * [[CheckpointScope]].
 */
object LabelPropagation {

  /**
   * @param edges two-column undirected edge list (names positional)
   * @param seeds (node, label) seed assignments; duplicate seed rows
   *              for a node collapse to the smallest label
   * @param iters number of synchronous propagation rounds
   * @return (node, label) for every node of `edges`; label null if no
   *         labeled node is within `iters` hops
   */
  def run(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val sn = seeds.columns(0)
    val sl = seeds.columns(1)
    // symmetrize + dedup once under the caller's (adaptive) planning;
    // the count sizes the static round partitioning
    GraphRounds.run(GraphRounds.symmetric(edges)) { (scope, canon, _) =>
      // LAZY setup checkpoints (setup fusion): the layout, base and
      // lab₀ materialize inside the first eager round's job with their
      // pinned layouts intact
      val sym = scope.ckptLazy(canon.repartition(col("dst"))
        .sortWithinPartitions(col("dst")))
      val nodes = sym.select(col("src").as("node")).distinct()
      // deterministic seed collapse: smallest label wins
      val sd = seeds.groupBy(col(sn).as("node")).agg(min(col(sl)).as("__seed"))
      val base = scope.ckptLazy(nodes.join(sd, Seq("node"), "left"))
      val lab0 = scope.ckptLazy(base.withColumn("label", col("__seed"))
        .select("node", "label"))
      // fused vote rounds ([[GraphRounds.iterate]])
      GraphRounds.iterate(scope, lab0, iters) { (lab, _) =>
        // one explicit shuffle by the adopting node: the (node, label)
        // count AND the per-node rank window are then both satisfied by
        // the same layout (subset rule / alias-aware partitioning)
        val votes = sym.join(lab.filter(col("label").isNotNull)
            .select(col("node").as("dst"), col("label")), Seq("dst"))
          .repartition(col("src"))
          .groupBy(col("src").as("node"), col("label"))
          .agg(count(lit(1)).as("__c"))
        val pick = votes.withColumn("__rk", row_number().over(
            Window.partitionBy(col("node"))
              .orderBy(col("__c").desc, col("label").asc)))
          .filter(col("__rk") === 1)
          .select(col("node"), col("label").as("__adopt"))
        base.join(pick, Seq("node"), "left")
          .select(col("node"), coalesce(col("__seed"), col("__adopt")).as("label"))
      }
    }
  }
}
