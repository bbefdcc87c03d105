package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * k-core membership by iterative peeling (Seidman 1983; the
 * link-farm / dense-community signal of web-graph curation — a page's
 * coreness separates organically-linked content from sparse spam
 * periphery, complementing [[PageRank]]'s authority and
 * [[Triangles]]' local density).
 *
 * Synchronous peeling: each round removes every node whose CURRENT
 * degree in the surviving subgraph is < k; removing a node lowers its
 * neighbors' degrees, so peeling cascades. `run` executes a FIXED
 * number of rounds — deterministic plan, bit-identical across engines
 * — and returns each surviving node with its degree inside the
 * surviving subgraph. A fixture where round R equals round R-1 has
 * converged, and the result IS the k-core (the spec asserts this on
 * the test graphs; the paired oracle unrolls the same R rounds).
 *
 * Scale shape, per round:
 *  - degree = one partial-agg shuffle over the surviving symmetrized
 *    edges (map-side combine applies);
 *  - survivor filter is a narrow pass over the degree table;
 *  - edge restriction = two semi-joins against the survivor set — the
 *    src side co-partitioned with the edge table's pinned layout, the
 *    dst side one keyed exchange. Nothing is broadcast: the survivor
 *    set is node-sized and at web scale does not fit an executor.
 * Each round's edge table is checkpointed (lineage cut — the peel is
 * a chain of joins otherwise) and dead rounds freed via
 * [[CheckpointScope]]. Work shrinks monotonically: every round's
 * input is the previous round's surviving edge cut.
 */
object KCore {

  /**
   * @param edges  two-column undirected edge list (names positional;
   *               self-loops and duplicates canonicalized away)
   * @param k      minimum within-subgraph degree to survive
   * @param rounds number of peeling rounds (>= 1); converged when a
   *               round removes nothing
   * @return (node, d) for nodes surviving `rounds` rounds, with d the
   *         node's degree inside the surviving subgraph
   */
  def run(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val a = edges.columns(0)
    val b = edges.columns(1)
    // symmetrize + dedup once under the caller's (adaptive) planning;
    // the count sizes the static round partitioning
    val canon = GraphRounds.symmetric(
      edges.select(col(a).cast("long").as("a"), col(b).cast("long").as("b")))
    GraphRounds.run(canon) { (scope, pinned, _) =>
      // The peel's state IS the surviving edge table, starting from the
      // pinned canon. Fused peel rounds ([[GraphRounds.iterate]]): the
      // per-round checkpoint job IS the engine's sf-scale cost — below
      // the big-table gate the whole peel materializes in ONE job,
      // above it rounds pair up.
      GraphRounds.iterate(scope, pinned, rounds) { (cur, r) =>
        // round 1 first pins canon's src-partitioned layout (LAZY, setup
        // fusion: it materializes inside the first eager round's job).
        // canon's only consumer is that layout, so as the init state the
        // full-size DESERIALIZED canon generation is freed at the first
        // eager materialization instead of scope end (at the sf10 rung
        // that is ~5 GB of object-form edges not held across the peel)
        val e = if (r == 1) scope.ckptLazy(cur.repartition(col("src"))
          .sortWithinPartitions(col("src"))) else cur
        // degree in the CURRENT surviving subgraph (symmetrized edges:
        // count per src IS the undirected degree)
        val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select(col("src").as("node"))
        e.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst")
      }.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    }
  }
}
