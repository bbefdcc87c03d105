package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Connected components over an undirected edge list — the step that
 * turns near-duplicate candidate PAIRS into duplicate CLUSTERS so a
 * dedup pipeline can keep one canonical document per cluster (the
 * pair list alone can't: a~b and b~c must collapse to one keeper, not
 * two).
 *
 * Algorithm: min-label propagation. Every node starts labeled with its
 * own id; each round, a node adopts the minimum label among itself and
 * its neighbors; fixpoint is reached in O(component diameter) rounds.
 * Each round is one join + one groupBy on the (small) label table
 * against the symmetrized edge list — keyed shuffles only, no driver
 * data. Near-dup graphs are overwhelmingly short-diameter (pairs and
 * small cliques), so 3-5 rounds typically converge; `maxIter` bounds
 * pathological chains.
 *
 * Scale notes: `localCheckpoint` truncates the growing lineage each
 * round (on a cluster, prefer `checkpoint` to reliable storage). The
 * convergence probe is a count of changed labels — one lightweight
 * action per round. For high-diameter graphs use [[runStar]], which
 * converges in O(log n) rounds; min-label is the right default for
 * dedup-shaped graphs (short diameter, fewer/cheaper rounds).
 */
object ConnectedComponents {

  /**
   * @param edges two-column DataFrame of undirected edges; column names
   *              are taken positionally (first = a, second = b)
   * @return (node, comp) — comp is the minimum node id reachable from
   *         `node`; only nodes present in `edges` appear
   */
  def run(edges: DataFrame, maxIter: Int = 20): DataFrame =
    runWithRounds(edges, maxIter)._1

  /** [[run]] plus the number of propagation rounds executed. */
  def runWithRounds(edges: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    val a = edges.columns(0)
    val b = edges.columns(1)
    // symmetrized edges pinned ONCE (each round joins them; an
    // un-checkpointed sym re-ran the upstream per round) under the
    // caller's planning; the count sizes the static round partitioning.
    // Canonical-orient then explode both orientations — one pass over
    // the input and dedup at half size; a self-loop (its node must
    // still appear in the label table) explodes to one row, not two.
    val canon = edges
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .distinct()
      .select(explode(when(col("u") === col("v"),
          array(struct(col("u").as("src"), col("v").as("dst"))))
        .otherwise(array(
          struct(col("u").as("src"), col("v").as("dst")),
          struct(col("v").as("src"), col("u").as("dst"))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    var iter = 0
    val comps = GraphRounds.run(canon) { (scope, sym, _) =>
      var labels = scope.ckpt(sym.select(col("src").as("node")).distinct()
        .withColumn("comp", col("node")))
      var labelIds = scope.last
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        val nbrMin = sym.join(labels, sym("dst") === labels("node"))
          .groupBy(col("src").as("n")).agg(min(col("comp")).as("nbr"))
        // the OLD label rides the round checkpoint, so the convergence
        // probe is a NARROW count over the materialized round instead of
        // a second per-round shuffle join of next against labels (which
        // doubled every round's scheduled work — r11 probe fusion)
        val next = scope.ckpt(labels.join(nbrMin, labels("node") === nbrMin("n"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
            col("comp").as("__old")))
        val nextIds = scope.last
        changed = next.filter(col("comp") =!= col("__old")).count()
        // free each round's dead predecessor as soon as the convergence
        // probe has consumed it
        scope.free(labelIds)
        // narrow projection over the checkpoint: partitioning preserved,
        // next round's joins read the same pinned blocks
        labels = next.select("node", "comp")
        labelIds = nextIds
        iter += 1
      }
      // A silent non-converged return would hand downstream dedup WRONG
      // labels (documents kept/dropped against the wrong cluster) with no
      // signal — fail loudly instead (the driver frees every pin).
      // Long-diameter graphs should use [[runStar]], which converges in
      // O(log n) rounds.
      if (changed > 0)
        throw new IllegalStateException(
          s"ConnectedComponents.run did not converge in $maxIter rounds " +
            s"($changed labels still changing); raise maxIter or use runStar " +
            "for high-diameter graphs")
      labels
    }
    (comps, iter)
  }

  /**
   * Alternating large-star/small-star connected components (Kiveris et
   * al., "Connected Components in MapReduce and Beyond", SoCC'14) —
   * the high-diameter alternative to [[run]]: the edge set itself is
   * rewritten each round until it is a union of min-rooted stars, and
   * the round count is O(log n) in the component size rather than
   * O(diameter). Use for graphs where long chains are plausible
   * (web-link graphs, session stitching); min-label does fewer, cheaper
   * rounds on dedup-shaped graphs.
   *
   * Per round (both phases are keyed shuffles only, no driver data):
   *  - large-star: every node u links its LARGER neighbors to
   *    m = min(N(u) ∪ {u});
   *  - small-star: every node u (grouping the big→small oriented
   *    edges by their larger endpoint) links its smaller neighbors and
   *    itself to the minimum.
   * The convergence probe is a symmetric set difference of successive
   * edge sets (two anti-join counts).
   *
   * Same contract as [[run]]: returns (node, comp), comp = min node id
   * of the component, every node present in `edges` appears (including
   * self-loop-only nodes).
   */
  def runStar(edges: DataFrame, maxIter: Int = 50): DataFrame =
    runStarWithRounds(edges, maxIter)._1

  /** [[runStar]] plus the number of (large-star + small-star) rounds. */
  def runStarWithRounds(edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val a = edges.columns(0)
    val b = edges.columns(1)
    var raw: DataFrame = null
    var nodes: DataFrame = null
    var iter = 0
    val labels = GraphRounds.runWith(edges.sparkSession, { scope =>
      // Pin the RAW pair table ONCE (r15): `nodes` and the oriented edge
      // set below both read `edges`, and two eager checkpoints over it
      // re-executed the whole upstream chain (the minhash-LSH candidate
      // generation of q_dedup_clusters_star) once per consumer — the
      // q_triangles no-cross-reference-CSE lesson. LAZY: it materializes
      // inside the nodes checkpoint's job and is freed once the oriented
      // edge set is materialized too.
      raw = scope.ckptLazy(edges.select(col(a).as("x"), col(b).as("y")))
      // `nodes` must OUTLIVE this call: the returned label plan joins it
      // lazily, and a localCheckpoint is unrecomputable once freed — the
      // driver keeps every pin the returned plan references
      nodes = scope.ckpt(raw.select(col("x").as("node"))
        .union(raw.select(col("y").as("node")))
        .distinct())
      // Orient big→small; drop self-loops and duplicates. The orientation
      // is an invariant both phases preserve (each emitted edge (x, m)
      // has m strictly below x). The driver's sizing count() materializes
      // it from the pinned raw table.
      GraphRounds.pairs(raw).select(col("v").as("u"), col("u").as("v"))
    }, StaticPlan.GRAPH_ROUND_ROWS) { (scope, e0, _) =>
      // both consumers of the raw pin are materialized now
      scope.free(Checkpoints.pinnedIds(raw).toList)
      var e = e0
      var eIds = scope.last
      var changed = 1L
      // alternating rounds under static planning: checkpointed round
      // tables keep their partitioning, and the partition count is
      // sized from the oriented edge count
      while (changed > 0 && iter < maxIter) {
        val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        val lmins = sym.groupBy("u").agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        val large = sym.join(lmins, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .distinct()
        val smins = large.groupBy("u").agg(min(col("v")).as("m"))
        val small = scope.ckpt(large.join(smins, "u")
          .select(col("v").as("x"), col("m"))
          .union(smins.select(col("u").as("x"), col("m")))
          .filter(col("x") =!= col("m"))
          .select(col("x").as("u"), col("m").as("v"))
          .distinct())
        val smallIds = scope.last
        // convergence = |smallΔe| (edge sets are (u,v)-unique): ONE
        // full-outer join over the two pinned tables counts both
        // directions in a single job, where the old
        // except + except ran two shuffle-diff jobs per round
        changed = small.withColumn("__s", lit(1))
          .join(e.withColumn("__e", lit(1)), Seq("u", "v"), "full_outer")
          .filter(col("__s").isNull || col("__e").isNull).count()
        scope.free(eIds)
        e = small
        eIds = smallIds
        iter += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"ConnectedComponents.runStar did not converge in $maxIter rounds")
      val stars = e.select(col("u").as("node"), col("v").as("comp"))
      nodes.join(stars, Seq("node"), "left")
        .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
    }
    (labels, iter)
  }
}
