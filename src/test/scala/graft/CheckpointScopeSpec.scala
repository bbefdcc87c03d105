package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine._

/** Exact checkpoint-id attribution and scope isolation — the storage
  * hygiene underneath every iterative graph engine. */
class CheckpointScopeSpec extends SparkSpec {

  private def persistedIds = spark.sparkContext.getPersistentRDDs.keySet

  test("ckpt attributes exactly the pinned RDD id (read from the plan, not a global diff)") {
    val scope = new CheckpointScope(spark.sparkContext)
    val df = scope.ckpt(spark.range(100).select(col("id"), (col("id") * 2).as("y")))
    assert(scope.last.size === 1)
    assert(persistedIds.contains(scope.last.head))
    assert(df.count() === 100)
    scope.freeAllBut(Nil)
  }

  test("two interleaved scopes never free each other's live checkpoints") {
    val s1 = new CheckpointScope(spark.sparkContext)
    val s2 = new CheckpointScope(spark.sparkContext)
    // interleave: s1, s2, s1, s2 — global diffing would attribute
    // later ids to whichever scope diffs next; exact attribution can't
    val a1 = s1.ckpt(spark.range(10).toDF())
    val b1 = s2.ckpt(spark.range(20).toDF())
    val b1Id = s2.last.head
    val a2 = s1.ckpt(a1.withColumn("z", col("id") + 1))
    val b2 = s2.ckpt(b1.withColumn("z", col("id") + 2))
    val b2Id = s2.last.head
    // free ALL of scope 1; scope 2's checkpoints must stay persisted
    // and computable (a localCheckpoint freed by mistake would be
    // unrecomputable, not just slow)
    s1.freeAllBut(Nil)
    assert(persistedIds.contains(b1Id))
    assert(persistedIds.contains(b2Id))
    assert(b1.count() === 20)
    assert(b2.count() === 20)
    assert(a2.columns.contains("z")) // plan object still valid
    s2.freeAllBut(Nil)
  }

  test("ckptLazy materializes once inside the first consuming action and is freeable") {
    val scope = new CheckpointScope(spark.sparkContext)
    val lazyDf = scope.ckptLazy(spark.range(50).select((col("id") * 3).as("v")))
    val lazyId = scope.last.head
    // registered as persistent immediately (pre-materialization)
    assert(persistedIds.contains(lazyId))
    val out = scope.ckpt(lazyDf.agg(sum(col("v")).as("s")))
    assert(out.head().getLong(0) === (0 until 50).map(_ * 3L).sum)
    scope.free(List(lazyId))
    scope.freeAllBut(Nil)
  }

  /** Fixture for the per-entry-point tables: a 40-node functional graph
    * plus short chords (triangles, a 2-core), with integer weights. */
  private def fixture: DataFrame = {
    val r = spark.range(40)
    def chords(rem: Int, step: Int) = r.filter(col("id") % 5 === rem)
      .select(col("id").as("src"), ((col("id") + step) % 40).as("dst"))
    r.select(col("id").as("src"), ((col("id") * 7 + 1) % 40).as("dst"))
      .union(chords(0, 1)).union(chords(0, 2)).union(chords(1, 1))
      .withColumn("w", col("src") % 3 + 1)
  }

  /** Every graph-engine entry point over `edges`, with the number of
    * scheduler jobs it ran (call + one `collect`) on [[fixture]] at the
    * commit before the engines moved onto `GraphRounds`. */
  private def entryPoints(edges: DataFrame): Seq[(String, Int, () => DataFrame)] = {
    import spark.implicits._
    val seeds = Seq(0L, 5L).toDF("node")
    val labels = Seq((0L, 1L), (5L, 2L)).toDF("node", "label")
    Seq(
      ("PageRank.run", 14, () => PageRank.run(edges, "src", "dst", iters = 3)),
      ("PageRank.runPersonalized", 15, () =>
        PageRank.runPersonalized(edges, "src", "dst", seeds, iters = 3)),
      ("PageRank.runWeighted", 14, () =>
        PageRank.runWeighted(edges, "src", "dst", "w", iters = 3)),
      ("Hits.run", 20, () => Hits.run(edges, "src", "dst", iters = 3)),
      ("KCore.run", 11, () => KCore.run(edges, k = 2, rounds = 3)),
      ("Sssp.run", 12, () => Sssp.run(edges, seeds, rounds = 3)),
      ("Bfs.run", 12, () => Bfs.run(edges, seeds, maxHops = 3)),
      ("LabelPropagation.run", 12, () => LabelPropagation.run(edges, labels, iters = 3)),
      ("Triangles.perNode", 9, () => Triangles.perNode(edges)),
      ("ConnectedComponents.run", 42, () => ConnectedComponents.run(edges)),
      ("ConnectedComponents.runStar", 35, () => ConnectedComponents.runStar(edges)))
  }

  /** Scheduler jobs `body` ran, counted through a job group. Listener
    * events arrive in order, so once a later fence job is visible every
    * job of the group is too. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    val fence = s"$group-fence"
    sc.setJobGroup(fence, fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10e9.toLong
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("Checkpoints.release: two sequential engine runs leave zero pinned RDDs") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val edges = fixture
    entryPoints(edges).foreach { case (name, jobs, run) =>
      Seq(1, 2).foreach { pass =>
        var out: DataFrame = null
        val ran = jobsOf(s"release-$name-$pass") { out = run(); out.collect() }
        assert(ran === jobs, s"$name pass $pass scheduled $ran jobs, pinned $jobs")
        assert(Checkpoints.pinnedIds(out).nonEmpty, s"$name result pins nothing")
        Checkpoints.release(out)
        assert(persistedIds.isEmpty,
          s"$name: released engine result still pins RDDs: $persistedIds")
      }
    }
  }

  test("every engine on empty edges restores its thread-local and pins nothing") {
    val key = "spark.checkpoint.checkpointAllMarkedAncestors"
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    entryPoints(fixture.filter(lit(false))).foreach { case (name, _, run) =>
      sc.setLocalProperty(key, null)
      val out = run()
      assert(sc.getLocalProperty(key) === null, s"$name left $key set")
      assert(out.count() === 0)
      Checkpoints.release(out)
      assert(persistedIds.isEmpty, s"$name on empty edges still pins $persistedIds")
    }
  }

  test("engine failure path frees every pinned checkpoint (scope.guarded)") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val edges: DataFrame = spark.range(30)
      .select(col("id").as("src"), ((col("id") * 7 + 1) % 30).as("dst"))
    // scale below the node count trips Hits' require AFTER the edge
    // layouts were pinned — the failure must not leak them
    intercept[IllegalArgumentException] {
      graft.engine.Hits.run(edges, "src", "dst", iters = 2, scale = 3L)
    }
    assert(persistedIds.isEmpty,
      s"engine failure leaked pinned checkpoints: $persistedIds")
  }

  test("StaticPlan.ckptFresh: static checkpoint re-joins the original plan " +
      "(round-7 'Conflicting attributes' regression)") {
    // Under a static scope a plain localCheckpoint keeps both its
    // attribute-referencing outputPartitioning AND the original
    // attribute ids; deep pipelines that join such a checkpoint back
    // against the original scan failed analysis with "Failure when
    // resolving conflicting references in Join" (the r7 negative result
    // that forced q_ann_tuning to stay adaptive). ckptFresh re-aliases
    // the exposed output, so the same pipeline must now analyze and run.
    import graft.engine.StaticPlan
    // The exact reproducer is the residual-PQ pipeline: its checkpoints
    // (resid, codebooks) expose the scan's ids while a later join brings
    // the live scan back on the other side. Simpler checkpoint-vs-scan
    // joins do NOT trip the bug (probed explicitly) — so the regression
    // lock IS the pipeline, on a tiny synthetic embedding table.
    val emb = spark.range(40).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.array((0 until 8).map(d =>
        (((col("id") * (d + 3) + d) % 13 + 1) / lit(14.0)).cast("float")): _*)
        .as("embedding"))
    val n = StaticPlan.scoped(spark, 4) {
      graft.ml.Similarity.topKIvfPqResidual(emb, "vec_id", "embedding",
        3, 4, 1, 8, 2, 2, 4, 1, 6, 2).count()
    }
    assert(n > 0)
    // and a fresh-aliased static checkpoint still self-joins cleanly
    StaticPlan.scoped(spark, 4) {
      val c = StaticPlan.ckptFresh(emb.repartition(4, col("vec_id")))
      assert(c.alias("l").join(c.alias("r"),
        col("l.vec_id") === col("r.vec_id")).count() === 40)
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("GraphRounds.iterate: odd rounds lazy, last eager, frees deferred") {
    val scope = new CheckpointScope(spark.sparkContext)
    val state0 = scope.ckpt(spark.range(50).toDF())
    val state0Ids = scope.last
    // serialized = the big-rung gate: rounds pair up (fuse depth 2)
    scope.serialized = true
    var r1Ids = List.empty[Int]
    val out = GraphRounds.iterate(scope, state0, 3) { (cur, r) =>
      r match {
        case 2 =>
          // round 1 was LAZY — state_0 must NOT be freed yet (the lazy
          // plan still references it and a localCheckpoint is
          // unrecomputable)
          assert(state0Ids.forall(persistedIds.contains),
            "lazy round freed its not-yet-materialized input")
          r1Ids = Checkpoints.pinnedIds(cur).toList
        case 3 =>
          // round 2 was EAGER — it materialized round 1 inside its own
          // job, then flushed the deferred state_0 and round 1 itself
          assert(state0Ids.forall(id => !persistedIds.contains(id)),
            "deferred free of state_0 did not flush at the eager round")
          assert(r1Ids.forall(id => !persistedIds.contains(id)),
            "round-1 state should be dead after round 2 materializes")
        case _ =>
      }
      cur.withColumn("r", lit(r))
    }
    // round 3 (the last): always EAGER even though 3 is odd
    assert(r1Ids.nonEmpty)
    assert(out.count() === 50)
    assert(out.columns.count(_ == "r") === 1)
    scope.freeAllBut(Nil)
  }

  test("GraphRounds.iterate: a single-round loop stays eager") {
    // the caller consumes the last round, so it is always materialized
    val scope = new CheckpointScope(spark.sparkContext)
    val base = scope.ckpt(spark.range(10).toDF())
    val baseIds = scope.last
    val out = GraphRounds.iterate(scope, base, 1)((cur, r) => cur.withColumn("r", lit(r)))
    // eager: the round materialized and freed its input immediately
    assert(baseIds.forall(id => !persistedIds.contains(id)))
    assert(out.count() === 10)
    scope.freeAllBut(Nil)
  }

  test("GraphRounds.iterate: a round's lazy side tables die with the round") {
    // below the size gate the whole loop is one lazy chain
    val scope = new CheckpointScope(spark.sparkContext)
    val state0 = scope.ckpt(spark.range(20).toDF())
    val state0Ids = scope.last
    var sideIds = List.empty[List[Int]]
    val out = GraphRounds.iterate(scope, state0, 3) { (cur, r) =>
      // rounds 1 and 2 are lazy (fuse depth = rounds): nothing freed yet
      if (r > 1) assert(state0Ids.forall(persistedIds.contains))
      val side = scope.ckptLazy(cur.select((col("id") + r).as("s")))
      sideIds :+= scope.last
      cur.join(side, col("id") + r === col("s"), "left_semi")
    }
    assert(out.count() === 20)
    // the last (eager) round freed state_0 and rounds 1-2 with their side
    // tables; only round 3's state and side table stay pinned
    val left = scope.owned.toSet
    assert(left === (Checkpoints.pinnedIds(out).toSet ++ sideIds.last))
    assert((state0Ids ++ sideIds.init.flatten).forall(id => !persistedIds.contains(id)))
    scope.freeAllBut(Nil)
  }
}
