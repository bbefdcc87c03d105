package graft.engine

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/**
 * Static-planning scope for ITERATIVE algorithm bodies. Two reasons a
 * per-round loop wants AQE off and an explicit partition count:
 *
 *  1. With AQE on, a `localCheckpoint` captures the ADAPTIVE plan's
 *     pre-finalization `UnknownPartitioning`, so the checkpointed table
 *     loses its layout and every round re-shuffles BOTH join sides —
 *     the exact edge-sized exchanges the pinned layouts were bought to
 *     avoid (measured: round joins show
 *     `Exchange hashpartitioning` over `Scan ExistingRDD` on both
 *     inputs). Static plans keep `outputPartitioning` across the
 *     checkpoint, making round joins exchange-free at any scale.
 *  2. AQE materializes every exchange as its own job; a 3-round HITS
 *     ran 53 scheduled jobs of ~90 ms fixed latency each. Static
 *     planning runs each checkpoint as ONE job (measured 20 jobs,
 *     4.3 s → 3.0 s), with the partition count right-sized from the
 *     materialized edge count instead of AQE coalescing.
 *
 * The conf mutation is session-scoped and restored in `finally`; like
 * [[CheckpointScope]], a scope assumes no concurrent query planning in
 * the same session during the body (true of driver-sequential jobs).
 */
private[graft] object StaticPlan {
  /** Row-count threshold above which a pinned table stores SERIALIZED
    * (MEMORY_AND_DISK_SER) instead of the MEMORY_AND_DISK default. A
    * serialized block holds one contiguous buffer instead of one
    * UnsafeRow object per row — ~2× less heap and ~10⁸ fewer
    * GC-scanned objects for the ~10⁸-row edge generations that OOM'd
    * the default 16 g one-box heap at the sf10 rung (k-core, r13 watch
    * #2) — but costs a per-row deserialization on every read-back,
    * measured at +40-50% on checkpoint-heavy queries at sf0.1
    * (q_dedup_jaccard 1.3 → 1.8 s, q_hits 2.6 → 3.9 s when EVERYTHING
    * serialized). So the level is sized like everything else in the
    * engine: small pinned tables (every gate-SF run) stay deserialized
    * and fast; tables past the threshold (~450 MB+ deserialized) pay
    * the read tax to keep the executor alive. 8M rows ≈ where the
    * object-form generation starts to matter against a 16 g heap with
    * two generations + 32 tasks of execution memory live. */
  val SER_CKPT_ROWS = 8_000_000L

  /** Engine-wide localCheckpoint: `serialized = true` pins
    * MEMORY_AND_DISK_SER (see [[SER_CKPT_ROWS]]); default is Spark's
    * deserialized MEMORY_AND_DISK. */
  def localCkpt(df: DataFrame, eager: Boolean,
      serialized: Boolean = false): DataFrame =
    if (serialized)
      df.localCheckpoint(eager,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    else df.localCheckpoint(eager)

  def scoped[T](ss: org.apache.spark.sql.SparkSession, parts: Int)(body: => T): T = {
    val conf = ss.conf
    val aqe0 = conf.get("spark.sql.adaptive.enabled", "true")
    val par0 = conf.get("spark.sql.shuffle.partitions")
    // already inside an IDENTICAL scope → no-op: don't set/restore at
    // all, so same-valued scopes nested under a driver-parallel outer
    // scope (the tuning-report pattern) cannot race the restore. A
    // nested scope with DIFFERENT values still mutates and remains
    // subject to the no-concurrent-planning contract.
    if (aqe0 == "false" && par0 == parts.toString) return body
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body
    finally {
      // The scope's documented contract is "no concurrent planning in
      // this session"; if another thread mutated these keys mid-body,
      // silently restoring would hide the race — log it loudly.
      if (conf.get("spark.sql.adaptive.enabled") != "false" ||
          conf.get("spark.sql.shuffle.partitions") != parts.toString)
        System.err.println("WARN StaticPlan.scoped: session conf was " +
          "modified concurrently during a static scope (adaptive.enabled=" +
          s"${conf.get("spark.sql.adaptive.enabled")}, shuffle.partitions=" +
          s"${conf.get("spark.sql.shuffle.partitions")}); a concurrent " +
          "query may have been planned with the scope's static settings")
      conf.set("spark.sql.adaptive.enabled", aqe0)
      conf.set("spark.sql.shuffle.partitions", par0)
    }
  }

  /** Static scope that keeps the session's shuffle-partition setting
    * (the caller's scale intent) and only disables AQE — for
    * training-loop bodies whose eager checkpoints would otherwise pay
    * one adaptive exchange-materialization job per shuffle per round. */
  def scopedAqeOff[T](ss: org.apache.spark.sql.SparkSession)(body: => T): T =
    scoped(ss, ss.conf.get("spark.sql.shuffle.partitions").toInt)(body)

  /** Static scope with a CORPUS-DERIVED partition count — the graph
    * engines' `roundPartitions(nEdges)` discipline extended to the ANN
    * construction pipelines: `rows` is the largest frame the body
    * materializes (e.g. corpus × probe depth), and the scope prices its
    * checkpoints/training rounds at `roundPartitions(rows)` instead of
    * the session's full width. At toy SFs this deletes the 32-task
    * scheduling floor JobProbe measured on ~10³-row materializations
    * (q_ann_tuning: 28 s of job time that was mostly idle task
    * dispatch); at scale the count grows with the data and is capped at
    * the session's shuffle-partition setting — the caller's scale
    * intent — so a 1000-executor layout keeps its width. The final
    * returned plan still executes under the caller's adaptive conf
    * (scopes only price materializations that run INSIDE the body). */
  def scopedSized[T](ss: org.apache.spark.sql.SparkSession, rows: Long)(body: => T): T =
    scoped(ss, roundPartitions(rows, ss))(body)

  /** Eager localCheckpoint whose EXPOSED attribute ids are fresh.
    *
    * Under a static scope a checkpoint's LogicalRDD keeps its
    * attribute-referencing `outputPartitioning` (the point: round joins
    * stay exchange-free), but also the original attribute ids — and a
    * later join putting the checkpoint on one side and an independent
    * plan producing the SAME ids (e.g. the original table scan) on the
    * other makes `DeduplicateRelations` fail analysis with
    * "conflicting references" (the round-7 negative result that forced
    * q_ann_tuning to stay adaptive). A same-name aliasing Project on
    * top hands every consumer fresh ids, while ProjectExec's
    * alias-aware partitioning still forwards the checkpoint layout. */
  def ckptFresh(df: DataFrame): DataFrame = {
    val c = localCkpt(df, eager = true)
    c.select(c.columns.map(n =>
      org.apache.spark.sql.functions.col(n).as(n)).toIndexedSeq: _*)
  }

  /** LAZY [[ckptFresh]]: same fresh-attribute re-aliasing over a
    * `localCheckpoint(false)` — the pinned RDD materializes inside the
    * FIRST consumer's job (and is computed once, shared by the rest)
    * instead of scheduling its own blocking job at construction time.
    * Under a static scope this is genuinely lazy (no AQE stage
    * materialization), so a report that unions N checkpointed
    * sub-pipelines runs as ONE scheduled job instead of N+1 — the
    * per-job floor deletion of SCALE.md round-11. Use the eager form
    * when the caller needs to control WHEN materialization happens
    * (e.g. overlapping driver-parallel training chains). */
  def ckptFreshLazy(df: DataFrame): DataFrame = {
    val c = localCkpt(df, eager = false)
    c.select(c.columns.map(n =>
      org.apache.spark.sql.functions.col(n).as(n)).toIndexedSeq: _*)
  }

  /** Partition count for round tables: enough to keep ~`rowsPerPart`
    * rows per task, capped at the session's shuffle-partition setting
    * (the caller's scale intent — thousands on a real cluster). */
  def roundPartitions(nRows: Long, ss: org.apache.spark.sql.SparkSession,
      rowsPerPart: Long = 32768L): Int = {
    val cap = ss.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(cap.toLong, (nRows + rowsPerPart - 1) / rowsPerPart)).toInt
  }

  /** Partition count for CORPUS-COMPUTE tables — the ANN pipelines'
    * full-corpus passes (cell assignment, PQ code encoding, residuals,
    * exact ground-truth scoring). These stages are per-row vector
    * compute (~40-70 µs/row measured on the 64-dim kernels at sf0.1),
    * NOT tiny checkpoint materializations, so they want width even
    * when the construction scope prices its shuffles narrow: a chain
    * scan → project → checkpoint has no exchange and inherits the
    * parquet split count (1 task on the single-row-group bench
    * fixtures — JobProbe r16: the 0.6-1.0 s jobs of q_ann_pq{,_residual}
    * and q_ann_tuning's 3.9 s exact pass all ran 1-2 tasks on 32
    * cores). ~2048 rows/task keeps each task well above the dispatch
    * floor at that per-row cost; the cap is the session's parallelism
    * (the scale intent — on a cluster the scan is already wide and the
    * cap keeps the extra exchange from fragmenting it). */
  def computePartitions(nRows: Long,
      ss: org.apache.spark.sql.SparkSession,
      rowsPerPart: Long = 2048L): Int =
    math.max(1L, math.min(ss.sparkContext.defaultParallelism.toLong,
      (nRows + rowsPerPart - 1) / rowsPerPart)).toInt

  /** Per-task row target for the GRAPH engines' round tables (narrow
    * 2-3 long columns, ~16-24 B/row → ~2-3 MB/task): the round stages
    * are a chain of co-partitioned joins/aggs whose per-task compute at
    * 32 k rows is far below the task dispatch+fetch floor, so the wider
    * layout just multiplies scheduling latency (r15 A/B at sf0.1:
    * q_sssp 4.15 → 1.89 s, q_kcore 4.36 → 3.17 s, q_hits 3.63 → 2.49 s
    * when round width drops 32 → 8; q_triangles' wedge phase is REAL
    * O(m^1.5) compute and keeps its own smaller 8192-row target).
    * Still capped at the session's shuffle-partition setting, so
    * cluster-scale graphs keep the caller's full width. */
  val GRAPH_ROUND_ROWS = 131072L
}

/**
 * Storage hygiene for iterative algorithms built on
 * `localCheckpoint` (the graph engines, via [[GraphRounds]]): each
 * checkpoint pins its partitions in executor storage, and the Dataset
 * API offers no way to free them — `Dataset.unpersist` only touches the
 * cache manager, not the checkpoint's backing RDD. A loop that
 * checkpoints per round therefore leaks one RDD's worth of storage per
 * round PER CALL, which on a long-lived session (a bench loop, a
 * scheduled re-rank, a notebook) accumulates until memory pressure
 * evicts live blocks (measured: PageRank at sf0.1 degraded 2.6s → 8.7s
 * over six calls purely from dead checkpoint blocks).
 *
 * The scope reads each checkpoint's pinned RDD id EXACTLY from the
 * returned Dataset's own plan (the LogicalRDD leaf wraps the persisted
 * RDD), so concurrent scopes in one SparkContext cannot mis-attribute
 * or free each other's live checkpoints; a global id-set diff remains
 * only as a fallback for unexpected plan shapes. The scope frees the
 * intermediates once the loop's result no longer references them.
 * IMPORTANT: a localCheckpoint's lineage is TRUNCATED — unpersisting
 * one makes it unrecomputable — so only ids provably dead may be freed:
 * a returned plan that still references a checkpoint lazily (e.g. a
 * final projection over the node table) must keep it via `keep`.
 */
private[graft] final class CheckpointScope(sc: SparkContext) {
  // FAULT-TOLERANCE of the lazy/eager round mix ([[GraphRounds.iterate]]):
  // freeing a lazy round's inputs once the NEXT eager round
  // materializes is only safe if the lazy round's own lineage was
  // truncated during that job — otherwise a later block loss (executor
  // failure) would recompute through the freed, unrecomputable eager
  // checkpoint. `checkpointAllMarkedAncestors` is a per-thread local
  // property read at RDD.doCheckpoint time: with it set, the job that
  // materializes an eager round also finalizes every marked (lazy)
  // ancestor's checkpoint, so lineage is cut exactly when the deferred
  // free fires. Sticky on the engine's calling thread — benign for
  // non-engine work (it only affects RDDs already marked for
  // checkpointing). The property is a THREAD-local: it is snapshotted
  // here and restored by [[guarded]]'s finally (nesting-safe — an
  // inner engine's scope restores the outer scope's "true"), so it
  // can neither leak to unrelated later work on a pooled thread nor
  // clobber an enclosing scope. And because it only takes effect on
  // the constructing thread, [[track]]/[[free]] ASSERT same-thread
  // use — an eager-ckpt round running on a different pool thread
  // would otherwise silently lose lineage truncation and make the
  // deferred free unsafe (r12 advice).
  private val prevCkptAll =
    sc.getLocalProperty("spark.checkpoint.checkpointAllMarkedAncestors")
  sc.setLocalProperty("spark.checkpoint.checkpointAllMarkedAncestors", "true")
  private val owner = Thread.currentThread()
  private def assertOwner(what: String): Unit =
    require(Thread.currentThread() eq owner,
      s"CheckpointScope.$what on thread '" +
        Thread.currentThread().getName + "' but the scope (and its " +
        "checkpointAllMarkedAncestors thread-local) belongs to '" +
        owner.getName + "'; off-thread rounds lose lineage truncation")
  private var seen = sc.getPersistentRDDs.keySet.toSet
  private var ownedIds = List.empty[Int]
  private var lastIds = List.empty[Int]

  /** When true, subsequent [[ckpt]]/[[ckptLazy]] pin SERIALIZED blocks
    * (StaticPlan.localCkpt's big-table level). [[GraphRounds.run]]
    * sets it from the engine's materialized edge count (`n >
    * StaticPlan.SER_CKPT_ROWS`) right after the setup checkpoint's
    * count: the repeated ROUND generations are what OOM a fixed heap
    * at big-rung volume, while gate-SF rounds stay on the fast
    * deserialized level (the serialized read-back measured +40-50% on
    * checkpoint-heavy queries at sf0.1). */
  var serialized: Boolean = false

  // assertOwner fires BEFORE localCheckpoint in ckpt/ckptLazy: the
  // other order would pin the RDD first and then leave it untracked
  // (and never freed) when the require threw — the exact storage leak
  // this scope exists to prevent (r13 advice).
  /** Eagerly localCheckpoint `df`, recording the RDD ids it pinned. */
  def ckpt(df: DataFrame): DataFrame = {
    assertOwner("ckpt")
    track(StaticPlan.localCkpt(df, eager = true, serialized))
  }

  /** LAZY localCheckpoint: the RDD is registered as persistent now but
    * materializes on the first action that computes it — letting a
    * round's intermediate table piggyback on the SAME job that
    * materializes the round's final table (one scheduled action per
    * round instead of two), while still being computed once and
    * lineage-cut for later rounds. */
  def ckptLazy(df: DataFrame): DataFrame = {
    assertOwner("ckptLazy")
    track(StaticPlan.localCkpt(df, eager = false, serialized))
  }

  private def track(out: DataFrame): DataFrame = {
    // EXACT attribution: a checkpointed Dataset's plan is a LogicalRDD
    // leaf wrapping the very RDD that was persisted — read its id from
    // the plan instead of diffing the global persistent-RDD registry,
    // so two scopes running in one SparkContext can never mis-attribute
    // (and later free) each other's live checkpoints. Global diffing
    // remains only as a fallback for an unexpected plan shape.
    val exact = Checkpoints.pinnedIds(out).toList
    val now = sc.getPersistentRDDs.keySet.toSet
    lastIds = if (exact.nonEmpty) exact else (now -- seen).toList
    ownedIds = lastIds ::: ownedIds
    seen = now
    out
  }

  /** Ids pinned by the most recent [[ckpt]] call. */
  def last: List[Int] = lastIds

  /** Ids this scope has pinned and not yet freed, newest first. */
  def owned: List[Int] = ownedIds

  /** Unpersist the given owned ids now (they must be dead). */
  def free(ids: List[Int]): Unit = {
    assertOwner("free")
    val rdds = sc.getPersistentRDDs
    ids.foreach(id => rdds.get(id).foreach(_.unpersist(blocking = false)))
    ownedIds = ownedIds.filterNot(ids.contains)
  }

  /** Unpersist every checkpoint this scope made except `keep`. */
  def freeAllBut(keep: List[Int]): Unit = free(ownedIds.filterNot(keep.contains))

  /** Run an engine body; if it throws, free EVERY checkpoint this scope
    * pinned before rethrowing. An exception escaping an engine (e.g. a
    * failed `require` after the input layouts were already pinned)
    * must not leak them — exactly the long-lived-session storage leak
    * this scope exists to prevent. On success the caller's own
    * `freeAllBut(keep)` remains responsible for the cleanup. NonFatal
    * only: a non-local `return` (ControlThrowable) must pass through
    * without freeing the result it returns. */
  def guarded[T](body: => T): T =
    try body catch {
      case scala.util.control.NonFatal(e) => freeAllBut(Nil); throw e
    } finally
      // end-of-engine hygiene: restore the constructor's snapshot (a
      // null snapshot REMOVES the key). Safe for results referencing
      // still-lazy checkpoints: their pins are in `keep`, never freed,
      // so a post-scope materialization without the property merely
      // recomputes through live ancestors.
      sc.setLocalProperty(
        "spark.checkpoint.checkpointAllMarkedAncestors", prevCkptAll)
}
