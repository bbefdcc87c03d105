package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.metrics.source.CodegenMetrics

/**
 * The traced run: per-layer metrics and a span file, measured apart
 * from the timed runs. It first times untraced passes, then attaches a
 * [[Probe]] and times the same passes again, so the difference is the
 * tracing overhead. Jobs are attributed to queries by time interval
 * (queries run one at a time), never by job group or description.
 */
object Trace {
  import PerfBench._

  type Builder = SparkSession => DataFrame

  /** Untraced and traced passes alternate, so JIT warm-up and host
    * drift fall on both sides of the overhead comparison. */
  val PassPairs = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Whole-stage and expression codegen compilations so far. */
  def codegen(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compilations since `count0` and their time, estimated as count ×
    * the mean of the compile-time histogram (the histogram keeps a
    * sample of compile times, not their sum). */
  def codegenSince(count0: Long): Map[String, Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = (h.getCount - count0).toDouble
    Map("compiles" -> n, "ms" -> n * h.getSnapshot.getMean)
  }

  /** Per-layer metrics of `passes` (all traced by `probe`). */
  def layerMetrics(spark: SparkSession, probe: Probe, passes: Seq[(Long, Long, Seq[QRun])],
      cpus: Int): mutable.LinkedHashMap[String, Double] = {
    val n = passes.size.toDouble
    val runs = passes.flatMap(_._3)
    val t0 = passes.head._1
    val t1 = passes.last._2
    val jobs = probe.jobsIn(t0, t1)
    val stageIds = jobs.flatMap(_.stages).toSet
    val totals = probe.synchronized(probe.stageTotals.filter { case (id, _) => stageIds(id) }.toMap)
    val ranStages = probe.synchronized(probe.stages.keySet.filter(stageIds).size)
    def sum(f: StageTotals => Long): Double = totals.values.map(f).sum.toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    val buildJobs = runs.map(r => probe.jobsIn(r.t0, r.t1).size).sum
    m("queries.build_s") = runs.map(r => secs(r.buildNs)).sum / n
    m("queries.build_jobs") = buildJobs / n
    m("sched.jobs") = jobs.size / n
    m("sched.stages") = ranStages / n
    m("sched.tasks") = sum(_.tasks) / n
    val gap = runs.map { r =>
      val iv = probe.jobsIn(r.t0, r.t2).map(j => (j.startNs, j.endNs))
      (r.t2 - r.t0) - probe.covered(iv, r.t0, r.t2)
    }.sum
    m("sched.driver_gap_s") = secs(gap) / n
    val wall = runs.map(r => r.t2 - r.t0).sum
    m("sched.slot_busy_share") = sum(_.runMs) / 1000.0 / (secs(wall) * cpus)
    m("exec.run_s") = sum(_.runMs) / 1000.0 / n
    m("exec.cpu_s") = sum(_.cpuNs) / 1e9 / n
    m("exec.gc_s") = sum(_.gcMs) / 1000.0 / n
    m("exec.peak_mem_mb") = totals.values.map(_.peakMem).foldLeft(0L)(math.max) / 1048576.0
    m("op.sort_ms") = probe.sortMs / n
    m("op.agg_ms") = probe.aggMs / n
    m("op.broadcast_build_ms") = probe.bcastBuildMs / n
    m("op.rows_out") = probe.rowsOut / n
    m("plan.analysis_ms") = (probe.analysisMs + runs.map(_.analysisMs).sum) / n
    m("plan.optimization_ms") = probe.optimizationMs / n
    m("plan.planning_ms") = probe.planningMs / n
    m("shuffle.write_mb") = sum(_.shWrite) / 1048576.0 / n
    m("shuffle.read_mb") = sum(_.shRead) / 1048576.0 / n
    m("shuffle.records") = sum(_.shRecords) / n
    m("shuffle.spill_mb") = sum(_.spill) / 1048576.0 / n
    m("shuffle.fetch_wait_s") = sum(_.fetchWaitMs) / 1000.0 / n
    val skews = totals.values.filter(_.readPerTask.size >= 2).map { t =>
      val med = median(t.readPerTask.map(_.toDouble).toSeq)
      if (med > 0) t.readPerTask.max / med else 1.0
    }
    m("shuffle.skew") = if (skews.isEmpty) 1.0 else skews.max
    m("ckpt.rdds_created") = runs.map(_.rddsCreated).sum / n
    m("ckpt.pinned_mb_peak") = probe.pinnedPeak / 1048576.0
    m("ckpt.left_pinned_mb") = runs.map(_.leftPinnedBytes).sum / 1048576.0 / n
    m
  }

  /** Spans of the traced passes: pass > query > build|materialize > job > stage. */
  def recordSpans(spans: Spans, root: Int, probe: Probe, passes: Seq[(Long, Long, Seq[QRun])]): Unit = {
    passes.foreach { case (ps, pe, runs) =>
      val p = spans.add(root, "pass", ps, pe)
      runs.foreach { r =>
        val q = spans.add(p, s"query:${r.name}", r.t0, r.t2)
        val b = spans.add(q, "build", r.t0, r.t1)
        val mt = spans.add(q, "materialize", r.t1, r.t2)
        probe.jobsIn(r.t0, r.t2).foreach { j =>
          val parent = if (j.startNs < r.t1) b else mt
          val js = spans.add(parent, s"job:${j.id}", j.startNs, if (j.endNs < 0) r.t2 else j.endNs)
          j.stages.flatMap(id => probe.synchronized(probe.stages.get(id))).foreach { st =>
            if (st.endNs > 0) spans.add(js, s"stage:${st.id}", st.startNs, st.endNs)
          }
        }
      }
    }
  }

  def writeSpans(spans: Spans, path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.all.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }

  /** Noop materialization of `tables`; seconds, bytes and rows read. */
  def tableScan(spark: SparkSession, probe: Probe, tables: Seq[(String, Builder)]): Map[String, Double] = {
    val t0 = System.nanoTime()
    tables.foreach { case (_, b) => b(spark).write.format("noop").mode("overwrite").save() }
    val t1 = System.nanoTime()
    Thread.sleep(200) // let the listener bus deliver the last task ends
    val ids = probe.jobsIn(t0, t1).flatMap(_.stages).toSet
    val tot = probe.synchronized(probe.stageTotals.filter { case (id, _) => ids(id) }.values.toList)
    Map("tables.scan_s" -> secs(t1 - t0),
      "tables.bytes_read_mb" -> tot.map(_.inBytes).sum / 1048576.0,
      "tables.rows_read" -> tot.map(_.inRecords).sum.toDouble)
  }

  /** Materialized ÷ counted time per query: how much of a query a
    * `count()` lets Catalyst prune away. */
  def countRatios(spark: SparkSession, qs: Seq[(String, Builder)],
      untraced: Seq[(Long, Long, Seq[QRun])]): Map[String, Double] =
    qs.map { case (name, b) =>
      val mat = median(untraced.flatMap(_._3).filter(_.name == name).map(r => secs(r.t2 - r.t0)))
      val c = BatchBench.runQuery(spark, name, () => b(spark), BatchBench.Count)
      s"count_ratio.$name" -> mat / secs(c.t2 - c.t0)
    }.toMap

  private def timedNoop(df: DataFrame): Double = {
    df.write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    secs(System.nanoTime() - t0)
  }

  /** ns/row of each codegen kernel over a seeded synthetic frame: one
    * noop pass that calls the public `Column` function (second of two
    * runs, so the JIT is warm). The inputs are pinned first, so input
    * generation stays outside the timed pass. */
  def kernels(spark: SparkSession, seed: Long): Map[String, Double] = {
    import graft.functions.{Aggregators, VectorFunctions}
    val nDocs = 20000L
    val docs = spark.range(nDocs).select(col("id"),
      concat_ws(" ", transform(sequence(lit(1), lit(48)),
        i => concat(lit("w"), pmod(xxhash64(col("id"), i, lit(seed)), lit(300)).cast("string"))))
        .as("text")).localCheckpoint()
    val toks = docs.select(col("id"), graft.text.TextOps.tokens(col("text")).as("toks")).localCheckpoint()
    val sids = toks.select(col("id"), VectorFunctions.shingleSids(col("toks"), 3).as("sids"))
      .localCheckpoint()
    val nVec = 50000L
    def vec(salt: Int): Column = transform(sequence(lit(1), lit(64)),
      i => (pmod(xxhash64(col("id"), i, lit(seed + salt)), lit(2000L)) / 1000.0 - 1.0).cast("float"))
    val vecs = spark.range(nVec).select(col("id"), vec(1).as("a"), vec(2).as("b")).localCheckpoint()
    val nRows = 400000L
    val rows = spark.range(nRows).select(col("id"), pmod(col("id"), lit(97L)).as("k"),
      (col("id") * 1000L + pmod(xxhash64(col("id"), lit(seed)), lit(1000L))).as("ts_us"),
      (pmod(xxhash64(col("id"), lit(seed + 3)), lit(10000L)) / 100.0).as("value"),
      (pmod(xxhash64(col("id"), lit(seed + 4)), lit(1000000L)) / 1e6).as("score")).localCheckpoint()
    val wRun = Window.partitionBy("k").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val res = Map(
      "kernel.shingle_sids_ns_row" -> timedNoop(toks.select(
        VectorFunctions.shingleSids(col("toks"), 3).as("s"))) * 1e9 / nDocs,
      "kernel.minhash_sigs_ns_row" -> timedNoop(sids.select(
        VectorFunctions.minhashSigs(col("sids"), 12).as("m"))) * 1e9 / nDocs,
      "kernel.vec_dot_ns_row" -> timedNoop(vecs.select(
        VectorFunctions.vecDot(col("a"), col("b")).as("d"))) * 1e9 / nVec,
      "kernel.topk_by_score_ns_row" -> timedNoop(rows.groupBy(pmod(col("id"), lit(1000L)))
        .agg(Aggregators.topKByScore(col("score"), col("id"), 10).as("t"))) * 1e9 / nRows,
      "kernel.ema_ns_row" -> timedNoop(rows.select(col("id"),
        Aggregators.ema(col("value"), 0.25).over(wRun).as("e"))) * 1e9 / nRows,
      "kernel.throttle_admit_ns_row" -> timedNoop(rows.select(col("id"),
        Aggregators.throttleAdmit(col("ts_us"), 3, 50000L).over(wRun).as("t"))) * 1e9 / nRows)
    Seq(docs, toks, sids, vecs, rows).foreach(_.unpersist(blocking = false))
    res
  }

  /** Useful outcomes ÷ attempts of the public candidate functions on the
    * generated `embeddings` and `documents` (every workload's input
    * directory holds both): LSH candidate pairs that are exact top-3
    * cosine neighbours, and minhash candidate pairs whose exact
    * 3-shingle Jaccard is at least 0.5. */
  def yields(spark: SparkSession, dir: String): Map[String, Double] = {
    import graft.functions.{Aggregators, VectorFunctions}
    import graft.text.TextOps
    val emb = graft.Tables.embeddings(spark, dir)
    val cand = graft.ml.Similarity.lshMultiCandidates(emb, "vec_id", "embedding", 8, 64, 4)
      .select(col("a"), col("b")).filter(col("a") =!= col("b")).distinct()
    val nCand = cand.count().toDouble
    val l = emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val r = emb.select(col("vec_id").as("b"), col("embedding").as("eb"))
    val top = l.crossJoin(r).filter(col("a") =!= col("b"))
      .groupBy("a").agg(Aggregators.topKByScore(
        VectorFunctions.vecDot(col("ea"), col("eb")), col("b"), 3).as("nn"))
      .select(col("a"), explode(col("nn")).as("b"))
    val hits = cand.join(top, Seq("a", "b")).count().toDouble
    val docs = graft.Tables.documents(spark, dir)
    val sigs = TextOps.minhashSigArray(docs, "doc_id", "text", 3, 12)
    val dc = TextOps.lshCandidatesCapped(TextOps.lshBandsArr(sigs, "doc_id", 4, 3), "doc_id", 1024)
    val sh = docs.select(col("doc_id"),
      array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("s"))
    val jac = dc.join(sh.select(col("doc_id").as("a"), col("s").as("sa")), "a")
      .join(sh.select(col("doc_id").as("b"), col("s").as("sb")), "b")
      .select((size(array_intersect(col("sa"), col("sb"))).cast("double") /
        greatest(size(array_union(col("sa"), col("sb"))), lit(1))).as("j"))
    val nDc = jac.count().toDouble
    val good = jac.filter(col("j") >= 0.5).count().toDouble
    Map("ann.candidate_pairs" -> nCand, "ann.result_pairs" -> hits,
      "ann.candidate_yield" -> (if (nCand > 0) hits / nCand else 0.0),
      "dedup.candidate_yield" -> (if (nDc > 0) good / nDc else 0.0))
  }

  /** CheckpointScope queries the checkpoint layer probe runs. */
  val CkptProbe = Seq("q_pagerank", "q_kcore")

  /** The checkpoint layer for workloads whose own queries pin nothing:
    * [[CkptProbe]] over the small trade graph every input directory
    * holds, each query materialized once. */
  def checkpointLayer(spark: SparkSession, dir: String): Map[String, Double] = {
    val probe = new Probe(spark)
    probe.attach()
    val runs = BatchBench.registry(CkptProbe, dir).map { case (q, b) =>
      BatchBench.runQuery(spark, q, () => b(spark), BatchBench.Noop)
    }
    Thread.sleep(300) // the listener bus delivers the last block updates
    probe.detach()
    runs.flatMap(_.error).foreach(e => throw new IllegalStateException(s"checkpoint probe: $e"))
    Map("ckpt.rdds_created" -> runs.map(_.rddsCreated).sum.toDouble,
      "ckpt.pinned_mb_peak" -> probe.pinnedPeak / 1048576.0,
      "ckpt.left_pinned_mb" -> runs.map(_.leftPinnedBytes).sum / 1048576.0)
  }

  /**
   * Traced run over a query set: untraced passes, then traced passes,
   * then the per-query count() comparison, the input scan, kernels and
   * yields. `stream` is the streaming layer; `ckptProbe` replaces the
   * checkpoint layer of the passes by [[checkpointLayer]]'s. Returns the
   * result-file fields.
   */
  def passes(spark: SparkSession, a: Args, qs: Seq[(String, Builder)],
      tables: Seq[(String, Builder)], codegenSetup: Map[String, Double],
      stream: Map[String, Double], ckptProbe: Boolean): Map[String, Any] = {
    def gcPass() = { System.gc(); BatchBench.pass(spark, qs) }
    val spans = new Spans
    val probe = new Probe(spark)
    val runStart = System.nanoTime()
    val pairs = (1 to PassPairs).map { _ =>
      val u = gcPass()
      probe.attach()
      val tr = gcPass()
      Thread.sleep(300) // the listener bus drains before the probe detaches
      probe.detach()
      (u, tr)
    }
    val untraced = pairs.map(_._1)
    val traced = pairs.map(_._2)
    val m = layerMetrics(spark, probe, traced, a.cpus)
    // codegen happens in the cold set-up; later passes hit the cache
    m("plan.codegen_compiles") = codegenSetup("compiles")
    m("plan.codegen_compile_ms") = codegenSetup("ms")
    val root = spans.add(-1, "run", runStart, -1L)
    recordSpans(spans, root, probe, traced)
    probe.attach()
    m ++= tableScan(spark, probe, tables)
    probe.detach()
    m ++= stream
    spans.close(root)
    if (ckptProbe) m ++= checkpointLayer(spark, a.data)
    val ratios = countRatios(spark, qs, untraced)
    m ++= kernels(spark, a.seed)
    m ++= yields(spark, a.data)
    val untracedWall = median(untraced.map(p => secs(p._2 - p._1)))
    val tracedWall = median(traced.map(p => secs(p._2 - p._1)))
    m("trace.overhead") = tracedWall / untracedWall - 1.0
    m("count_ratio.median") = median(ratios.values.toSeq)
    m("count_ratio.max") = ratios.values.max
    writeSpans(spans, s"${a.runDir}/spans.jsonl")
    Map("per_layer" -> m, "count_ratio" -> ratios,
      "untraced_pass_s" -> untracedWall, "traced_pass_s" -> tracedWall,
      "passes" -> (untraced ++ traced).map(BatchBench.passJson))
  }
}
