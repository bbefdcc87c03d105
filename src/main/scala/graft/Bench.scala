package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.obs.QueryProfile

/**
 * Headline benchmark (driver contract): runs representative queries from
 * every operator family on SPARK_GRAFT_SF_DIR and prints ONE JSON line.
 *
 * Also reports throughput counters comparable to BASELINE.md's measured
 * reference numbers (pipeline values/s, zip pairs/s, sliding-mean
 * values/s) at the same row counts.
 */
object Bench {

  /** Representative subset: scans, combines, sliding windows, relational
    * joins/aggs, dedup + ANN. */
  private val headline = Seq(
    "q_rsum", "q_ema", "q_reduce",
    "q_zip", "q_merge", "q_switch", "q_ziplatest",
    "q_arraymean", "q_deque",
    "q_debounce", "q_sample", "q_throttle",
    "q_mergemap",
    "q_tpch1_pricing", "q_tpch3_topn", "q_tpch5_nation_rev",
    "q_grouped_window",
    "q_token_stats", "q_dedup_exact", "q_dedup_minhash", "q_ann_lsh",
    "q_join_interval",
    "q_bm25", "q_pagerank", "q_zorder",
    // round-6 additions: graph analytics + the DSv2 source (NOTE for
    // round-over-round reads: totals grew by these queries' cost —
    // compare common-query sums, as SCALE.md documents)
    "q_hits", "q_triangles", "q_gen_source",
    // round-6 wave-3: warehouse maintenance + windowed analytics +
    // real-codec multimodal decode
    "q_topk_group", "q_scd2", "q_interpolate", "q_multimodal_decode",
    // round-7 additions: the rest of the graph wave + image dedup
    "q_kcore", "q_sssp", "q_bfs_hops", "q_pagerank_weighted",
    "q_dedup_phash")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      // reclaim dead shuffle files / broadcasts even between the
      // explicit per-query GCs below (ContextCleaner is GC-driven)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM + file listing once so the first timed query doesn't
    // absorb session startup.
    val nEvents = Tables.events(spark, sfDir).count()
    SparkEntry.entry(spark).count()

    // Same-session host anchor (frozen workload, see HostCanary): lets
    // any reader normalize this artifact against host drift — compare
    // query_sec / canary_sec across rounds, never raw seconds.
    val canarySec = HostCanary.canarySec(spark, sfDir)
    val canaryJobSec = HostCanary.canaryJobSec(spark)

    val all = SparkEntry.queries
    def pass(): Seq[(String, Int, QueryProfile.Record)] = headline.filter(all.contains).map { name =>
      // snapshot the persistent-RDD ids BEFORE the query so cleanup can
      // be scoped to what this query created (a blanket unpersist would
      // truncate any future cross-query cached table's lineage)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // a failing query must not silently report -1 and keep the bench
      // green — log it loudly (the correctness harness is the real
      // gate, but a hollow bench number should be visible here too)
      def failing(e: Throwable): Null = {
        System.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: " +
          s"${String.valueOf(e.getMessage).take(200)}")
        null
      }
      var df: DataFrame = null
      var n = -1L
      // scheduled jobs and shuffle traffic of build + count: with AQE
      // every exchange materialization is its own job, so jobs-per-query
      // is the scheduling-overhead signal next to the shuffle count
      val prof = QueryProfile.run(spark, name) {
        df = try all(name)(spark, sfDir) catch { case e: Throwable => failing(e) }
        if (df != null) n = try df.count() catch { case e: Throwable => failing(e); -1L }
      }
      // static shuffle count (hash/range/single-partition exchanges) of
      // the SAME DataFrame the timed pass built, after the timer stops
      val ex = if (df == null || n < 0) -1
        else try QueryProfile.exchanges(df) catch { case _: Throwable => -1 }
      // free the query's leftover localCheckpoints (returned plans pin
      // them; ContextCleaner only reclaims on driver GC, so 60+ query
      // executions otherwise accumulate dead blocks in executor
      // storage — the CheckpointScope failure mode, measured 2.6→8.7s).
      // Outside the timer: a resident cluster amortizes this.
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = false) }
      // Drive ContextCleaner NOW: dead shuffles/broadcasts are reclaimed
      // via weak references, i.e. only on driver GC. 60+ query
      // executions between natural GCs accumulate shuffle files, map
      // output statuses and broadcast blocks, measurably degrading
      // late-in-run queries (q_triangles 2.3s isolated vs 4.8s
      // in-bench). Outside the timer; a real cluster runs periodicGC.
      System.gc()
      (name, ex, prof)
    }
    // One cold pass + three steady passes, reporting the PER-QUERY MIN
    // of the steady passes. Two reasons this is min-of-N rather than
    // "second pass": (a) the heavy codegen queries (wedge joins,
    // iterative graph rounds) take 2-3 executions to reach fully
    // C2-JIT-compiled steady state — stage metrics show the same wedge
    // stage at 97s of executor time on pass 1 vs 22s on pass 3 — so a
    // single "warm" pass still measures compiler-queue backlog, not the
    // operator; (b) on a shared host, min over passes strips
    // noisy-neighbor interference a single sample absorbs.
    // `queries_cold`/`value_cold` = first pass including JIT.
    val cold = pass()
    val steadyPasses = Seq(pass(), pass(), pass())
    val results = steadyPasses.head.indices.map { i =>
      val samples = steadyPasses.map(_(i))
      samples.minBy(_._3.wallSeconds)
    }

    // Reference-comparable throughputs (BASELINE.md): per-event pipeline
    // rate over the events stream. Best-of-3 for the same reasons as
    // the per-query min above (JIT convergence + shared-host noise).
    val pipelineRate = (1 to 3).map { _ =>
      val tp0 = System.nanoTime()
      queries.EventQueries.flagship(spark, sfDir).count()
      nEvents / ((System.nanoTime() - tp0) / 1e9)
    }.max

    // BASELINE.md-comparable counters (same op shapes as the measured
    // reference numbers): zip pairs/s and sliding-mean values/s. Warm
    // plans (each ran ≥4× above), so these measure steady-state rate.
    def rate(name: String): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = all(name)(spark, sfDir).count()
      n / ((System.nanoTime() - t0) / 1e9)
    }.max
    // zip gate metric at the REFERENCE'S OWN measurement shape
    // (BASELINE.md appendix: zip of two 50,000-element Sequences →
    // count). q_zip at sf0.1 emits only ~17k pairs, so its rate was
    // dominated by fixed job-scheduling cost, not zip throughput —
    // r3→r6 the "metric" monotonically decayed while the operator was
    // unchanged. Same-shape measurement, best-of-3.
    val zipN = 50000L
    def zipSeq() = graft.engine.EventStream(
      spark.range(zipN).select(
        org.apache.spark.sql.functions.col("id").as("seq"),
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.lit(1704067200000000L) +
            org.apache.spark.sql.functions.col("id") * 1000000L).as("ts"),
        org.apache.spark.sql.functions.col("id").as("value")))
    val zipRate = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = graft.engine.EventStream.zip(zipSeq(), zipSeq(), "i").df.count()
      n / ((System.nanoTime() - t0) / 1e9)
    }.max
    val slideRate = rate("q_arraymean")
    // The sliding-mean "rate" at sf0.1 is a ~0.05-0.1 s measurement —
    // one-to-two scheduler jobs at the per-job floor — so raw values/s
    // tracks HOST scheduling latency, not operator throughput (the
    // r10→r11 "14% drop" was the job canary at its 78 ms/job worst on
    // a code-identical path: git diff r10→r11 over EventQueries/
    // EventStream/Tables/Aggregators is EMPTY). Price it in job-floor
    // units against a canary sampled HERE (the session-start one can
    // drift by the time 60+ queries have run): sec / (canary_job/24)
    // ≈ how many floor-priced jobs the measurement took. Compare THIS
    // across rounds; raw sliding_mean values/s only moves with the
    // floor.
    val canaryJobAtSlide = HostCanary.canaryJobSec(spark)
    val slideJobfloorUnits = (nEvents / slideRate) / (canaryJobAtSlide / 24.0)

    val qs = results.map { case (k, _, p) => s""""$k":${p.wallSeconds}""" }.mkString("{", ",", "}")
    val qsCold = cold.map { case (k, _, p) => s""""$k":${p.wallSeconds}""" }.mkString("{", ",", "}")
    val qsEx = results.map { case (k, e, _) => s""""$k":$e""" }.mkString("{", ",", "}")
    val qsJobs = results.map { case (k, _, p) => s""""$k":${p.jobs.size}""" }.mkString("{", ",", "}")
    val qsProf = results.map { case (k, _, p) =>
      s""""$k":{"tasks":${p.tasks},"shuffle_read_bytes":${p.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${p.shuffleWriteBytes},"spill_bytes":${p.spillBytes},""" +
        s""""peak_execution_memory":${p.peakExecutionMemory},"pinned_bytes":${p.pinnedBytes}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._3.wallSeconds).sum
    val totalCold = cold.map(_._3.wallSeconds).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        s""""protocol":"per-query min of 3 steady passes after 1 cold pass; rates best-of-3 on warm plans (r7+; earlier rounds reported the single second pass)",""" +
        s""""value_cold":$totalCold,"queries_cold":$qsCold,"shuffles":$qsEx,""" +
        s""""jobs":$qsJobs,"profiles":$qsProf,""" +
        s""""canary_sec":$canarySec,"canary_job_sec":$canaryJobSec,""" +
        s""""canary_protocol":"frozen code-independent workload (HostCanary: 64M xxhash64 fold + 64k-key groupBy + lineitem scan-agg), min-of-3, same session; divide query seconds by canary_sec before comparing across rounds",""" +
        s""""n_queries":${results.size},"events_rows":$nEvents,""" +
        s""""pipeline_events_per_sec":$pipelineRate,""" +
        s""""reference_pipeline_events_per_sec":52489,""" +
        s""""zip_pairs_per_sec":$zipRate,"reference_zip_pairs_per_sec":27399,""" +
        s""""zip_shape":"two 50000-element sequences -> zip -> count (BASELINE.md appendix shape), best of 3",""" +
        s""""sliding_mean_values_per_sec":$slideRate,""" +
        s""""sliding_mean_jobfloor_units":$slideJobfloorUnits,""" +
        s""""sliding_mean_canary_job_sec":$canaryJobAtSlide,""" +
        s""""sliding_mean_note":"sf0.1 sliding-mean is a 1-2-job measurement at the scheduler floor; compare jobfloor_units (sec / adjacent per-job canary) across rounds, never raw values/s",""" +
        s""""reference_sliding_mean_values_per_sec":16302}"""
    // sbt interleaves [info]/[error] noise on stdout, which broke the
    // driver's JSON extraction in round 1 (BENCH_r01 "parsed": null).
    // Write the metric line to a file as the durable channel, and print
    // it raw (System.out, no log prefix) as the last line too.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
