package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
import graft.engine.EventStream
import graft.obs.QueryProfile

/**
 * Headline benchmark (driver contract): runs representative queries from
 * every operator family on SPARK_GRAFT_SF_DIR and prints ONE JSON line,
 * also written to `bench/bench_c<cpus>.json`. Each timed interval
 * materializes the full result through [[QueryProfile.materialize]].
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
    def pass(): Seq[(String, Int, QueryProfile.Record)] = headline.filter(all.contains).flatMap { name =>
      val r = try {
        val (df, prof) = QueryProfile.materialize(spark, name)(all(name)(spark, sfDir))
        // static shuffle count (hash/range/single-partition exchanges) of
        // the SAME DataFrame the timed pass built, after the timer stops
        Some((name, QueryProfile.exchanges(df), prof))
      } catch { case e: Throwable =>
        // a failing query drops out of `queries` and is logged loudly
        // (the correctness harness is the real gate, but a hollow bench
        // number should be visible here too)
        System.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: " +
          s"${String.valueOf(e.getMessage).take(200)}")
        None
      }
      // Drive ContextCleaner NOW: dead shuffles/broadcasts are reclaimed
      // via weak references, i.e. only on driver GC. 60+ query
      // executions between natural GCs accumulate shuffle files, map
      // output statuses and broadcast blocks, measurably degrading
      // late-in-run queries (q_triangles 2.3s isolated vs 4.8s
      // in-bench). Outside the timer; a real cluster runs periodicGC.
      System.gc()
      r
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
    val results = steadyPasses.flatten.groupBy(_._1).values.map(_.minBy(_._3.wallSeconds))
      .toSeq.sortBy(r => headline.indexOf(r._1))

    // Reference-comparable throughputs (BASELINE.md): a known row count
    // over the best-of-3 materialized time, on warm plans (JIT
    // convergence + shared-host noise, as for the per-query min above).
    def bestSec(label: String)(build: => DataFrame): Double =
      (1 to 3).map(_ => QueryProfile.materialize(spark, label)(build)._2.wallSeconds).min
    // per-event pipeline rate over the events stream
    val pipelineRate = nEvents / bestSec("pipeline")(queries.EventQueries.flagship(spark, sfDir))
    // zip gate metric at the REFERENCE'S OWN measurement shape
    // (BASELINE.md appendix: zip of two 50,000-element Sequences).
    // q_zip at sf0.1 emits only ~17k pairs, so its rate was dominated
    // by fixed job-scheduling cost, not zip throughput — r3→r6 the
    // "metric" monotonically decayed while the operator was unchanged.
    val zipN = 50000L
    def zipSeq() = EventStream(spark.range(zipN).select(col("id").as("seq"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"), col("id").as("value")))
    val zipRate = zipN / bestSec("zip")(EventStream.zip(zipSeq(), zipSeq(), "i").df)
    // sliding mean: one output row per event
    val slideRate = nEvents / bestSec("q_arraymean")(all("q_arraymean")(spark, sfDir))
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
        s""""protocol":"each result materialized through a noop write (QueryProfile.materialize; earlier artifacts timed count()); per-query min of 3 steady passes after 1 cold pass; rates are known row counts over the best-of-3 materialized time on warm plans",""" +
        s""""value_cold":$totalCold,"queries_cold":$qsCold,"shuffles":$qsEx,""" +
        s""""jobs":$qsJobs,"profiles":$qsProf,""" +
        s""""canary_sec":$canarySec,"canary_job_sec":$canaryJobSec,""" +
        s""""canary_protocol":"frozen code-independent workload (HostCanary: 64M xxhash64 fold + 64k-key groupBy + lineitem scan-agg), min-of-3, same session; divide query seconds by canary_sec before comparing across rounds",""" +
        s""""n_queries":${results.size},"events_rows":$nEvents,""" +
        s""""pipeline_events_per_sec":$pipelineRate,""" +
        s""""reference_pipeline_events_per_sec":52489,""" +
        s""""zip_pairs_per_sec":$zipRate,"reference_zip_pairs_per_sec":27399,""" +
        s""""zip_shape":"two 50000-element sequences -> zip -> noop write (BASELINE.md appendix shape), best of 3",""" +
        s""""sliding_mean_values_per_sec":$slideRate,""" +
        s""""sliding_mean_jobfloor_units":$slideJobfloorUnits,""" +
        s""""sliding_mean_canary_job_sec":$canaryJobAtSlide,""" +
        s""""sliding_mean_note":"sf0.1 sliding-mean is a 1-2-job measurement at the scheduler floor; compare jobfloor_units (sec / adjacent per-job canary) across rounds, never raw values/s",""" +
        s""""reference_sliding_mean_values_per_sec":16302}"""
    // sbt interleaves [info]/[error] noise on stdout, which broke the
    // driver's JSON extraction in round 1 (BENCH_r01 "parsed": null).
    // Write the metric line to a file as the durable channel, and print
    // it raw (System.out, no log prefix) as the last line too.
    // One file per core count, so a c8 run leaves the c4 artifact alone.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench/bench_c$cpus.json"))
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
