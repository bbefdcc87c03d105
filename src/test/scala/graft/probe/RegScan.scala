package graft

/** Registry-wide timing scan: min-of-2 count() per query at sf0.1,
  * sorted slowest-first — finds slow queries the headline bench does
  * not cover. Text report → /tmp/regscan.txt; machine-readable JSON
  * (per-query min seconds + total) → /tmp/regscan.json, committed
  * per-round as REGSCAN_r{N}.json so tail regressions are diffable
  * from driver artifacts. Optional args: comma-separated query subset;
  * passes per query (default 2 — use 4+ for steady-state reads of a
  * few queries: JIT ramp takes ~3 executions on heavy codegen).
  *
  * Canary BRACKETING (r10 verdict #7): a session-start canary cannot
  * normalize a 10-minute sweep on a host whose speed moves mid-run
  * (r10's sweep 2 hit a mid-run load spike). The canary therefore runs
  * BEFORE the sweep, every `canaryEvery` queries DURING it, and AFTER
  * it; the JSON carries the full series (`canary_series`) plus
  * pre/post, and bars should quote the bracketing pair around the
  * queries they read. */
object RegScan {
  def main(args: Array[String]): Unit = {
    val sfDir = probe.DevSession.sfDir
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    val passes: Int = if (args.length > 1) args(1).toInt else 2
    val canaryEvery: Int = if (args.length > 2) args(2).toInt else 40
    val spark = probe.DevSession()
    // same-session host anchor (frozen workload, HostCanary) — read
    // query seconds as sec/canary_sec across rounds, never raw
    val canaries = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    def canary(atQuery: Int): Double = {
      val c = HostCanary.canarySec(spark, sfDir)
      canaries += ((atQuery, c)); c
    }
    val canaryPre = canary(0)
    // job-floor anchor (canaryJobSec): the latency-bound tail divides
    // by THIS, the compute canary does not track scheduling latency
    val canaryJobPre = HostCanary.canaryJobSec(spark)
    val out = new StringBuilder
    out.append(f"canary_pre $canaryPre%.3f (frozen HostCanary workload, min-of-3)\n")
    out.append(f"canary_job_pre $canaryJobPre%.3f (24 near-empty jobs, min-of-3)\n")
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    val times = sel.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % canaryEvery == 0)
        out.append(f"canary_mid@$i ${canary(i)}%.3f\n")
      val samples = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          out.append(s"ERR $name: ${e.getMessage.take(80)}\n"); -1L }
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      name -> samples.min
    }
    val canaryPost = canary(sel.size)
    val canaryJobPost = HostCanary.canaryJobSec(spark)
    out.append(f"canary_post $canaryPost%.3f\n")
    out.append(f"canary_job_post $canaryJobPost%.3f\n")
    times.sortBy(-_._2).foreach { case (n, s) =>
      out.append(f"$s%7.2f  $n%s\n") }
    out.append(f"TOTAL(min-of-$passes) ${times.map(_._2).sum}%.1f s over ${times.size} queries\n")
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/regscan.txt"),
      out.toString.getBytes)
    val series = canaries.map { case (at, c) => f"""[$at,$c%.3f]""" }
      .mkString("[", ",", "]")
    val json = times.sortBy(-_._2).map { case (n, s) =>
      f""""$n%s":$s%.3f""" }.mkString(
      s"""{"sf_dir":"$sfDir","protocol":"min-of-$passes count()","n_queries":${times.size},""" +
        f""""canary_sec":$canaryPre%.3f,"canary_pre":$canaryPre%.3f,"canary_post":$canaryPost%.3f,""" +
        f""""canary_job_pre":$canaryJobPre%.3f,"canary_job_post":$canaryJobPost%.3f,""" +
        s""""canary_series":$series,""" +
        s""""canary_protocol":"frozen code-independent workload (HostCanary), min-of-3, bracketed: pre + every $canaryEvery queries + post (series = [query_index, canary_sec]); quote the pair around the queries you read",""" +
        f""""total_sec":${times.map(_._2).sum}%.1f,"queries":{""", ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/regscan.json"),
      json.getBytes)
    println("wrote /tmp/regscan.txt and /tmp/regscan.json")
    spark.stop()
  }
}
