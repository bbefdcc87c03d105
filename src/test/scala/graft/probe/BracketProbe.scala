package graft.probe

/** Canary-BRACKETED steady-state read of registry queries: canary →
  * passes × count() per query → canary, one JVM, so the bar is
  * query_sec / mean(canary_pre, canary_post) with the drift between
  * the two canaries as the error bar. args = comma-separated queries
  * [passes=4]. */
object BracketProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BracketProbe <q1,q2,...> [passes]")
    val names = args(0).split(",").toSeq
    val passes = if (args.length > 1) args(1).toInt else 4
    val sfDir = DevSession.sfDir
    // SPARK_GRAFT_PARTS: width override for big-fixture rungs — a real
    // cluster scales width with data (partitions track executors), so
    // an sf10-on-one-box bracket at fixed 32 measures the spill cliff,
    // not the plan; raising width restores constant per-partition volume
    val spark = DevSession(sys.env.getOrElse("SPARK_GRAFT_PARTS", "32"))
    val cPre = graft.HostCanary.canarySec(spark, sfDir)
    val cjPre = graft.HostCanary.canaryJobSec(spark)
    println(f"canary_pre $cPre%.3f canary_job_pre $cjPre%.3f")
    names.foreach { qname =>
      val fn = graft.SparkEntry.queries(qname)
      val samples = (1 to passes).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        dt
      }
      println(f"$qname: ${samples.map(s => f"$s%.2f").mkString(" ")} " +
        f"(min ${samples.min}%.2f, steady-min ${samples.drop(1).min}%.2f)")
    }
    val cPost = graft.HostCanary.canarySec(spark, sfDir)
    val cjPost = graft.HostCanary.canaryJobSec(spark)
    println(f"canary_post $cPost%.3f canary_job_post $cjPost%.3f")
    spark.stop()
  }
}
