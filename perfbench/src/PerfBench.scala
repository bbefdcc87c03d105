package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * JVM half of the benchmark (`perfbench/run.py` is the entry point).
 * Runs one workload in one process, times the registry from outside
 * (`SparkEntry.queries(name)(spark, dir)` through a full `noop`
 * materialization) and writes its raw measurements as one JSON file.
 *
 * Args: --workload W --data DIR --run-dir DIR --out FILE --seconds S
 *       --trace 0|1 --cpus N --min-samples M --seed N
 */
object PerfBench {

  val EventOps = Seq("q_rsum", "q_ema", "q_reduce", "q_arraymean", "q_deque",
    "q_grouped_window", "q_merge", "q_mergemap", "q_zip", "q_switch", "q_ziplatest",
    "q_throttle", "q_debounce", "q_sample", "q_join_interval", "q_interpolate")
  val GraphRounds = Seq("q_pagerank", "q_pagerank_weighted", "q_hits", "q_kcore",
    "q_sssp", "q_bfs_hops", "q_triangles")
  val CorpusDedupAnn = Seq("q_token_stats", "q_bm25", "q_dedup_exact", "q_dedup_minhash",
    "q_dedup_clusters", "q_ann_lsh", "q_ann_pq", "q_ann_tuning")

  /** Input tables each batch workload reads, for the `tables.*` layer. */
  val Inputs = Map(
    "event_ops" -> Seq("events", "lineitem"),
    "graph_rounds" -> Seq("orders", "lineitem", "customer", "supplier", "part"),
    "corpus_dedup_ann" -> Seq("documents", "embeddings"))

  final case class Args(workload: String, data: String, runDir: String, out: String,
      seconds: Double, trace: Boolean, cpus: Int, minSamples: Int, seed: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("run-dir"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cpus", "4").toInt,
      m.getOrElse("min-samples", "1").toInt,
      m.getOrElse("seed", "0").toLong)
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    graft.Tables.invalidate(spark)
    spark.stop()
  }

  def secs(ns: Long): Double = ns / 1e9

  def loadAvg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split("\\s+")(0).toDouble finally src.close()
  }

  /** Host context: the load average; a traced run adds the
    * `graft.HostCanary` pair (one pass each; the compute canary scans
    * `lineitem.parquet` in `dir`). Timed runs skip the canaries, which
    * would cost about 7 s of every run's budget. */
  def canary(spark: SparkSession, dir: String, full: Boolean): Map[String, Any] =
    if (!full) Map("load1" -> loadAvg())
    else Map("load1" -> loadAvg(),
      "canary_job_s" -> graft.HostCanary.canaryJobSec(spark, passes = 1),
      "canary_s" -> graft.HostCanary.canarySec(spark, dir, passes = 1))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new java.io.File(a.runDir).mkdirs()
    val res = a.workload match {
      case "event_stream" => StreamBench.run(a)
      case "event_ops" => BatchBench.run(a, EventOps)
      case "graph_rounds" => BatchBench.run(a, GraphRounds)
      case "corpus_dedup_ann" => BatchBench.run(a, CorpusDedupAnn)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      Json(res).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** One query execution: build = the registry call, mat = materialization. */
final case class QRun(name: String, buildNs: Long, matNs: Long, t0: Long, t1: Long, t2: Long,
    error: Option[String], leftPinnedBytes: Long, rddsCreated: Int, analysisMs: Long)

object BatchBench {
  import PerfBench._

  /** The program's own loader for each input table. */
  def tableLoader(t: String, dir: String): Trace.Builder = t match {
    case "events" => s => graft.Tables.events(s, dir)
    case other => s => graft.Tables.table(s, dir, other)
  }

  sealed trait Sink
  case object Noop extends Sink
  case object Count extends Sink
  final case class Parquet(path: String) extends Sink

  /** Builds and fully materializes one registry query, then frees the
    * persistent RDDs (engine checkpoints) it left behind, outside its
    * timed interval. */
  def runQuery(spark: SparkSession, name: String, build: () => DataFrame, sink: Sink): QRun = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    var t1 = t0
    var analysisMs = 0L
    val err = try {
      val df = build()
      t1 = System.nanoTime()
      analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      sink match {
        case Noop => df.write.format("noop").mode("overwrite").save()
        case Count => df.count()
        case Parquet(p) => df.write.mode("overwrite").parquet(p)
      }
      None
    } catch {
      case e: Throwable =>
        if (t1 == t0) t1 = System.nanoTime()
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val t2 = System.nanoTime()
    val created = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    val ids = created.keySet
    val left = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    created.values.foreach(_.unpersist(blocking = false))
    QRun(name, t1 - t0, t2 - t1, t0, t1, t2, err, left, created.size, analysisMs)
  }

  def pass(spark: SparkSession, qs: Seq[(String, Trace.Builder)],
      sink: String => Sink = _ => Noop): (Long, Long, Seq[QRun]) = {
    val s = System.nanoTime()
    val runs = qs.map { case (q, b) => runQuery(spark, q, () => b(spark), sink(q)) }
    (s, System.nanoTime(), runs)
  }

  def passJson(p: (Long, Long, Seq[QRun])): Map[String, Any] = Map(
    "wall_s" -> secs(p._2 - p._1),
    "queries" -> p._3.map(r => Map("name" -> r.name, "build_s" -> secs(r.buildNs),
      "mat_s" -> secs(r.matNs), "error" -> r.error.orNull)))

  def registry(names: Seq[String], dir: String): Seq[(String, Trace.Builder)] =
    names.map(n => n -> ((s: SparkSession) => graft.SparkEntry.queries(n)(s, dir)))

  def run(a: Args, names: Seq[String]): Map[String, Any] = {
    val qs = registry(names, a.data)
    new java.io.File(s"${a.runDir}/out").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${a.runDir}/out/oracle_sql.json"),
      Json(names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Set-up: session build plus the warm-up pass, cold (first JIT and
    // codegen of every query). The warm-up pass writes the outputs the
    // oracle gate compares.
    val cg0 = Trace.codegen()
    val t0 = System.nanoTime()
    val spark = session(a)
    val verify = pass(spark, qs, q => Parquet(s"${a.runDir}/out/$q"))
    val setup = secs(System.nanoTime() - t0)
    val codegenSetup = Trace.codegenSince(cg0)
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> setup,
      "codegen_setup" -> codegenSetup,
      "verify" -> passJson(verify), "host_pre" -> canary(spark, a.data, a.trace))
    if (!a.trace) {
      val rss = new Rss.Sampler(20)
      val start = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[(Long, Long, Seq[QRun])]
      while (secs(System.nanoTime() - start) < a.seconds ||
        (passes.map(_._3.size).sum < a.minSamples && secs(System.nanoTime() - start) < 3 * a.seconds)) {
        System.gc() // collect between passes, not inside one
        passes += pass(spark, qs)
      }
      out("peak_rss_mb") = rss.stop()
      out("timed_s") = secs(System.nanoTime() - start)
      out("passes") = passes.map(passJson).toSeq
    } else {
      val tables = Inputs(a.workload).map(t => t -> tableLoader(t, a.data))
      // no batch workload runs micro-batches, and event_ops' queries pin
      // no checkpoints: probes measure those layers
      out ++= Trace.passes(spark, a, qs, tables, codegenSetup, StreamBench.layerProbe(spark, a),
        ckptProbe = a.workload == "event_ops")
    }
    out("host_post") = canary(spark, a.data, a.trace)
    stop(spark)
    out.toMap
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
