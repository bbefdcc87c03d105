package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.Streaming
import graft.streaming.Streaming.Ev

/** A generated stream row; `src` 0 and 1 are the operators' two inputs. */
final case class Tagged(user_id: Long, tsUs: Long, value: Double, src: Int)

/** One output row of any of the four streamed operators: `op` 0 to 3 is
  * ziplatest (value = a), switch, throttle, as-of (b = asof_value). */
final case class Out(op: Int, user_id: Long, tsUs: Long, value: Option[Double],
    b: Option[Double], src: Option[Int], asof_ts: Option[Long])

/**
 * Open-loop streaming workload. One generator thread appends seeded
 * events on a fixed 10 ms schedule that never waits for the system;
 * each event is stamped with the time its tick was due (`tsUs`), so a
 * generator that runs late counts against latency, and carries its id
 * as `value`. The events drive `Streaming.ziplatestStream`,
 * `switchStream`, `throttleStream` and `asofStream`, unioned into one
 * streaming query over one `MemoryStream`. The two inputs are split by
 * `src` from that one source, so each tick reaches both inputs in the
 * same micro-batch and per-key order holds across batches, which the
 * switch and as-of operators assume. Out-of-order events are therefore
 * out of order within one append (one tick), never across micro-batches.
 *
 * The input rate first holds [[RefRate]], whose latency is reported,
 * then climbs the [[Ramp]] past the query's capacity. Latency is sink
 * wall-clock time minus the due time of the event that produced the row
 * (throttle rows map back to their event by id, so its admit-time shift
 * is excluded).
 */
object StreamBench {
  import PerfBench._

  /** The reference rate (events/s): its latency is the reported latency,
    * and it gets [[RefShare]] of the measured seconds. */
  val RefRate = 4000
  val RefShare = 0.75
  /** The ramp after the reference rung: (events/s, share of the measured
    * seconds). A 4-core host reads about 35k events/s, so the top rung
    * outruns it: the backlog grows and every micro-batch reads all that
    * has arrived, which measures the capacity. */
  val Ramp = Seq(12000 -> 0.05, 24000 -> 0.05, 56000 -> 0.15)
  /** A rung is sustained while the p99 latency of its events stays
    * under this limit (reported per rung; on an ascending ramp a backlog
    * that grows shows as rising latency of the events that follow it). */
  val LatencyLimitMs = 5000.0
  val TickMs = 10L
  /** The timed query first runs this long at [[RefRate]], unmeasured, so
    * its state stores exist and its micro-batch path is compiled before
    * the reference rung. */
  val PrimeSeconds = 8.0
  /** Length of the streaming layer probe in batch workloads, primed at
    * half the rate for [[ProbePrimeSeconds]]. */
  val ProbeSeconds = 2.0
  val ProbePrimeSeconds = 1.5
  val ThrottleMax = 3
  val ThrottleIntervalSec = 0.05

  private val epochUs = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def clockUs(): Long = epochUs + (System.nanoTime() - nano0) / 1000L

  final class Leg(spark: SparkSession, payload: Array[(Long, Int, Long, Boolean)], ckpt: String) {
    import spark.implicits._
    val names = Seq("ziplatest", "switch", "throttle", "asof")
    val mem = MemoryStream[Tagged](spark, 1)
    val stampUs = new Array[Long](payload.length)
    @volatile var emitted = 0
    // rows appended per addData call, cumulative: offset k covers cum(k) rows
    val cum = mutable.ArrayBuffer.empty[Int]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    // sink records: (sink time us, rows)
    val sunk = mutable.ArrayBuffer.empty[(Long, Array[Row])]

    private def split(ds: Dataset[Tagged], s: Int): Dataset[Ev] =
      ds.filter(_.src == s).map(t => Ev(t.user_id, t.tsUs, t.value))

    /** The four operators' outputs in one schema, tagged by `op`. */
    private def plan: DataFrame = {
      val ds = mem.toDS()
      val all = ds.map(t => Ev(t.user_id, t.tsUs, t.value))
      Seq(
        Streaming.ziplatestStream(split(ds, 0), split(ds, 1))
          .map(o => Out(0, o.user_id, o.tsUs, o.a, o.b, None, None)),
        Streaming.switchStream(Seq(split(ds, 0), split(ds, 1)))
          .map(o => Out(1, o.user_id, o.tsUs, Some(o.value), None, Some(o.src), None)),
        Streaming.throttleStream(all, ThrottleMax, ThrottleIntervalSec)
          .map(o => Out(2, o.user_id, o.tsUs, Some(o.value), None, None, None)),
        Streaming.asofStream(split(ds, 0), split(ds, 1))
          .map(o => Out(3, o.user_id, o.tsUs, Some(o.value), o.asof_value, None, o.asof_ts)))
        .reduce(_ union _).toDF()
    }

    // One state partition per operator: the four stateful operators of
    // the one query run side by side on the four cores, and a micro-batch
    // commits four state stores, not sixteen.
    private val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val query: StreamingQuery = plan.writeStream.queryName("perfbench_stream")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: Dataset[Row], _: Long) => {
        val rows = b.collect()
        val t = clockUs()
        sunk.synchronized(sunk += ((t, rows)))
        ()
      }).start()
    spark.conf.set("spark.sql.shuffle.partitions", partitions)

    /** Appends the next `n` events (out-of-order ones swapped with
      * their successor), stamped from `dueUs` on. */
    def emit(n: Int, dueUs: Long): Unit = {
      val from = emitted
      val to = math.min(payload.length, from + n)
      if (to > from) {
        val idx = (from until to).toArray
        var i = 0
        while (i < idx.length - 1) {
          if (payload(idx(i))._4) { val t = idx(i); idx(i) = idx(i + 1); idx(i + 1) = t; i += 1 }
          i += 1
        }
        var last = if (from == 0) 0L else stampUs(from - 1)
        (from until to).foreach { j => last = math.max(dueUs, last + 1); stampUs(j) = last }
        val rows = idx.map(j => Tagged(payload(j)._3, stampUs(j), payload(j)._1.toDouble, payload(j)._2))
        mem.addData(rows.toSeq)
        emitted = to
        cum += to
      }
    }

    /** Rows appended up to a `MemoryStream` offset (null or -1: none). */
    def eventsAt(offset: String): Int =
      Option(offset).flatMap(o => scala.util.Try(o.trim.toInt).toOption)
        .filter(off => off >= 0 && cum.nonEmpty).map(off => cum(math.min(off, cum.size - 1)))
        .getOrElse(0)

    /** Rows appended but not yet read by a completed micro-batch. */
    def backlog(): Int = emitted -
      Option(query.lastProgress).flatMap(_.sources.headOption).map(s => eventsAt(s.endOffset))
        .getOrElse(0)

    /** Runs the generator at `rate` for `seconds`; returns rung stats. */
    def rung(rate: Int, seconds: Double): Map[String, Any] = {
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val first = emitted
      var backlogMax = 0
      var k = 1L
      val ticks = (seconds * 1000 / TickMs).toLong
      while (k <= ticks) {
        val due = t0 + k * TickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMs += math.max(0L, System.nanoTime() - due) / 1e6
        val target = first + (rate.toLong * k * TickMs / 1000L).toInt
        emit(target - emitted, epochUs + (due - nano0) / 1000L)
        if (k % 5 == 0) backlogMax = math.max(backlogMax, backlog())
        k += 1
      }
      val wall = secs(System.nanoTime() - t0)
      Map("rate" -> rate, "first" -> first, "last" -> emitted, "wall_s" -> wall,
        "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis(),
        "measured_eps" -> (emitted - first) / wall, "backlog_max" -> backlogMax)
    }

    /** Waits until the query has read everything, then stops it. */
    def drain(): Unit = {
      query.processAllAvailable()
      query.stop()
    }

    /** (event index, latency ms) of every sunk row. */
    def latencies(): Seq[(Int, Double)] = {
      val byTs = stampUs.zipWithIndex.take(emitted).toMap
      sunk.toSeq.flatMap { case (t, rows) =>
        rows.toSeq.flatMap { r =>
          val idx = if (r.getAs[Int]("op") == 2) Some(r.getAs[Double]("value").toInt)
            else byTs.get(r.getAs[Long]("tsUs"))
          idx.map(i => (i, (t - stampUs(i)) / 1000.0))
        }
      }
    }

    /** Operator `n`'s sunk rows as comparison keys, fields in the order
      * of its batch counterpart in [[reference]]. */
    def output(n: String): Seq[String] = {
      val op = names.indexOf(n)
      val fields = Seq(Seq("user_id", "tsUs", "value", "b"), Seq("user_id", "tsUs", "value", "src"),
        Seq("user_id", "tsUs", "value"), Seq("user_id", "tsUs", "value", "asof_ts", "b"))(op)
      sunk.toSeq.flatMap(_._2.toSeq).filter(_.getAs[Int]("op") == op)
        .map(r => fields.map(f => String.valueOf(r.get(r.fieldIndex(f)))).mkString("|"))
    }
  }

  def loadPayload(spark: SparkSession, dir: String): Array[(Long, Int, Long, Boolean)] =
    spark.read.parquet(s"$dir/stream.parquet").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getLong(3) == 1L))

  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** The batch `EventStream` counterparts of the four streamed
    * operators, over the stamped events written to `path`. */
  def reference(path: String): Seq[(String, Trace.Builder)] = {
    def ev(s: SparkSession) = s.read.parquet(path)
    def es(s: SparkSession, src: Int) = graft.engine.EventStream(
      ev(s).filter(col("src") === src).select("seq", "ts", "user_id", "value"),
      keys = Seq("user_id"))
    def micros(s: SparkSession, src: Int) =
      ev(s).filter(col("src") === src).select(col("user_id"), col("tsUs"), col("value"))
    Seq(
      "ref_ziplatest" -> (s => graft.engine.EventStream.ziplatest(Seq(es(s, 0), es(s, 1)),
        "value", Seq("a", "b"), partial = true, "src").df
        .select(col("user_id"), unix_micros(col("ts")).as("tsUs"), col("a"), col("b"))),
      "ref_switch" -> (s => graft.engine.EventStream.switch(Seq(es(s, 0), es(s, 1)), "src", "oseq")
        .df.select(col("user_id"), unix_micros(col("ts")).as("tsUs"), col("value"), col("src"))),
      "ref_throttle" -> (s => graft.engine.EventStream(
        ev(s).select("seq", "ts", "user_id", "value"), keys = Seq("user_id"))
        .throttle(ThrottleMax, ThrottleIntervalSec)
        .df.select(col("user_id"), unix_micros(col("ts")).as("tsUs"), col("value"))),
      "ref_asof" -> (s => graft.engine.AsofJoin.asofLeft(micros(s, 0), micros(s, 1),
        "user_id", "tsUs", Seq("value"))
        .select(col("user_id"), col("tsUs"), col("value"), col("asof_tsUs"), col("asof_value"))))
  }

  /** Multiset comparison of a stream sink's rows with the batch rows. */
  def compare(got: Seq[String], exp: Seq[Row]): Option[String] = {
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    val e = exp.map(_.toSeq.map(String.valueOf).mkString("|"))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    if (g == e) None
    else {
      val miss = e.find { case (k, c) => g.getOrElse(k, 0) != c }.map(_._1)
      val extra = g.find { case (k, c) => e.getOrElse(k, 0) != c }.map(_._1)
      Some(s"stream ${got.size} rows vs batch ${exp.size}; first batch-side diff ${miss.orNull}; " +
        s"first stream-side diff ${extra.orNull}")
    }
  }

  /** The streaming layer's metrics from a probe's micro-batch progress. */
  def streamLayer(p: Probe, backlogMax: Int, genLateMax: Double): Map[String, Double] = {
    val batches = p.synchronized(p.progress.toList)
    def dur(k: String) = batches.map(b => Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val ops = batches.flatMap(_.stateOperators.toSeq)
    val lastState = batches.groupBy(_.id).values.map(_.maxBy(_.batchId))
      .flatMap(_.stateOperators.toSeq)
    Map(
      "stream.batch_ms_p50" -> Trace.median(dur("triggerExecution")),
      "stream.add_batch_ms" -> mean(dur("addBatch")),
      "stream.query_planning_ms" -> mean(dur("queryPlanning")),
      "stream.wal_commit_ms" -> mean(dur("walCommit")),
      "stream.commit_offsets_ms" -> mean(dur("commitOffsets")),
      "stream.state_rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
      "stream.state_mem_mb" -> lastState.map(_.memoryUsedBytes.toDouble).sum / 1048576.0,
      "stream.late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "stream.batches" -> batches.size.toDouble,
      "stream.backlog_rows_max" -> backlogMax.toDouble,
      "stream.generator_late_ms_max" -> genLateMax)
  }

  /** The streaming layer in a batch workload's traced run: the same
    * query over the input directory's small `stream` table, primed, then
    * [[ProbeSeconds]] at [[RefRate]]. */
  def layerProbe(spark: SparkSession, a: Args): Map[String, Double] = {
    val p = new Probe(spark)
    p.attach()
    val leg = new Leg(spark, loadPayload(spark, a.data), s"${a.runDir}/ckpt/probe")
    leg.rung(RefRate / 2, ProbePrimeSeconds)
    val r = leg.rung(RefRate, ProbeSeconds)
    leg.drain()
    Thread.sleep(300) // the listener bus delivers the last progress
    p.detach()
    streamLayer(p, r("backlog_max").asInstanceOf[Int], leg.lateMs.max)
  }

  def run(a: Args): Map[String, Any] = {
    // set-up: session build plus a warm-up leg (its own query and state
    // store), cold; loading the generated payload is input, not set-up
    val cg0 = Trace.codegen()
    val t0 = System.nanoTime()
    val spark = session(a)
    val tSession = System.nanoTime() - t0
    val payload = loadPayload(spark, a.data)
    val t1 = System.nanoTime()
    val warm = new Leg(spark, payload.take(RefRate), s"${a.runDir}/ckpt/warm")
    warm.rung(RefRate, 1.0)
    warm.drain()
    val setup = secs(tSession + System.nanoTime() - t1)
    val cg = Trace.codegenSince(cg0)
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> setup, "codegen_setup" -> cg)
    out("host_pre") = canary(spark, a.data, a.trace)
    val probe = if (a.trace) { val p = new Probe(spark); p.attach(); Some(p) } else None
    val rss = new Rss.Sampler(20)
    val leg = new Leg(spark, payload, s"${a.runDir}/ckpt/timed")
    // priming rung: the query's first micro-batches (state store
    // creation, JIT) land here, outside every measured rung
    leg.rung(RefRate, PrimeSeconds)
    val start = System.nanoTime()
    val ref = leg.rung(RefRate, a.seconds * RefShare)
    val ramp = Ramp.map { case (r, share) => leg.rung(r, a.seconds * share) }
    val rungs = ref +: ramp
    val genLateMax = if (leg.lateMs.isEmpty) 0.0 else leg.lateMs.max
    val backlogMax = rungs.map(_("backlog_max").asInstanceOf[Int]).max
    leg.drain()
    out("peak_rss_mb") = rss.stop()
    out("timed_s") = secs(System.nanoTime() - start)
    // wall time of every micro-batch that started in the reference rung
    // and read input
    val (refStart, refEnd) = (ref("start_ms").asInstanceOf[Long], ref("end_ms").asInstanceOf[Long])
    out("batch_ms") = leg.query.recentProgress.toSeq
      .filter { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        p.numInputRows > 0 && t >= refStart && t < refEnd
      }
      .map(p => p.durationMs.get("triggerExecution").toDouble)
    val tPost = System.nanoTime()
    val lat = leg.latencies()
    val rungStats = rungs.map { r =>
      val (f, l) = (r("first").asInstanceOf[Int], r("last").asInstanceOf[Int])
      val xs = lat.filter { case (i, _) => i >= f && i < l }.map(_._2)
      val p99 = pct(xs, 99)
      r ++ Map("n" -> xs.size, "p50_ms" -> pct(xs, 50), "p90_ms" -> pct(xs, 90),
        "p99_ms" -> p99, "sustained" -> (p99 < LatencyLimitMs))
    }
    out("rungs") = rungStats
    val (rf, rl) = (ref("first").asInstanceOf[Int], ref("last").asInstanceOf[Int])
    out("latency_ms_ref") = lat.filter { case (i, _) => i >= rf && i < rl }.map(_._2)
    out("ladder_sustained_eps") = rungStats.takeWhile(_("sustained") == true).lastOption
      .map(_("measured_eps")).getOrElse(0.0)
    // capacity: events read per second of micro-batch time over the
    // batches that start in the top rung or in the drain after it. A
    // drain remainder that reads under a quarter of the largest of them
    // is left out: it holds the last ticks' events, not a backlog, so its
    // time is mostly per-batch overhead.
    val top = rungs.last("start_ms").asInstanceOf[Long]
    val late = leg.query.recentProgress.toSeq.filter(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli >= top && p.numInputRows > 0)
      .map(p => (leg.eventsAt(p.sources.head.endOffset) - leg.eventsAt(p.sources.head.startOffset),
        p.durationMs.get("triggerExecution").toDouble))
    val largest = if (late.isEmpty) 0 else late.map(_._1).max
    val saturated = late.filter(_._1 * 4 >= largest)
    out("saturated_batches") = saturated.map { case (n, ms) => Seq(n, ms) }
    out("capacity_eps") = saturated.map(_._1).sum * 1000.0 / saturated.map(_._2).sum

    // stamped events -> parquet; the batch counterparts read them back
    val evPath = s"${a.runDir}/stream_events.parquet"
    val sp = spark
    import sp.implicits._
    (0 until leg.emitted).map(i => (payload(i)._1, i.toLong, leg.stampUs(i),
      payload(i)._3, payload(i)._1.toDouble, payload(i)._2))
      .toDF("id", "seq", "tsUs", "user_id", "value", "src")
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .write.mode("overwrite").parquet(evPath)
    val qs = reference(evPath)
    val streamed = leg.names.map(n => n -> leg.output(n)).toMap
    val verdicts = qs.map { case (n, b) =>
      val exp = b(spark).collect().toSeq
      n -> compare(streamed(n.stripPrefix("ref_")), exp)
    }
    out("check_s") = secs(System.nanoTime() - tPost)
    out("stream_checks") = verdicts.map { case (n, v) => Map("name" -> n, "error" -> v.orNull) }
    if (a.trace) {
      val p = probe.get
      val batches = p.synchronized(p.progress.toList)
      val stream = streamLayer(p, backlogMax, genLateMax)
      // micro-batch spans with their durationMs phases as children
      val spans = new Spans
      val root = spans.add(-1, "run", start, System.nanoTime())
      batches.foreach { b =>
        val startUs = java.time.Instant.parse(b.timestamp).toEpochMilli * 1000L
        val tot = Option(b.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
        val s0 = nano0 + (startUs - epochUs) * 1000L
        val bs = spans.add(root, s"batch:${b.name}:${b.batchId}", s0, s0 + tot * 1000000L)
        var off = s0
        Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")
          .foreach { k =>
            Option(b.durationMs.get(k)).map(_.toLong).foreach { ms =>
              spans.add(bs, k, off, off + ms * 1000000L); off += ms * 1000000L
            }
          }
      }
      p.detach()
      val tables = Seq("stream_events" -> ((s: SparkSession) => s.read.parquet(evPath)))
      val traced = Trace.passes(spark, a, qs, tables, cg, stream, ckptProbe = true)
      Trace.writeSpans(spans, s"${a.runDir}/stream_spans.jsonl")
      out ++= traced
    }
    out("host_post") = canary(spark, a.data, a.trace)
    val tStop = System.nanoTime()
    stop(spark)
    out("stop_s") = secs(System.nanoTime() - tStop)
    out("jvm_s") = secs(System.nanoTime() - nano0)
    out.toMap
  }
}
