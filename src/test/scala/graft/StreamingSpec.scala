package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streaming
import graft.streaming.Streaming.Ev

/** Structured Streaming parity: the same semantics the batch engine pins
  * with golden values, driven through live streaming queries
  * (MemoryStream source → watermark/state → memory sink). */
class StreamingSpec extends SparkSpec {

  test("EventBus emit -> live query -> listener (event.py:87-225 pub-sub)") {
    val bus = new Streaming.EventBus(spark)
    bus.emit(Ev(1L, 1_000_000L, 1.0), Ev(1L, 2_000_000L, 2.0), Ev(2L, 2_500_000L, 5.0))
    val got = Streaming.runToMemory(bus.events, "bus_out")
    assert(got.count() === 3)
    assert(got.agg(sum("value")).collect()(0).getDouble(0) === 8.0)
  }

  test("windowed counts with watermark (ChunkWith streaming form)") {
    val bus = new Streaming.EventBus(spark)
    // user 1: two rows in [0,10s), one in [10,20s)
    bus.emit(
      Ev(1L, 1_000_000L, 1.0), Ev(1L, 4_000_000L, 2.0), Ev(1L, 12_000_000L, 3.0),
      Ev(2L, 5_000_000L, 10.0))
    val agg = Streaming.windowedCounts(bus.events, "10 seconds", "0 seconds")
    val got = Streaming.runToMemory(agg, "win_out", OutputMode.Complete())
      .select(col("window.start").cast("long").as("w"), col("user_id"), col("n"), col("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === Set((0L, 1L, 2L, 3.0), (10L, 1L, 1L, 3.0), (0L, 2L, 1L, 10.0)))
  }

  test("streaming Errors/EndOnError: dead-letter split + trip on first error (ops/misc.py)") {
    import scala.collection.mutable
    // Errors: one pass per micro-batch, split into main + dead-letter
    val bus = new Streaming.EventBus(spark)
    val mainRows = mutable.Set.empty[(Long, Double)]
    val dead = mutable.Set.empty[(Long, Double)]
    val in = bus.eventsTyped.toDF().select(col("user_id"), col("tsUs"), col("value"))
    // value 2.0 gets a NULL predicate — it must still land in exactly
    // one output (main), not vanish from both (filter(p)/filter(!p)
    // each exclude NULL rows; the split coalesces NULL to false)
    val isErr = when(col("value") === 2.0, lit(null).cast("boolean"))
      .otherwise(col("value") < 0)
    val q = Streaming.errorSplit(in, isErr,
      b => mainRows ++= b.collect().map(r => (r.getLong(1), r.getDouble(2))),
      b => dead ++= b.collect().map(r => (r.getLong(1), r.getDouble(2))))
    bus.emit(Ev(1L, 1L, 1.0), Ev(1L, 2L, -5.0), Ev(1L, 3L, 2.0))
    q.processAllAvailable(); q.stop()
    assert(mainRows === Set((1L, 1.0), (3L, 2.0)))
    assert(dead === Set((2L, -5.0)))

    // EndOnError: rows pass until the first error; the tripping batch
    // keeps only rows strictly before it; later batches emit nothing
    val bus2 = new Streaming.EventBus(spark)
    val out = mutable.Set.empty[Long]
    val in2 = bus2.eventsTyped.toDF().select(col("user_id"), col("tsUs"), col("value"))
    val (q2, tripped) = Streaming.endOnError(in2, col("value") < 0, "tsUs",
      b => out ++= b.collect().map(_.getLong(1)))
    bus2.emit(Ev(1L, 1L, 1.0), Ev(1L, 2L, 2.0))
    q2.processAllAvailable()
    assert(!tripped.get)
    assert(out === Set(1L, 2L))
    bus2.emit(Ev(1L, 3L, 3.0), Ev(1L, 4L, -1.0), Ev(1L, 5L, 5.0))
    q2.processAllAvailable()
    assert(tripped.get)
    assert(out === Set(1L, 2L, 3L))
    bus2.emit(Ev(1L, 6L, 6.0))
    q2.processAllAvailable()
    assert(out === Set(1L, 2L, 3L)) // dropped entirely after the trip
    q2.stop()
  }

  test("streaming OHLC bars: open/close stable across micro-batches") {
    val bus = new Streaming.EventBus(spark)
    // batch 1 sets open (1s) and close (9s) of bar [0,10); batch 2
    // inserts a MIDDLE tick (4s, new high) — open/close must not move —
    // and opens bar [10,20)
    bus.emit(Ev(1L, 1_000_000L, 10.0), Ev(1L, 9_000_000L, 11.0),
      Ev(2L, 5_000_000L, 50.0))
    bus.emit(Ev(1L, 4_000_000L, 12.5), Ev(1L, 12_000_000L, 20.0))
    val in = bus.eventsTyped.toDF()
      .select(col("user_id").as("key"), col("tsUs").as("seq"), col("tsUs"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"),
        timestamp_micros(col("tsUs")).as("ts"))
    val got = Streaming.runToMemory(
      Streaming.ohlcBars(in, "10 seconds", "0 seconds"),
      "ohlc_out", OutputMode.Complete())
      .select(col("window.start").cast("long").as("w"), col("key"),
        col("open_c"), col("high_c"), col("low_c"), col("close_c"),
        col("n"), col("vol_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSet
    assert(got === Set(
      (0L, 1L, 1000L, 1250L, 1000L, 1100L, 3L, 3350L),
      (10L, 1L, 2000L, 2000L, 2000L, 2000L, 1L, 2000L),
      (0L, 2L, 5000L, 5000L, 5000L, 5000L, 1L, 5000L)))
  }

  test("streaming sample: latest value per key at each grid tick (ops/timing.py:187)") {
    val bus = new Streaming.EventBus(spark)
    bus.emit(
      Ev(1L, 1_000_000L, 1.0), Ev(1L, 4_000_000L, 2.0),   // tick @10s -> 2.0
      Ev(1L, 12_000_000L, 3.0),                           // tick @20s -> 3.0
      Ev(2L, 5_000_000L, 10.0))                           // tick @10s -> 10.0
    val got = Streaming.runToMemory(
      Streaming.sampleGrid(bus.events, "10 seconds", "0 seconds"),
      "sample_out", OutputMode.Complete())
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((10L, 1L, 2.0), (20L, 1L, 3.0), (10L, 2L, 10.0)))
  }

  test("streaming dedup: duplicate keys within the watermark are dropped") {
    val bus = new Streaming.EventBus(spark)
    // value stands in for a content hash: 1.0 arrives three times from
    // two users, 2.0 once. State is keyed on the dedup column only.
    bus.emit(
      Ev(1L, 1_000_000L, 1.0), Ev(2L, 2_000_000L, 1.0),
      Ev(1L, 3_000_000L, 2.0), Ev(1L, 4_000_000L, 1.0))
    val out = Streaming.dedupStream(bus.events, Seq("value"), "ts", "10 seconds")
    val got = Streaming.runToMemory(out, "dedup_out")
      .select("value").collect().map(_.getDouble(0)).toSeq.sorted
    assert(got == Seq(1.0, 2.0))
  }

  test("live corpus prep: quality filter -> exact dedup composes across micro-batches") {
    // The streaming ops compose like the batch pipeline queries: a
    // quality filter feeds watermarked dedup state, and a duplicate
    // arriving in a LATER micro-batch is still dropped by that state.
    val bus = new Streaming.EventBus(spark)
    val prep = Streaming.dedupStream(
      bus.events.filter(org.apache.spark.sql.functions.col("value") >= 1.0),
      Seq("value"), "ts", "10 seconds")
    val q = prep.writeStream.format("memory").queryName("prep_out")
      .outputMode("append").start()
    bus.emit(Ev(1L, 1_000_000L, 1.0), Ev(1L, 2_000_000L, 0.5), Ev(2L, 3_000_000L, 2.0))
    q.processAllAvailable()
    assert(spark.table("prep_out").count() == 2, "low-quality row must not reach dedup")
    bus.emit(Ev(3L, 4_000_000L, 1.0), Ev(3L, 5_000_000L, 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("prep_out").select("value")
      .collect().map(_.getDouble(0)).toSeq.sorted
    assert(got == Seq(1.0, 2.0, 3.0), "cross-batch duplicate must be dropped")
  }

  test("streaming sessionize: gap merges within, splits across (q_sessionize live form)") {
    val bus = new Streaming.EventBus(spark)
    // user 1: events at 0s,3s (one session, gap 5s), then 20s (new
    // session); user 2: one event
    bus.emit(
      Ev(1L, 0L, 1.0), Ev(1L, 3_000_000L, 2.0), Ev(1L, 20_000_000L, 4.0),
      Ev(2L, 1_000_000L, 10.0))
    val out = Streaming.sessionize(bus.events, "5 seconds", "0 seconds")
    val got = Streaming.runToMemory(out, "sess_out", OutputMode.Complete())
      .select(col("user_id"), col("n"), col("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 10.0)))
  }

  test("connect: per-batch listener callback (event.py:87-140)") {
    val bus = new Streaming.EventBus(spark)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = Streaming.connect(bus.events, b => seen.addAndGet(b.count()))
    bus.emit(Ev(1L, 1_000_000L, 1.0), Ev(2L, 2_000_000L, 2.0))
    q.processAllAvailable()
    bus.emit(Ev(1L, 3_000_000L, 3.0))
    q.processAllAvailable()
    q.stop()
    assert(seen.get() === 3)
  }

  test("transformWithState throttle rewrites admit times (ops/timing.py:104)") {
    // max 2 per 1s, user 1 bursts 5 rows at t=0..0.1s:
    // admits at 0, 0.1 (window free), then 0+1s, 0.1+1s, then 1.0+1s.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val bus = new Streaming.EventBus(spark)
      bus.emit(
        Ev(1L, 0L, 1.0), Ev(1L, 100_000L, 2.0), Ev(1L, 110_000L, 3.0),
        Ev(1L, 120_000L, 4.0), Ev(1L, 130_000L, 5.0))
      val out = Streaming.throttleStream(bus.eventsTyped, maximum = 2, intervalSec = 1.0)
      val got = Streaming.runToMemory(out.toDF(), "thr_out")
        .orderBy("tsUs").collect().map(r => (r.getLong(1), r.getDouble(2))).toList
      assert(got == List(
        (0L, 1.0), (100_000L, 2.0),
        (1_000_000L, 3.0), (1_100_000L, 4.0), (2_000_000L, 5.0)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sinks: key-partitioned batch write and checkpointed stream write") {
    import graft.sources.{Sinks, Sources}
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString
    // batch: keyed write partitions by key
    val es = graft.engine.EventStream(
      graft.Tables.events(spark, "/root/testdata/sf0.001"), keys = Seq("user_id"))
    Sinks.toParquet(es, s"$tmp/batch")
    assert(new java.io.File(s"$tmp/batch").listFiles().exists(_.getName.startsWith("user_id=")))
    assert(spark.read.parquet(s"$tmp/batch").count() === es.df.count())
    // streaming: durable append with checkpoint
    val bus = new Streaming.EventBus(spark)
    bus.emit(Ev(1L, 1_000_000L, 1.0), Ev(2L, 2_000_000L, 2.0))
    val q = Sinks.streamToParquet(bus.events, s"$tmp/stream", s"$tmp/ckpt")
    q.awaitTermination()
    assert(spark.read.parquet(s"$tmp/stream").count() === 2)
  }

  test("streaming minhash: near-dup pair detected live, across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills near the old stone bridge"
    val mem = MemoryStream[Streaming.DocEv](spark, 1)
    mem.addData(Streaming.DocEv(0L, base),
      Streaming.DocEv(2L, "completely different content about spark catalyst optimizer rules and distributed shuffle execution plans"))
    val out = Streaming.minhashCandStream(mem.toDS(), 3, 12, 4, 3)
    val q = out.toDF().writeStream.format("memory").queryName("mh_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // the near-dup arrives in a LATER batch: bucket state must persist
    mem.addData(Streaming.DocEv(1L, base.replace("rain", "snow")))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("mh_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("streaming minhash: a doc id delivered twice yields no self-pair and " +
      "the single-delivery pair set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills near the old stone bridge"
    val docs = Map(
      0L -> base,
      1L -> base.replace("rain", "snow"),
      2L -> "completely different content about spark catalyst optimizer rules and distributed shuffle execution plans",
      3L -> base.replace("green", "brown"))
    def pairs(batches: Seq[Seq[Long]], sink: String): Seq[(Long, Long)] = {
      val mem = MemoryStream[Streaming.DocEv](spark, 1)
      val q = Streaming.minhashCandStream(mem.toDS(), 3, 12, 4, 3).toDF()
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      batches.foreach { ids =>
        mem.addData(ids.map(i => Streaming.DocEv(i, docs(i))): _*)
        q.processAllAvailable()
      }
      q.stop()
      spark.table(sink).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val once = pairs(Seq(Seq(0L, 2L), Seq(1L, 3L)), "mh_once")
    // doc 0 twice in the first batch and again in the second
    val twice = pairs(Seq(Seq(0L, 2L, 0L), Seq(1L, 0L, 3L)), "mh_twice")
    assert(once.toSet.contains((0L, 1L)))
    assert(!twice.exists(p => p._1 == p._2), s"self-pair emitted: $twice")
    assert(twice.toSet === once.toSet)
  }

  test("bucketed tables: co-located join and aggregation plan ZERO exchanges") {
    import graft.sources.Sinks
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("seq", "user_id", "value")
    Sinks.toBucketedTable(ev, "ev_bucketed", 8, Seq("user_id"))
    // disable broadcast so the join exercises the co-located path the
    // bucketing exists for (at fact-fact scale broadcast is off the
    // table anyway)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = spark.table("ev_bucketed")
      // self-join on the bucket column: both sides pre-hashed at write
      // time -> no shuffle exchange; sortBy also removes per-task sorts
      val joined = t.as("l").join(t.as("r"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must be bucketed:\n$plan")
      // aggregation on the bucket column: likewise exchange-free
      val agg = t.groupBy("user_id").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
      // and the data still round-trips
      assert(t.count() === ev.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    }
  }

  test("stream-static join: live events enriched from a broadcast dimension") {
    import spark.implicits._
    val bus = new Streaming.EventBus(spark)
    bus.emit(Ev(1L, 1_000_000L, 1.0), Ev(2L, 2_000_000L, 2.0), Ev(3L, 3_000_000L, 3.0))
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val joined = bus.events.join(
      org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
    val got = Streaming.runToMemory(joined, "ss_join_out")
      .select("user_id", "tier").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got === Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
  }

  test("streaming merge: stream-stream union is native (ops/combine.py:97)") {
    val a = new Streaming.EventBus(spark)
    val b = new Streaming.EventBus(spark)
    val merged = Streaming.mergeStream(Seq(a.eventsTyped, b.eventsTyped)).toDF()
    val q = merged.writeStream.format("memory").queryName("merge_out")
      .outputMode("append").start()
    // batch 1: one event from each side
    a.emit(Ev(1L, 1_000_000L, 1.0))
    b.emit(Ev(1L, 2_000_000L, 2.0))
    q.processAllAvailable()
    assert(spark.table("merge_out").count() == 2)
    // batch 2: a late arrival from a — merge has no state, it just flows
    a.emit(Ev(1L, 3_000_000L, 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("merge_out")
      .orderBy("tsUs").collect().map(_.getDouble(2)).toList
    assert(got == List(1.0, 2.0, 3.0))
  }

  private def withRocksDb[T](f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming zip: positional pairs across micro-batches (tests/combine_test.py:39)") {
    withRocksDb {
      // reference golden: zip(range(10), range(100,110)) == [(i, 100+i)]
      val a = new Streaming.EventBus(spark)
      val b = new Streaming.EventBus(spark)
      val out = Streaming.zipStream(a.eventsTyped, b.eventsTyped)
      val q = out.toDF().writeStream.format("memory").queryName("zip_out")
        .outputMode("append").start()
      // batch 1: A runs ahead of B — pairs 0..2 complete, A queues 2
      a.emit((0 to 4).map(i => Ev(1L, i * 1000L, i.toDouble)): _*)
      b.emit((0 to 2).map(i => Ev(1L, i * 1000L + 1, 100.0 + i)): _*)
      q.processAllAvailable()
      val afterB1 = spark.table("zip_out").count()
      assert(afterB1 === 3, "only completed pairs may emit in batch 1")
      // batch 2: the rest — queued A heads pair with arriving B values
      a.emit((5 to 9).map(i => Ev(1L, i * 1000L, i.toDouble)): _*)
      b.emit((3 to 9).map(i => Ev(1L, i * 1000L + 1, 100.0 + i)): _*)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("zip_out").orderBy("idx")
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toList
      assert(got == (0 to 9).map(i => (i.toLong, i.toDouble, 100.0 + i)).toList)
      // and parity with the batch encoding on the same values
      val batchZip = graft.engine.EventStream.zip(
        seqStream(0 to 9), seqStream(100 to 109), "i")
      val batchPairs = batchZip.df.orderBy("i").select("value", "value_r")
        .collect().map(r => (r.getLong(0).toDouble, r.getLong(1).toDouble)).toList
      assert(got.map(t => (t._2, t._3)) == batchPairs)
    }
  }

  test("streaming ziplatest: partial and strict goldens across batches (tests/combine_test.py:50)") {
    withRocksDb {
      // reference golden: e1=[0,1], e2=[2,3] interleaved ->
      // [(0, NO_VALUE), (0, 2), (1, 2), (1, 3)]
      def run(strict: Boolean, name: String): List[(Option[Double], Option[Double])] = {
        val a = new Streaming.EventBus(spark)
        val b = new Streaming.EventBus(spark)
        val out = Streaming.ziplatestStream(a.eventsTyped, b.eventsTyped, strict)
        val q = out.toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        a.emit(Ev(1L, 0L, 0.0))
        b.emit(Ev(1L, 1000L, 2.0))
        q.processAllAvailable()
        a.emit(Ev(1L, 10_000L, 1.0))
        b.emit(Ev(1L, 11_000L, 3.0))
        q.processAllAvailable()
        q.stop()
        spark.table(name).orderBy("tsUs").collect()
          .map(r => (Option(r.getAs[java.lang.Double]("a")).map(_.toDouble),
            Option(r.getAs[java.lang.Double]("b")).map(_.toDouble))).toList
      }
      assert(run(strict = false, "zl_out") == List(
        (Some(0.0), None), (Some(0.0), Some(2.0)),
        (Some(1.0), Some(2.0)), (Some(1.0), Some(3.0))))
      // strict: rows suppressed until both sides have a value
      assert(run(strict = true, "zls_out") == List(
        (Some(0.0), Some(2.0)), (Some(1.0), Some(2.0)), (Some(1.0), Some(3.0))))
    }
  }

  test("streaming switch: first emission steals activity (tests/combine_test.py:19-24)") {
    withRocksDb {
      // reference golden: switch over three delayed sources emits
      // [0, 100] ++ [200..209] — each later source's first event steals
      // activity; the displaced source never emits again.
      val srcs = Seq.fill(3)(new Streaming.EventBus(spark))
      val out = Streaming.switchStream(srcs.map(_.eventsTyped))
      val q = out.toDF().writeStream.format("memory").queryName("switch_out")
        .outputMode("append").start()
      def ts(i: Int, off: Int): Long = i * 10_000L + off * 1000L
      // batch 1: first five ticks of each source
      for (i <- 0 until 5) {
        srcs(0).emit(Ev(1L, ts(i, 0), i.toDouble))
        srcs(1).emit(Ev(1L, ts(i, 1), 100.0 + i))
        srcs(2).emit(Ev(1L, ts(i, 2), 200.0 + i))
      }
      q.processAllAvailable()
      val afterB1 = spark.table("switch_out").orderBy("tsUs")
        .collect().map(_.getDouble(2)).toList
      assert(afterB1 == List(0.0, 100.0, 200.0, 201.0, 202.0, 203.0, 204.0))
      // batch 2: remaining ticks — only source 2 still passes
      for (i <- 5 until 10) {
        srcs(0).emit(Ev(1L, ts(i, 0), i.toDouble))
        srcs(1).emit(Ev(1L, ts(i, 1), 100.0 + i))
        srcs(2).emit(Ev(1L, ts(i, 2), 200.0 + i))
      }
      q.processAllAvailable()
      q.stop()
      val got = spark.table("switch_out").orderBy("tsUs")
        .collect().map(_.getDouble(2)).toList
      assert(got == List(0.0, 100.0) ++ (0 until 10).map(200.0 + _))
    }
  }

  test("streaming concat: later source's first emit kills earlier ones (tests/combine_test.py:26-31)") {
    withRocksDb {
      // reference golden: concat(e1 = 0..9 every 20ms, e2 = 100..109
      // from 70ms) emits [0,1,2,3] ++ [100..109] — e1 is cut at e2's
      // first emission, a row at the kill instant still passes.
      val a = new Streaming.EventBus(spark)
      val b = new Streaming.EventBus(spark)
      val out = Streaming.concatStream(Seq(a.eventsTyped, b.eventsTyped))
      // batch 1: e1's first five ticks, e2's first tick (at 70ms) — both
      // enqueued BEFORE start so they land in ONE micro-batch (emitting
      // after start races the trigger, which can split them)
      a.emit((0 until 5).map(i => Ev(1L, i * 20_000L, i.toDouble)): _*)
      b.emit(Ev(1L, 70_000L, 100.0))
      val q = out.toDF().writeStream.format("memory").queryName("concat_out")
        .outputMode("append").start()
      q.processAllAvailable()
      val afterB1 = spark.table("concat_out").orderBy("tsUs")
        .collect().map(_.getDouble(2)).toList
      assert(afterB1 == List(0.0, 1.0, 2.0, 3.0, 100.0),
        "e1's 80ms tick must already be dead in batch 1")
      // batch 2: the rest — e1 stays dead across batches
      a.emit((5 until 10).map(i => Ev(1L, i * 20_000L, i.toDouble)): _*)
      b.emit((1 until 10).map(i => Ev(1L, 70_000L + i * 20_000L, 100.0 + i)): _*)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("concat_out").orderBy("tsUs")
        .collect().map(_.getDouble(2)).toList
      assert(got == List(0.0, 1.0, 2.0, 3.0) ++ (0 until 10).map(100.0 + _))
    }
  }

  /** Parity harness for the live emap family: batch golden via the
    * children-array encoding, live via spawn across TWO micro-batches
    * (parents 0..n-2, then parent n-1 — the keyed state must continue,
    * not reset). The last marble's children must land after every
    * earlier child so event-time-ordered cross-batch delivery holds. */
  private def emapParity(
      marbles: Seq[String], sink: String,
      batchOp: graft.engine.EventStream => graft.engine.EventStream,
      liveOp: (org.apache.spark.sql.Dataset[Ev], Ev => Seq[Streaming.SpawnedEv]) =>
        org.apache.spark.sql.Dataset[Streaming.MergedChild]): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def kids(v: Int): Seq[(Long, Long, String)] =
      graft.sources.Sources.marbleRows(marbles(v)).map { case (j, ts, c) =>
        (j, ts + v * 1000000L, c) }
    val n = marbles.size
    // guard: the last parent's children come after every earlier child
    assert(kids(n - 1).map(_._2).min > (0 until n - 1).flatMap(kids(_)).map(_._2).max)
    val rows = marbles.indices.map { v =>
      Row(v.toLong, new java.sql.Timestamp(1704067200000L + v * 1000L),
        kids(v).map { case (j, ts, c) => Row(j, ts, c) })
    }
    val schema = StructType(Seq(
      StructField("seq", LongType),
      StructField("ts", TimestampType),
      StructField("children", ArrayType(StructType(Seq(
        StructField("j", LongType),
        StructField("cts", LongType),
        StructField("c", StringType)))))))
    val exp = batchOp(graft.engine.EventStream(
        spark.createDataFrame(spark.sparkContext.parallelize(rows), schema),
        keys = Nil))
      .df.orderBy("__outseq").select("__child.c")
      .collect().map(_.getString(0)).toSeq
    val bus = new Streaming.EventBus(spark)
    val spawn = (e: Ev) => {
      val v = e.value.toInt
      graft.sources.Sources.marbleRows(marbles(v)).map { case (j, ts, c) =>
        Streaming.SpawnedEv(e.user_id, ts + v * 1000000L, v.toLong, j, c) }
    }
    val q = liveOp(bus.eventsTyped, spawn).toDF()
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    bus.emit((0 until n - 1).map(v => Ev(1L, v * 1_000_000L, v.toDouble)): _*)
    q.processAllAvailable()
    bus.emit(Ev(1L, (n - 1) * 1_000_000L, (n - 1).toDouble))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(sink).orderBy("outseq")
      .collect().map(_.getString(3)).toSeq
    assert(got == exp, s"live $sink != batch golden")
  }

  private val mergeMarbles = Seq(
    "A   B    C    D",
    "_1   2  3    4",
    "__K   L     M   N",
    "__                   X  Y")
  private val chainMarbles = Seq(
    "A    B    C    D",
    "_       1    2    3    4",
    "__                  K    L     M   N",
    "__                                    X  Y")

  test("streaming mergemap matches batch emapMerge on marble goldens across micro-batches") {
    withRocksDb {
      emapParity(mergeMarbles, "mm_out",
        _.emapMerge(col("children"), "cts"), Streaming.mergemapStream)
    }
  }

  test("streaming chainmap matches batch emapChain across micro-batches") {
    withRocksDb {
      emapParity(chainMarbles, "cm_out",
        _.emapChain(col("children"), "j"), Streaming.chainmapStream)
    }
  }

  test("streaming concatmap matches batch emapConcat across micro-batches") {
    withRocksDb {
      emapParity(chainMarbles, "ccm_out",
        _.emapConcat(col("children"), "cts"), Streaming.concatmapStream)
    }
  }

  test("streaming switchmap matches batch emapSwitch across micro-batches") {
    withRocksDb {
      emapParity(chainMarbles, "sm_out",
        _.emapSwitch(col("children"), "cts"), Streaming.switchmapStream)
    }
  }

  test("streaming concat: late earlier-source row before the kill boundary still passes") {
    withRocksDb {
      // Batch rule: a source-0 row passes iff ts <= source-1's first
      // emission. A source-0 row with event time BEFORE the kill that
      // arrives in a LATER micro-batch than the killer must therefore
      // pass (the old max-src-index state dropped it); one past the
      // boundary stays dead.
      val a = new Streaming.EventBus(spark)
      val b = new Streaming.EventBus(spark)
      val out = Streaming.concatStream(Seq(a.eventsTyped, b.eventsTyped))
      val q = out.toDF().writeStream.format("memory").queryName("concat_late")
        .outputMode("append").start()
      a.emit(Ev(1L, 0L, 0.0), Ev(1L, 20_000L, 1.0))
      b.emit(Ev(1L, 70_000L, 100.0))
      q.processAllAvailable()
      // batch 2: late source-0 rows — 60ms (≤ kill, passes), 70ms (at
      // the kill instant, batch tie rule passes), 80ms (dead)
      a.emit(Ev(1L, 60_000L, 3.0), Ev(1L, 70_000L, 3.5), Ev(1L, 80_000L, 4.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("concat_late").orderBy("tsUs", "src")
        .collect().map(_.getDouble(2)).toList
      // (tsUs, src) order: the late 60ms and tie-at-70ms source-0 rows
      // sort before source-1's 70ms killer; the 80ms row is absent.
      assert(got == List(0.0, 1.0, 3.0, 3.5, 100.0))
    }
  }

  test("streaming as-of stamp matches batch asofLeft across micro-batches") {
    withRocksDb {
      import spark.implicits._
      val refRows = Seq(
        Ev(1L, 0L, 10.0), Ev(1L, 5000L, 20.0), Ev(1L, 12_000L, 30.0),
        Ev(2L, 3000L, 99.0))
      val evRows = Seq(
        Ev(1L, 1000L, 1.0), Ev(1L, 5000L, 2.0), Ev(1L, 13_000L, 3.0),
        Ev(2L, 1000L, 7.0), Ev(2L, 20_000L, 8.0))
      // batch oracle on the same data
      val exp = graft.engine.AsofJoin.asofLeft(
          evRows.toDF("user_id", "tsUs", "value"),
          refRows.toDF("user_id", "tsUs", "value"),
          "user_id", "tsUs", Seq("value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.getAs[java.lang.Long]("asof_tsUs")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("asof_value")).map(_.toDouble))).toSet
      // live: event-time-ordered delivery split across two micro-batches
      val refs = new Streaming.EventBus(spark)
      val evs = new Streaming.EventBus(spark)
      val out = Streaming.asofStream(evs.eventsTyped, refs.eventsTyped)
      val q = out.toDF().writeStream.format("memory").queryName("asof_out")
        .outputMode("append").start()
      refs.emit(Ev(1L, 0L, 10.0), Ev(1L, 5000L, 20.0), Ev(2L, 3000L, 99.0))
      evs.emit(Ev(1L, 1000L, 1.0), Ev(1L, 5000L, 2.0), Ev(2L, 1000L, 7.0))
      q.processAllAvailable()
      refs.emit(Ev(1L, 12_000L, 30.0))
      evs.emit(Ev(1L, 13_000L, 3.0), Ev(2L, 20_000L, 8.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("asof_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.getAs[java.lang.Long]("asof_ts")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("asof_value")).map(_.toDouble))).toSet
      assert(got === exp)
      // the tie at ts=5000 matched inclusively (DuckDB ASOF `>=`)
      assert(got.exists(t => t._2 == 5000L && t._4 == Some(5000L) && t._5 == Some(20.0)))
    }
  }

  test("streaming debounce matches batch debounce semantics (ops/timing.py:67)") {
    import spark.implicits._
    // bursts per user: u1 @ 0s,0.4s,0.8s (one burst, last=3.0) then 5s (own burst);
    // u2 @ 1s alone. gap=1s.
    val rows = Seq(
      Ev(1L, 0L, 1.0), Ev(1L, 400_000L, 2.0), Ev(1L, 800_000L, 3.0),
      Ev(1L, 5_000_000L, 9.0), Ev(2L, 1_000_000L, 7.0))
    val bus = new Streaming.EventBus(spark)
    bus.emit(rows: _*)
    // advance watermark far past all bursts so every timer fires
    bus.emit(Ev(99L, 100_000_000L, 0.0))
    val out = Streaming.debounceBursts(bus.eventsTyped, gapSec = 1.0, watermark = "0 seconds")
    val got = Streaming.runToMemory(out.toDF(), "deb_out")
      .filter(col("user_id") < 99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // last-of-burst, re-stamped at burst_end + gap
    assert(got === Set(
      (1L, 1_800_000L, 3.0), (1L, 6_000_000L, 9.0), (2L, 2_000_000L, 7.0)))
  }

  test("streaming debounce: a burst straddling two micro-batches stays ONE burst") {
    import spark.implicits._
    // burst rows 0s, 0.4s arrive in micro-batch 1; 0.8s (still within
    // the 1s gap of 0.4s) arrives in micro-batch 2 — the batch operator
    // sees one burst ending at 0.8s and emits (0.8s + gap, value@0.8s).
    // A processor that closed bursts at batch boundaries would emit
    // (1.4s, 2.0) instead.
    val bus = new Streaming.EventBus(spark)
    val out = Streaming.debounceBursts(bus.eventsTyped, gapSec = 1.0, watermark = "0 seconds")
    val q = out.toDF().writeStream.format("memory").queryName("deb_straddle")
      .outputMode("append").start()
    bus.emit(Ev(1L, 0L, 1.0), Ev(1L, 400_000L, 2.0))
    q.processAllAvailable()
    bus.emit(Ev(1L, 800_000L, 3.0), Ev(1L, 5_000_000L, 9.0))
    q.processAllAvailable()
    bus.emit(Ev(99L, 100_000_000L, 0.0)) // advance watermark, fire timers
    q.processAllAvailable()
    q.stop()
    val got = spark.table("deb_straddle").filter(col("user_id") < 99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 1_800_000L, 3.0), (1L, 6_000_000L, 9.0)))
  }

  test("streaming debounce equals batch debounce on random bursts split " +
      "over 1-3 micro-batches") {
    import spark.implicits._
    val gapUs = 1_000_000L
    val rnd = new scala.util.Random(20261020L)
    for (trial <- 0 until 4) {
      // per key: distinct, increasing timestamps whose steps straddle the
      // gap (well inside it, just under, exactly at, just over, far past)
      val steps = Seq(100_000L, 400_000L, 999_999L, gapUs, gapUs + 1, 3 * gapUs)
      val rows = (1L to 3L).flatMap { u =>
        val ts = (1 to 4 + rnd.nextInt(10)).scanLeft(1_000_000L + rnd.nextInt(500_000)) {
          (t, _) => t + steps(rnd.nextInt(steps.size)) }
        ts.map(t => Ev(u, t, rnd.nextInt(1000).toDouble))
      }
      val exp = graft.engine.EventStream(
          rows.zipWithIndex.map { case (e, i) => (i.toLong, e.user_id, e.tsUs, e.value) }
            .toDF("seq", "user_id", "tsUs", "value")
            .withColumn("ts", timestamp_micros(col("tsUs"))),
          keys = Seq("user_id"))
        .debounce(gapUs / 1e6).df
        .select(col("user_id"), unix_micros(col("ts")), col("value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // cut the stream at 0-2 event times: every micro-batch holds rows
      // later than the whole previous one, so none is behind the watermark
      val cuts = Seq.fill(rnd.nextInt(3))(rows(rnd.nextInt(rows.size)).tsUs).distinct.sorted
      val bounds = Long.MinValue +: cuts :+ Long.MaxValue
      val bus = new Streaming.EventBus(spark)
      val sink = s"deb_prop_$trial"
      val q = Streaming.debounceBursts(bus.eventsTyped, gapSec = gapUs / 1e6, watermark = "0 seconds")
        .toDF().writeStream.format("memory").queryName(sink).outputMode("append").start()
      bounds.sliding(2).foreach { case Seq(lo, hi) =>
        bus.emit(rows.filter(e => e.tsUs >= lo && e.tsUs < hi): _*)
        q.processAllAvailable()
      }
      bus.emit(Ev(99L, 1_000_000_000L, 0.0)) // advance the watermark past every burst
      q.processAllAvailable()
      q.stop()
      val got = spark.table(sink).filter(col("user_id") < 99)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === exp, s"trial $trial, cuts $cuts, rows $rows")
    }
  }

  test("streaming sketches: incremental HLL/CMS state equals batch kernels") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.text.Sketches
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // HLL: per-(group, register) max-rho state, fed across two batches
      val ids = (0 until 400).map(i => Streaming.SketchIn(
        if (i % 3 == 0) "a" else "b",
        scala.util.hashing.MurmurHash3.stringHash(i.toString).toLong & 0x7fffffffL))
      val mem = MemoryStream[Streaming.SketchIn](spark, 1)
      mem.addData(ids.take(150))
      val q = Streaming.hllRegisterStream(mem.toDS()).toDF().writeStream
        .format("memory").queryName("hll_out").outputMode("update").start()
      q.processAllAvailable()
      mem.addData(ids.drop(150))
      q.processAllAvailable()
      q.stop()
      // registers only grow, so the final register file = max per key
      val live = spark.table("hll_out").collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getInt(2)))
        .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).max) }
      val batch = Sketches.hllRegisters(
        ids.toDF("group", "sid"), Seq("group"), col("sid")).collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getInt(2))).toMap
      assert(live == batch)

      // CMS: per-cell counter state, same two-batch feed
      val (w, ha, hb) = (16, Seq(31L, 131L, 257L), Seq(7L, 101L, 1009L))
      val fps = (0 until 300).map(i => ((i % 37).toLong, 1L))
      val mem2 = MemoryStream[(Long, Long)](spark, 1)
      mem2.addData(fps.take(100))
      val q2 = Streaming.cmsCellStream(mem2.toDS(), w, ha, hb).toDF().writeStream
        .format("memory").queryName("cms_out").outputMode("update").start()
      q2.processAllAvailable()
      mem2.addData(fps.drop(100))
      q2.processAllAvailable()
      q2.stop()
      val liveCells = spark.table("cms_out").collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
        .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).max) }
      val batchCells = Sketches.cmsGrid(
        fps.toDF("fp", "wt").groupBy("fp").agg(sum("wt").as("n")),
        col("fp"), col("n"), w, ha, hb).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      assert(liveCells == batchCells)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream window join: pairs within horizon, across micro-batches") {
    withRocksDb {
      val S = 1000000L // 1 s in µs
      // Base offset keeps event times clear of epoch 0: Spark's
      // initial watermark IS epoch 0, and a row landing exactly on the
      // watermark is treated as late and dropped — a degenerate corner
      // real event times never hit (probe-verified: at B = 0 the
      // t=0 left row silently vanishes from the join state).
      val B = 1000 * S
      val l = new Streaming.EventBus(spark)
      val r = new Streaming.EventBus(spark)
      val out = Streaming.windowJoinStream(l.eventsTyped, r.eventsTyped, 10L, "30 seconds")
      val q = out.toDF().writeStream.format("memory").queryName("wj_out")
        .outputMode("append").start()
      val L = Seq(Ev(1L, B, 1.0), Ev(2L, B + 5 * S, 3.0), Ev(1L, B + 20 * S, 2.0))
      val R = Seq(
        Ev(1L, B + 4 * S, 10.0),  // inside [0, 10s] of L(0)
        Ev(2L, B + 3 * S, 20.0),  // before user 2's left row → no match
        Ev(1L, B + 8 * S, 11.0),  // batch 2, still inside L(0)'s horizon
        Ev(1L, B + 25 * S, 12.0), // inside [20s, 30s] of L(2)
        Ev(1L, B + 31 * S, 13.0), // 1 s past L(2)'s horizon → no match
        Ev(2L, B + 5 * S, 21.0))  // exactly at L(1)'s lower bound → match
      // batch 1: two left rows, two right rows — one completed pair
      l.emit(L.take(2): _*); r.emit(R.take(2): _*)
      q.processAllAvailable()
      assert(spark.table("wj_out").count() === 1,
        "only the one completed pair may emit in batch 1")
      // batch 2: a late right row pairs with a FIRST-batch left row
      l.emit(L.drop(2): _*); r.emit(R.drop(2): _*)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("wj_out").collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2),
          row.getLong(3), row.getDouble(4))).toSet
      val want = (for {
        lv <- L; rv <- R
        if lv.user_id == rv.user_id &&
          rv.tsUs >= lv.tsUs && rv.tsUs <= lv.tsUs + 10 * S
      } yield (lv.user_id, lv.tsUs, lv.value, rv.tsUs, rv.value)).toSet
      assert(got == want)
      assert(want.size == 4)
    }
  }

  test("stream-stream LEFT OUTER window join: unmatched row null-pads after watermark") {
    withRocksDb {
      val S = 1000000L
      val B = 1000 * S // clear of the epoch-0 initial watermark (see above)
      val l = new Streaming.EventBus(spark)
      val r = new Streaming.EventBus(spark)
      val out = Streaming.windowJoinStream(l.eventsTyped, r.eventsTyped,
        10L, "5 seconds", "left_outer")
      val q = out.toDF().writeStream.format("memory").queryName("wjo_out")
        .outputMode("append").start()
      // user 1 converts inside the horizon; user 2 never does
      l.emit(Ev(1L, B, 1.0), Ev(2L, B, 2.0))
      r.emit(Ev(1L, B + 3 * S, 10.0))
      q.processAllAvailable()
      val matchedOnly = spark.table("wjo_out").collect()
      assert(matchedOnly.length == 1 && !matchedOnly.head.isNullAt(3),
        "the unmatched left row must NOT emit while its horizon is open")
      // push the watermark past B + horizon: both inputs must advance
      // (the query watermark is the min across them)
      l.emit(Ev(9L, B + 100 * S, 0.0)); r.emit(Ev(9L, B + 100 * S, 0.0))
      q.processAllAvailable()
      // outer rows flush in the batch AFTER the watermark advances —
      // drive one more (possibly empty-data) cycle
      l.emit(Ev(9L, B + 101 * S, 0.0)); r.emit(Ev(9L, B + 101 * S, 0.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("wjo_out")
        .filter(col("user_id") === 2L).collect()
      assert(rows.length == 1, "exactly one null-padded row for the non-converter")
      assert(rows.head.isNullAt(3) && rows.head.isNullAt(4))
      // and the matched pair stayed intact (no duplicate, no retraction)
      val u1 = spark.table("wjo_out").filter(col("user_id") === 1L).collect()
      assert(u1.length == 1 && u1.head.getLong(3) == B + 3 * S)
    }
  }

  test("streaming anomaly monitor: prequential flags match scanLeft reference") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // two types; type "a" has a large day-6 spike, "b" is flat. The
      // prequential variance includes the spike itself, so a lone spike
      // after n flat days clears 2-sigma only when n^2 > 4n, i.e. n >= 5
      // prior days — hence six flat days before the outlier.
      val counts = Seq(
        Streaming.DayCount("a", 0, 10), Streaming.DayCount("a", 1, 11),
        Streaming.DayCount("a", 2, 9), Streaming.DayCount("a", 3, 10),
        Streaming.DayCount("a", 4, 10), Streaming.DayCount("a", 5, 11),
        Streaming.DayCount("a", 6, 500), Streaming.DayCount("a", 7, 10),
        Streaming.DayCount("b", 0, 5), Streaming.DayCount("b", 1, 5),
        Streaming.DayCount("b", 2, 5), Streaming.DayCount("b", 3, 5))
      // the same prequential rule, single-threaded
      def ref(xs: Seq[Streaming.DayCount]): Map[(String, Long), Boolean] =
        xs.groupBy(_.event_type).flatMap { case (t, ds) =>
          var (nd, sv, qv) = (0L, 0L, 0L)
          ds.sortBy(_.day).map { d =>
            nd += 1; sv += d.n; qv += d.n * d.n
            val dev = d.n * nd - sv
            (t, d.day) -> (dev * dev > 4L * (nd * qv - sv * sv))
          }
        }
      val mem = MemoryStream[Streaming.DayCount](spark, 1)
      mem.addData(counts.filter(_.day < 3))
      val q = Streaming.anomalyStream(mem.toDS()).toDF().writeStream
        .format("memory").queryName("anom_out").outputMode("append").start()
      q.processAllAvailable()
      mem.addData(counts.filter(_.day >= 3))
      q.processAllAvailable()
      q.stop()
      val live = spark.table("anom_out").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(3)).toMap
      assert(live == ref(counts))
      // the spike day must be flagged, its flat neighbours must not be
      assert(live(("a", 6L)) && !live(("a", 5L)) && !live(("a", 7L)) && !live(("b", 2L)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("scd2 over a CDC stream: foreachBatch fold equals sequential batch merges") {
    // the production shape: each micro-batch of CDC events lands on the
    // versioned dimension via Scd2.merge; localCheckpoint cuts the fold's
    // lineage so batch N's plan does not replay batches 1..N-1
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def dated(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("attr"), col("vf").cast("date").as("valid_from"),
        col("vt").cast("date").as("valid_to"))
    var dim = dated(Seq(
      (1L, "A", "2000-01-01", Option.empty[String]),
      (2L, "B", "2000-01-01", Option.empty[String])).toDF("k", "attr", "vf", "vt"))
    val mem = MemoryStream[(Long, String, String)](spark, 1)
    val q = mem.toDS().toDF("k", "attr", "eff")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.select(col("k"), col("attr"), col("eff").cast("date").as("eff"))
        dim = graft.engine.Scd2.merge(dim, b, "k", Seq("attr"), "eff")
          .localCheckpoint()
        ()
      }.start()
    mem.addData((1L, "X", "2001-06-01"))
    q.processAllAvailable()
    mem.addData((1L, "Y", "2002-06-01"), (2L, "B", "2002-06-01"))
    q.processAllAvailable()
    q.stop()
    val got = dim.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDate(2).toString, Option(r.getDate(3)).map(_.toString))).toSet
    // two sequential merges: A closed by X, X closed by Y, Y current;
    // k=2's no-op update leaves B's original row untouched
    assert(got == Set(
      (1L, "A", "2000-01-01", Some("2001-06-01")),
      (1L, "X", "2001-06-01", Some("2002-06-01")),
      (1L, "Y", "2002-06-01", None),
      (2L, "B", "2000-01-01", None)))
  }

  test("streaming IVF serving: live cell assignment matches the batch assigner; " +
      "drift rises for shifted vectors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.ml.Similarity
    val dims = 8
    def vec(seed: Long, shift: Float): Seq[Float] =
      (0 until dims).map(d => ((seed * (d + 3) + d) % 13 + 1) / 14.0f + shift)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 40L).map(i =>
        Row(i, vec(i, 0f)))), schema)
    // offline: train cells (sampled) + the training-time cell means
    val embQ = corpus.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
    val cents = Similarity.kmeansCentroids(embQ, "vec_id", 4, 1, dims, 2)
    val home = Similarity.ivfAssignFromCentroids(corpus, "vec_id", "embedding", cents, 1)
      .filter(col("isHome")).select(col("vec_id"), col("cell"))
    val sums = (0 until dims).map(d => sum(element_at(col("q"), d + 1)).as(s"s$d"))
    val mu = embQ.join(home, "vec_id").groupBy("cell")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("cell"), array((0 until dims).map(d =>
        floor(col(s"s$d").cast("double") / col("n")).cast("long")): _*).as("mu"))
    // live: stream a mix of in-distribution and far-shifted vectors
    import spark.implicits._
    val mem = MemoryStream[(Long, Seq[Float], Long)](spark, 1)
    val in = mem.toDS().toDF("vec_id", "embedding", "tsUs")
    val out = Streaming.ivfAssignStream(in, "vec_id", "embedding", "tsUs", cents, mu)
    val q = out.writeStream.format("memory").queryName("ivf_live")
      .outputMode("append").start()
    mem.addData((100L, vec(100L, 0f), 1L), (101L, vec(101L, 0f), 2L))
    q.processAllAvailable()
    mem.addData((200L, vec(200L, 5f), 3L))
    q.processAllAvailable()
    q.stop()
    val live = spark.table("ivf_live").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // parity: the batch assigner on the same three vectors
    val batchIn = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(100L, vec(100L, 0f)), Row(101L, vec(101L, 0f)), Row(200L, vec(200L, 5f)))), schema)
    val batchAssign = Similarity.ivfAssignFromCentroids(
        batchIn, "vec_id", "embedding", cents, 1)
      .filter(col("isHome")).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live.view.mapValues(_._1).toMap === batchAssign,
      s"live cells ${live.view.mapValues(_._1).toMap} != batch $batchAssign")
    // drift: in-distribution residuals small, shifted residual large
    val inDistMax = Seq(100L, 101L).map(live(_)._2).max
    assert(live(200L)._2 > 5 * inDistMax,
      s"shifted rsq ${live(200L)._2} not >> in-dist max $inDistMax")

    // the composed LIVE drift monitor: windowed per-cell mean residual
    // vs the persisted base mean-squared-residual artifact — the
    // streaming half of ivfIncremental's drift, alarming where (and
    // only where) the shifted vectors land
    val muMap = Similarity.ivfCellMeans(corpus, "vec_id", "embedding",
      cents, dims)
    val baseMsr = Similarity.ivfBatchCellStats(corpus, "vec_id",
        "embedding", cents, muMap, "n", "sq").collect()
      .map(r => r.getLong(0) -> r.getLong(2).toDouble / r.getLong(1)).toMap
    val mem2 = MemoryStream[(Long, Seq[Float], Long)](spark, 1)
    val in2 = mem2.toDS().toDF("vec_id", "embedding", "tsUs")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("tsUs")))
    val mon = Streaming.ivfDriftMonitor(
      Streaming.ivfAssignStream(in2, "vec_id", "embedding", "ts", cents, mu),
      "ts", "10 seconds", baseMsr, 4.0)
    val q2 = mon.writeStream.format("memory").queryName("ivf_drift")
      .outputMode("complete").start()
    mem2.addData((100L, vec(100L, 0f), 1L), (101L, vec(101L, 0f), 2L),
      (200L, vec(200L, 5f), 3L))
    q2.processAllAvailable()
    q2.stop()
    val alarms = spark.table("ivf_drift").collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Boolean]("alarm")).toMap
    val shiftedCell = live(200L)._1
    assert(alarms(shiftedCell), s"shifted cell $shiftedCell should alarm: $alarms")
    val inCells = Seq(100L, 101L).map(live(_)._1).toSet - shiftedCell
    assert(inCells.forall(c => !alarms(c)),
      s"in-distribution cells $inCells must stay quiet: $alarms")
  }

  test("streaming postings sink e2e: train -> stream-assign -> bucketed append -> serve top-k") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.ml.Similarity
    import graft.sources.Sinks
    val dims = 8
    def vec(seed: Long): Seq[Float] =
      (0 until dims).map(d => ((seed * (d + 3) + d) % 13 + 1) / 14.0f)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 40L).map(i =>
        Row(i, vec(i)))), schema)
    // DAY 0: train the index once, persist the postings bucketed by
    // cell — the layout that makes the serve join exchange-free on
    // the postings side
    val embQ = corpus.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("q"))
    val cents = graft.engine.StaticPlan.ckptFresh(
      Similarity.kmeansCentroids(embQ, "vec_id", 4, 1, dims, 2))
    val muDf = {
      import spark.implicits._
      Similarity.ivfCellMeans(corpus, "vec_id", "embedding", cents, dims)
        .toSeq.toDF("cell", "mu")
    }
    val basePost = Similarity.ivfAssignFromCentroids(
        corpus, "vec_id", "embedding", cents, 1)
      .filter(col("isHome")).select("vec_id", "embedding", "cell")
    spark.sql("DROP TABLE IF EXISTS postings_e2e")
    Sinks.toBucketedTable(basePost, "postings_e2e", 4, Seq("cell"))
    // LIVE: new vectors stream through the assigner (keepVec — the
    // sink shape) and foreachBatch APPENDS them to the same bucketed
    // postings table, closing the write half of the lifecycle
    import spark.implicits._
    val mem = MemoryStream[(Long, Seq[Float], Long)](spark, 1)
    val in = mem.toDS().toDF("vec_id", "embedding", "tsUs")
    val out = Streaming.ivfAssignStream(in, "vec_id", "embedding", "tsUs",
      cents, muDf, keepVec = true)
    val q = out.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Sinks.appendBucketed(b.select("vec_id", "embedding", "cell"),
          "postings_e2e", 4, Seq("cell"))
      }
      .outputMode("append").start()
    mem.addData((100L, vec(100L), 1L), (101L, vec(101L), 2L))
    q.processAllAvailable()
    mem.addData((102L, vec(102L), 3L))
    q.processAllAvailable()
    q.stop()
    val posted = spark.table("postings_e2e")
    assert(posted.count() == 43, "40 base + 3 streamed postings")
    // SERVE: top-3 for the streamed vectors, read from the postings
    // table ONLY (no corpus scan, no training in the plan)
    val queries = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(100L, 101L, 102L).map(i => Row(i, vec(i)))), schema)
    val served = Similarity.serveTopK(queries, posted, "vec_id",
      "embedding", 3, cents, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // PARITY: the offline batch path over corpus ∪ streamed, same
    // cells, same probe depth, restricted to the streamed queries
    val full = corpus.union(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(100L, 101L, 102L).map(i => Row(i, vec(i)))), schema))
    val batch = Similarity.topKFromAssign(
        Similarity.ivfAssignFromCentroids(full, "vec_id", "embedding", cents, 2),
        "vec_id", "embedding", 3)
      .filter(col("a").isin(100L, 101L, 102L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(served == batch,
      s"served top-k $served != batch reference $batch")
    // the probed-cell pruned serve (the partitioned-layout fast path)
    // is row-identical — the IN list is exactly the joinable cell set
    val servedPruned = Similarity.serveTopK(queries, posted, "vec_id",
      "embedding", 3, cents, 2, pruneCells = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(servedPruned == batch,
      s"pruned serve $servedPruned != batch reference $batch")
    // SERVING-LOOP HYGIENE (ADVICE r11): each pruneCells batch pins
    // its query-assignment checkpoint; a long-lived loop must free it
    // via Checkpoints.releaseExcept or pins accumulate one per batch.
    // Three released batches end at the pre-loop persistent-RDD set.
    val pinsBefore = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 3).foreach { _ =>
      val res = Similarity.serveTopK(queries, posted, "vec_id",
        "embedding", 3, cents, 2, pruneCells = true)
      res.count()
      // model the documented contract EXACTLY — keep the standing
      // frames too (releaseExcept(res, postings, batch) per the
      // serveTopK scaladoc): here posted/queries happen not to be
      // checkpointed, but a loop copied from this spec with a
      // checkpointed postings table must not free the shared pin
      graft.engine.Checkpoints.releaseExcept(res, posted, queries)
    }
    val pinsAfter = spark.sparkContext.getPersistentRDDs.keySet
    val leaked = pinsAfter.toSet -- pinsBefore.toSet
    assert(leaked.isEmpty, s"released serve batches leaked pins: $leaked")
    // semi-join fallback: force the probed-cell set over the IN-list
    // budget (pruneInMax = 1 < distinct probed cells) — the prune must
    // switch to a broadcast left-semi join, row-identical, with NO
    // cell IN (...) literals in the plan (the adversarial case is a
    // 10M-query batch probing 2^20 cells: a million-literal IN list)
    val servedSemi = Similarity.serveTopK(queries, posted, "vec_id",
      "embedding", 3, cents, 2, pruneCells = true, pruneInMax = 1)
    val servedSemiRows = servedSemi
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(servedSemiRows == batch,
      s"semi-join pruned serve $servedSemiRows != batch reference $batch")
    val semiPlan = servedSemi.queryExecution.optimizedPlan
    val inLists = semiPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.find {
          case i: org.apache.spark.sql.catalyst.expressions.In =>
            i.list.length > 1
          case i: org.apache.spark.sql.catalyst.expressions.InSet =>
            i.hset.size > 1
          case _ => false
        }.isDefined => f
    }
    assert(inLists.isEmpty,
      s"fallback still plans a cell IN-list:\n$semiPlan")
    val semiJoins = semiPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semiJoins.nonEmpty, s"no left-semi prune join in:\n$semiPlan")
    // and the streamed vectors are themselves SERVABLE as candidates:
    // a base vector whose nearest neighbors include a streamed one
    // (vec() is periodic in the seed, so 100 ≡ some base geometry)
    assert(served.nonEmpty)
    // PLAN SHAPE: the postings side of the serve join is exchange-free
    // (SCALE.md's claim) — the join's postings-subtree child contains
    // the table scan but NO shuffle below the join. Asserted on the
    // static plan (AQE off) so the tree is walkable.
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = Similarity.serveTopK(queries, posted, "vec_id",
        "embedding", 3, cents, 2).queryExecution.executedPlan
      def hasPostingsScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("postings_e2e")) => s
        }.nonEmpty
      val joinSides = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.children.filter(hasPostingsScan)
      }.flatten
      assert(joinSides.nonEmpty, s"no join over the postings scan in:\n$plan")
      joinSides.foreach { side =>
        val shuffles = side.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
        assert(shuffles.isEmpty,
          s"postings side of the serve join re-shuffles:\n$side")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe0)
    spark.sql("DROP TABLE IF EXISTS postings_e2e")
  }

  test("end-to-end streaming curation: quality gate -> exact dedup -> minhash " +
      "near-dup -> chunks, parity with the batch pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.text.TextOps
    val f = graft.functions.VectorFunctions

    // fixture across three "daily" micro-batches: a unique doc, its
    // exact duplicate (later batch), a near-dup (one word changed), a
    // repetitive junk doc, a too-short doc, a second unique doc and ITS
    // near-dup in the last batch
    val a = "the quick brown fox jumps over the lazy dog while rain falls " +
      "softly on the quiet green meadow beyond the old stone bridge today"
    val b = "distributed query engines push filters below the scan and " +
      "prune columns early so the shuffle moves only the bytes the plan " +
      "actually needs for the final aggregation stage"
    val docsIn = Seq(
      0L -> a,                           // keep
      1L -> a,                           // exact dup of 0 -> dropped
      2L -> a.replace("rain", "snow"),   // near-dup of 0 -> dropped
      3L -> Seq.fill(30)("spam").mkString(" "), // repetitive -> quality drop
      4L -> b,                           // keep
      5L -> "too short to pass",         // length gate drop
      6L -> b.replace("bytes", "blocks") // near-dup of 4 -> dropped
    )
    // the exact dup (1) arrives a batch AFTER its original (0):
    // dropDuplicatesWithinWatermark keeps the FIRST arrival across
    // batches (deterministic), but WITHIN one micro-batch the survivor
    // is arrival-order — a keeper policy (min doc_id) there needs a
    // per-batch pre-reduce, which the batch pipeline's groupBy(min)
    // models
    val batches = Seq(Seq(0L, 3L), Seq(1L, 2L, 4L), Seq(5L, 6L))

    // ---- STREAMING pipeline. Stage 1+2 (one query): the stateless
    // quality gate (same codegen kernels as batch) then exact dedup by
    // content hash within the watermark; its per-batch survivors feed
    // stage 3 (a second query): the stateful minhash candidate stream —
    // the storage/topic hand-off a production pipeline has between
    // curation stages.
    val mem = MemoryStream[(Long, String, Long)](spark, 1)
    val staged = mem.toDS().toDF("doc_id", "text", "tsUs")
      .withColumn("ts", timestamp_micros(col("tsUs")))
    val toks = TextOps.tokens(col("text"))
    val gated = staged
      .withColumn("__t", f.multStats(f.shingleSids(toks, 1)))
      .withColumn("__b", f.multStats(f.shingleSids(toks, 2)))
      .filter(element_at(col("__t"), 1) >= 20 &&
        (element_at(col("__t"), 1) - element_at(col("__t"), 2)).cast("double") /
          greatest(element_at(col("__t"), 1), lit(1L)).cast("double") <= 0.7 &&
        element_at(col("__b"), 3).cast("double") /
          greatest(element_at(col("__b"), 1), lit(1L)).cast("double") <= 0.08)
      .withColumn("h", md5(col("text").cast("binary")))
    val surv = Streaming.dedupStream(gated, Seq("h"), "ts", "1 hour")
      .select("doc_id", "text")
    val q1 = surv.writeStream.format("memory").queryName("cur_surv")
      .outputMode("append").start()
    val mem2 = MemoryStream[Streaming.DocEv](spark, 1)
    val q2 = Streaming.minhashCandStream(mem2.toDS(), 3, 12, 4, 3)
      .toDF().writeStream.format("memory").queryName("cur_pairs")
      .outputMode("append").start()
    var fed = Set.empty[Long]
    batches.zipWithIndex.foreach { case (ids, day) =>
      // offset well past epoch: a row with event time <= the initial
      // watermark (epoch 0) is discarded as late before dedup sees it
      mem.addData(ids.map(i =>
        (i, docsIn.toMap.apply(i),
          1_700_000_000_000_000L + day * 60_000_000L + i * 1_000_000L)): _*)
      q1.processAllAvailable()
      // hand stage-1 survivors to stage 3 exactly once each
      val newRows = spark.table("cur_surv").collect()
        .map(r => (r.getLong(0), r.getString(1))).filterNot(r => fed(r._1))
      fed ++= newRows.map(_._1)
      mem2.addData(newRows.map { case (i, t) => Streaming.DocEv(i, t) }.toSeq: _*)
      q2.processAllAvailable()
    }
    q1.stop(); q2.stop()
    val stPairs = spark.table("cur_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // keep-lowest: drop the max side of each near-dup pair (the fixture
    // clusters are pairs; bigger clusters go through the batch CC path)
    val stFinal = fed -- stPairs.map(_._2)

    // ---- BATCH pipeline, same stages over the full fixture
    val allDf = docsIn.toDF("doc_id", "text")
    val rep = TextOps.repetitionStats(allDf, "doc_id", "text")
    val keepQ = rep.filter(col("n_tokens") >= 20 &&
      (col("n_tokens") - col("n_uniq_tokens")).cast("double") /
        greatest(col("n_tokens"), lit(1L)).cast("double") <= 0.7 &&
      col("top_bigram_count").cast("double") /
        greatest(col("n_bigrams"), lit(1L)).cast("double") <= 0.08)
      .select("doc_id")
    val elig = allDf.join(keepQ, "doc_id")
    val keeper = elig.groupBy(md5(col("text").cast("binary")).as("hh"))
      .agg(min(col("doc_id")).as("doc_id"))
    val bSurv = elig.join(keeper.select("doc_id"), "doc_id")
    val bands = TextOps.lshBandsArr(
      TextOps.minhashSigArray(bSurv, "doc_id", "text", 3, 12), "doc_id", 4, 3)
    val cand = TextOps.lshCandidatesCapped(bands, "doc_id", 64)
    val drops = graft.engine.ConnectedComponents.run(cand)
      .filter(col("node") =!= col("comp")).select(col("node").as("doc_id"))
    val bFinal = bSurv.join(drops, Seq("doc_id"), "left_anti")
    val bFinalIds = bFinal.select("doc_id").collect().map(_.getLong(0)).toSet

    assert(stFinal === bFinalIds,
      s"streaming final $stFinal != batch final $bFinalIds")
    assert(stFinal === Set(0L, 4L))
    // chunk parity on the final corpus (the training-row hand-off)
    val stFinalDf = docsIn.filter(d => stFinal(d._1)).toDF("doc_id", "text")
    val stChunks = TextOps.chunkDocs(stFinalDf, "doc_id", "text", 10, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val bChunks = TextOps.chunkDocs(bFinal, "doc_id", "text", 10, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(stChunks === bChunks)
  }

  test("state soak: zip/ziplatest state stays O(keys), not O(history), " +
      "under 100k skewed-key events") {
    withRocksDb {
      // skewed keys: key 1 carries ~half the traffic, 63 others share
      // the rest — the shape that makes an O(history) state bug visible
      // while balanced per-SIDE traffic keeps zip's queues drainable
      val nKeys = 64
      def key(i: Int): Long = if (i % 2 == 0) 1L else (i % nKeys).toLong + 2L
      def wave(n: Int, tsBase: Long): Seq[(Ev, Ev)] =
        (0 until n).map { i =>
          val k = key(i)
          (Ev(k, tsBase + i * 2L, i.toDouble),
           Ev(k, tsBase + i * 2L + 1L, 1000.0 + i))
        }
      def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long = {
        val ops = q.lastProgress.stateOperators
        assert(ops.nonEmpty, "no state operator in progress")
        ops.map(_.numRowsTotal).sum
      }
      // --- zip: queues drain per balanced wave; state rows == keys ---
      val a = new Streaming.EventBus(spark)
      val b = new Streaming.EventBus(spark)
      val out = Streaming.zipStream(a.eventsTyped, b.eventsTyped)
      val q = out.toDF().writeStream.format("memory").queryName("soak_zip")
        .outputMode("append").start()
      val w1 = wave(25000, 0L)
      a.emit(w1.map(_._1): _*); b.emit(w1.map(_._2): _*)
      q.processAllAvailable()
      val rows1 = stateRows(q)
      val mem1 = q.lastProgress.stateOperators.map(_.memoryUsedBytes).sum
      // 50k more events: state rows must NOT grow with history
      val w2 = wave(25000, 100000L)
      a.emit(w2.map(_._1): _*); b.emit(w2.map(_._2): _*)
      q.processAllAvailable()
      val rows2 = stateRows(q)
      q.stop()
      assert(spark.table("soak_zip").count() == 50000L,
        "every balanced pair must emit")
      assert(rows1 <= nKeys + 1 && rows2 <= nKeys + 1,
        s"zip state rows grew beyond the key set: $rows1 -> $rows2")
      assert(rows2 <= rows1,
        s"zip state rows grew with history: $rows1 -> $rows2")
      // ValueState per key = (two drained queues, idx): bytes per key
      // must stay bounded (queues drained each balanced wave). RocksDB
      // may report 0 for memoryUsedBytes; only assert when it reports.
      if (mem1 > 0) assert(mem1 / math.max(rows1, 1) < 65536,
        s"zip per-key state suspiciously large: $mem1 bytes / $rows1 keys")

      // --- ziplatest: state is literally two latest values per key ---
      val a2 = new Streaming.EventBus(spark)
      val b2 = new Streaming.EventBus(spark)
      val out2 = Streaming.ziplatestStream(a2.eventsTyped, b2.eventsTyped)
      val q2 = out2.toDF().writeStream.format("memory").queryName("soak_zl")
        .outputMode("append").start()
      a2.emit(w1.map(_._1): _*); b2.emit(w1.map(_._2): _*)
      q2.processAllAvailable()
      a2.emit(w2.map(_._1): _*); b2.emit(w2.map(_._2): _*)
      q2.processAllAvailable()
      val zlRows = stateRows(q2)
      q2.stop()
      assert(spark.table("soak_zl").count() == 100000L,
        "ziplatest emits one row per input event (partial mode)")
      assert(zlRows <= nKeys + 1,
        s"ziplatest state rows grew beyond the key set: $zlRows")
    }
  }

  /** Start `df` against a fresh checkpoint, run what is queued as ONE
    * micro-batch, stop, and return the checkpoint path. */
  private def oneCheckpointedBatch(df: org.apache.spark.sql.DataFrame,
      mode: String): String = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_layout_ckpt").toString
    val q = df.writeStream.format("noop")
      .option("checkpointLocation", ckpt).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) === 1,
      "the fixed input must land in one micro-batch")
    ckpt
  }

  /** Canonical text of a state-reader cell: structs as (..), arrays as [..]. */
  private def render(v: Any): String = v match {
    case null => "null"
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  test("keyed-scan state layout: every transformWithState operator's state " +
      "variable, value schema and values after one checkpointed batch") {
    withRocksDb {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      def two(a: Seq[Ev], b: Seq[Ev]) = {
        val (x, y) = (new Streaming.EventBus(spark), new Streaming.EventBus(spark))
        x.emit(a: _*); y.emit(b: _*)
        (x.eventsTyped, y.eventsTyped)
      }
      def one(rows: Ev*) = {
        val x = new Streaming.EventBus(spark); x.emit(rows: _*); x.eventsTyped }
      // parent v spawns children at its ts and ts + 2 ms (j = 0, 1)
      val spawn = (e: Ev) => Seq(0L, 1L).map(j =>
        Streaming.SpawnedEv(e.user_id, e.tsUs + j * 2000L, e.value.toLong, j, s"c$j"))
      val parents = Seq(Ev(1L, 1000L, 0.0), Ev(1L, 2000L, 1.0))
      // (state variable, "key schema -> value schema", rows as
      // "key -> value", the run)
      val cases: Seq[(String, String, Set[String], () => String)] = Seq(
        ("admitted", "struct<value:bigint> -> struct<value:array<bigint>>",
          Set("(1) -> ([1100000,2000000])", "(2) -> ([1000000])"),
          () => oneCheckpointedBatch(Streaming.throttleStream(one(
            Ev(1L, 1_000_000L, 1.0), Ev(1L, 1_100_000L, 2.0), Ev(1L, 1_200_000L, 3.0),
            Ev(2L, 1_000_000L, 5.0)), maximum = 2, intervalSec = 1.0).toDF(), "append")),
        ("zipq", "struct<value:bigint> -> struct<_1:array<double>,_2:array<double>,_3:bigint>",
          Set("(1) -> ([2.0,3.0],[],1)"),
          () => { val (a, b) = two(
              Seq(Ev(1L, 1000L, 1.0), Ev(1L, 2000L, 2.0), Ev(1L, 3000L, 3.0)),
              Seq(Ev(1L, 1500L, 10.0)))
            oneCheckpointedBatch(Streaming.zipStream(a, b).toDF(), "append") }),
        ("latest", "struct<value:bigint> -> struct<_1:double,_2:double>",
          Set("(1) -> (3.0,2.0)", "(2) -> (7.0,null)"),
          () => { val (a, b) = two(
              Seq(Ev(1L, 1000L, 1.0), Ev(1L, 3000L, 3.0), Ev(2L, 1000L, 7.0)),
              Seq(Ev(1L, 2000L, 2.0)))
            oneCheckpointedBatch(Streaming.ziplatestStream(a, b).toDF(), "append") }),
        ("switch", "struct<value:bigint> -> struct<_1:bigint,_2:array<int>>",
          Set("(1) -> (0,[1,0])"),
          () => { val (a, b) = two(Seq(Ev(1L, 2000L, 1.0)), Seq(Ev(1L, 1000L, 100.0)))
            oneCheckpointedBatch(Streaming.switchStream(Seq(a, b)).toDF(), "append") }),
        ("concat", "struct<value:bigint> -> struct<value:array<struct<_1:int,_2:bigint>>>",
          Set("(1) -> ([(0,1000),(1,5000)])"),
          () => { val (a, b) = two(
              Seq(Ev(1L, 1000L, 1.0), Ev(1L, 2000L, 1.5)), Seq(Ev(1L, 5000L, 2.0)))
            oneCheckpointedBatch(Streaming.concatStream(Seq(a, b)).toDF(), "append") }),
        ("spawnseq", "struct<value:bigint> -> struct<value:bigint>",
          Set("(1) -> (4)"),
          () => oneCheckpointedBatch(
            Streaming.mergemapStream(one(parents: _*), spawn).toDF(), "append")),
        // parent 0's second child (3 ms) is past parent 1's first (2 ms):
        // cut. State: (largest pseq before the 4 ms frontier, frontier,
        // largest pseq at it, output counter)
        ("killfront",
          "struct<value:bigint> -> struct<_1:bigint,_2:bigint,_3:bigint,_4:bigint>",
          Set("(1) -> (1,4000,1,3)"),
          () => oneCheckpointedBatch(
            Streaming.concatmapStream(one(parents: _*), spawn).toDF(), "append")),
        ("refs", "struct<value:bigint> -> struct<value:array<struct<_1:bigint,_2:double>>>",
          Set("(1) -> ([(5000,20.0),(8000,30.0)])", "(2) -> ([(1000,5.0)])"),
          () => { val (e, r) = two(Seq(Ev(1L, 6000L, 1.0)),
              Seq(Ev(1L, 1000L, 10.0), Ev(1L, 5000L, 20.0), Ev(1L, 8000L, 30.0),
                Ev(2L, 1000L, 5.0)))
            oneCheckpointedBatch(Streaming.asofStream(e, r).toDF(), "append") }),
        // sid 1 -> register 10, rho 1; sid 2 -> register 59, rho 3
        ("mrho", "struct<_1:string,_2:bigint> -> struct<value:int>",
          Set("(g,10) -> (1)", "(g,59) -> (3)"),
          () => { val m = MemoryStream[Streaming.SketchIn](spark, 1)
            m.addData(Streaming.SketchIn("g", 1L), Streaming.SketchIn("g", 2L))
            oneCheckpointedBatch(Streaming.hllRegisterStream(m.toDS()).toDF(), "update") }),
        // fp 5 -> cells (0,2), (1,4); fp 7 -> cells (0,0), (1,10)
        ("cell", "struct<_1:int,_2:bigint> -> struct<value:bigint>",
          Set("(0,2) -> (5)", "(1,4) -> (5)", "(0,0) -> (1)", "(1,10) -> (1)"),
          () => { val m = MemoryStream[(Long, Long)](spark, 1)
            m.addData((5L, 3L), (5L, 2L), (7L, 1L))
            oneCheckpointedBatch(Streaming.cmsCellStream(m.toDS(), 16,
              Seq(31L, 131L), Seq(7L, 101L)).toDF(), "update") }),
        ("volstats", "struct<value:string> -> struct<_1:bigint,_2:bigint,_3:bigint>",
          Set("(click) -> (2,22,244)", "(view) -> (1,5,25)"),
          () => { val m = MemoryStream[Streaming.DayCount](spark, 1)
            m.addData(Streaming.DayCount("click", 2L, 12L),
              Streaming.DayCount("click", 1L, 10L), Streaming.DayCount("view", 1L, 5L))
            oneCheckpointedBatch(Streaming.anomalyStream(m.toDS()).toDF(), "append") }))
      for ((name, schema, rows, run) <- cases) {
        val st = spark.read.format("statestore").option("stateVarName", name).load(run())
        assert(s"${st.schema("key").dataType.simpleString} -> " +
          st.schema("value").dataType.simpleString === schema, s"$name state schema")
        val got = st.collect().map(r => s"${render(r.getAs[Any]("key"))} -> " +
          render(r.getAs[Any]("value"))).toSet
        assert(got === rows, s"$name state values")
      }
    }
  }

  test("restart durability: zipStream resumes transformWithState state " +
      "from a real checkpointLocation (exactly-once output)") {
    withRocksDb {
      // The streaming half of the restart story (IndexStore is the
      // batch half): stop a transformWithState query mid-stream with
      // per-key state in flight, restart AGAINST THE SAME
      // checkpointLocation, feed more events, and assert the combined
      // output equals the uninterrupted run — state (zip's queued
      // heads) must come back from the state store, not from reprocessing.
      // The sink collects per batchId so a replayed post-crash batch
      // overwrites rather than duplicates (the idempotent-sink contract
      // Structured Streaming's exactly-once story requires).
      val ckpt = java.nio.file.Files.createTempDirectory("graft_zip_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Long, Double, Double)]]
      def startQ(out: org.apache.spark.sql.Dataset[Streaming.ZipOut]) =
        out.toDF().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            batches(id) = b.collect().toSeq
              .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
          }
          .outputMode("append").start()
      val a = new Streaming.EventBus(spark)
      val b = new Streaming.EventBus(spark)
      val out = Streaming.zipStream(a.eventsTyped, b.eventsTyped)
      val q1 = startQ(out)
      // run 1: A runs ahead — pairs 0..2 emit, A queues values 3,4 in state
      a.emit((0 to 4).map(i => Ev(1L, i * 1000L, i.toDouble)): _*)
      b.emit((0 to 2).map(i => Ev(1L, i * 1000L + 1, 100.0 + i)): _*)
      q1.processAllAvailable()
      q1.stop()
      val run1 = batches.values.flatten.toSet
      assert(run1.map(_._2) === (0 to 2).map(_.toLong).toSet,
        "run 1 must emit exactly the completed pairs 0..2")
      // data arriving WHILE the query is down, on both sides
      a.emit((5 to 9).map(i => Ev(1L, i * 1000L, i.toDouble)): _*)
      b.emit((3 to 9).map(i => Ev(1L, i * 1000L + 1, 100.0 + i)): _*)
      // run 2: a NEW query instance against the same checkpoint — the
      // queued A heads (3, 4) must pair with the first arriving B values
      val q2 = startQ(Streaming.zipStream(a.eventsTyped, b.eventsTyped))
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      // exactly-once: no pair index appears twice across the restart
      assert(all.size === all.map(_._2).distinct.size,
        s"duplicated pair indices across restart: $all")
      // equals the uninterrupted run: zip(0..9, 100..109) by index
      val expected = (0 to 9).map(i => (1L, i.toLong, i.toDouble, 100.0 + i)).toSet
      assert(all.toSet === expected,
        "restarted run must produce the uninterrupted zip output")
    }
  }

  test("restart durability: dedupStream suppression state survives a " +
      "checkpointed restart") {
    withRocksDb {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_dd_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Double)]]
      val bus = new Streaming.EventBus(spark)
      def startQ() = Streaming.dedupStream(bus.events,
          Seq("user_id", "value"), "ts", "10 seconds")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = b.collect().toSeq
            .map(r => (r.getLong(0), r.getDouble(2)))
        }
        .outputMode("append").start()
      val q1 = startQ()
      bus.emit(Ev(1L, 1_000_000L, 1.0), Ev(2L, 2_000_000L, 2.0))
      q1.processAllAvailable()
      q1.stop()
      // while down: a DUPLICATE of (1, 1.0) within the watermark plus a
      // fresh key — the duplicate is only suppressible if the dedup
      // state store came back on restart
      bus.emit(Ev(1L, 3_000_000L, 1.0), Ev(3L, 4_000_000L, 3.0))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size, s"duplicate emissions: $all")
      assert(all.toSet === Set((1L, 1.0), (2L, 2.0), (3L, 3.0)),
        "duplicate within watermark must stay suppressed across restart")
    }
  }

  test("restart durability: throttleStream admitted-window state survives " +
      "a checkpointed restart (rate limit spans the outage)") {
    withRocksDb {
      // Third leg of the restart triple (zip / dedup / throttle): the
      // rate limiter's admitted-times window must come back from the
      // state store, or events arriving after the restart are admitted
      // at their own timestamps instead of being pushed behind the
      // pre-crash admissions.
      val ckpt = java.nio.file.Files.createTempDirectory("graft_thr_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Double)]]
      val bus = new Streaming.EventBus(spark)
      def startQ() = Streaming.throttleStream(bus.eventsTyped,
          maximum = 2, intervalSec = 1.0)
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = b.collect().toSeq
            .map(r => (r.getLong(1), r.getDouble(2)))
        }
        .outputMode("append").start()
      // run 1: two admits fill the window = [0, 100000]
      val q1 = startQ()
      bus.emit(Ev(1L, 0L, 1.0), Ev(1L, 100_000L, 2.0))
      q1.processAllAvailable()
      q1.stop()
      // while down: two more events inside the still-closed rate window
      bus.emit(Ev(1L, 150_000L, 3.0), Ev(1L, 160_000L, 4.0))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size,
        s"duplicated admissions across restart: $all")
      // with state restored: v3 waits for window(0)+1s, v4 for
      // window(1)+1s — a lost window would admit both at their own ts
      assert(all.toSet === Set((0L, 1.0), (100_000L, 2.0),
        (1_000_000L, 3.0), (1_100_000L, 4.0)),
        s"rate limit must span the outage, got $all")
    }
  }

  test("restart durability: concatStream first-emission state survives a " +
      "checkpointed restart (a disconnected source stays cut)") {
    withRocksDb {
      // The kill boundary of source 0 is source 1's first emission,
      // held only in state: a lost map would let source 0's post-restart
      // row past the boundary through.
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cc_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Double, Int)]]
      val a = new Streaming.EventBus(spark) // src 0
      val b = new Streaming.EventBus(spark) // src 1
      def startQ() = Streaming.concatStream(Seq(a.eventsTyped, b.eventsTyped))
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq
            .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
        }
        .outputMode("append").start()
      // run 1: source 0 emits, then source 1's first emission at 5 ms
      // disconnects it
      val q1 = startQ()
      a.emit(Ev(1L, 1_000L, 1.0))
      b.emit(Ev(1L, 5_000L, 100.0))
      q1.processAllAvailable()
      q1.stop()
      // while down: source 0 past its kill boundary, source 1 again
      a.emit(Ev(1L, 6_000L, 2.0))
      b.emit(Ev(1L, 7_000L, 101.0))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size,
        s"duplicated emissions across restart: $all")
      assert(all.toSet === Set((1_000L, 1.0, 0), (5_000L, 100.0, 1),
        (7_000L, 101.0, 1)),
        s"source 0 must stay cut across restart, got $all")
    }
  }

  test("restart durability: concatmapStream first-child times and output " +
      "counter survive a checkpointed restart") {
    withRocksDb {
      // Both halves of spawnkill's state: a lost counter restarts
      // out_seq at 1, and lost first-child times let a late child of an
      // earlier parent through.
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_ccm_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Long, Long)]]
      val bus = new Streaming.EventBus(spark)
      // parent v spawns children at its ts and ts + 2 ms, parent seq v
      val spawn = (e: Ev) => Seq(0L, 1L).map(j =>
        Streaming.SpawnedEv(e.user_id, e.tsUs + j * 2000L, e.value.toLong, j, s"c$j"))
      def startQ() = Streaming.concatmapStream(bus.eventsTyped, spawn)
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq
            .map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
        }
        .outputMode("append").start()
      // run 1: children 1, 3 ms (parent 0) and 2, 4 ms (parent 1); the
      // 3 ms child is past parent 1's first child and is cut
      val q1 = startQ()
      bus.emit(Ev(1L, 1_000L, 0.0), Ev(1L, 2_000L, 1.0))
      q1.processAllAvailable()
      q1.stop()
      // while down: another child pair of parent 0 (4.5, 6.5 ms — both
      // past parent 1's first child) and parent 2's children (5, 7 ms)
      bus.emit(Ev(1L, 4_500L, 0.0), Ev(1L, 5_000L, 2.0))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size,
        s"duplicated emissions across restart: $all")
      assert(all.toSet === Set((1_000L, 0L, 1L), (2_000L, 1L, 2L),
        (4_000L, 1L, 3L), (5_000L, 2L, 4L), (7_000L, 2L, 5L)),
        s"kill boundary and out_seq must continue across restart, got $all")
    }
  }

  test("concatmapStream state stays one flat row per key over 1k parents") {
    withRocksDb {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_kf_ckpt").toString
      val bus = new Streaming.EventBus(spark)
      // parent i at 1 s + i ms spawns children at its ts and ts + 2 ms, so
      // each second child is past the next parent's first and is cut —
      // except for the last parent of each micro-batch: the second batch
      // starts 10 ms later, so delivery stays in event-time order
      val spawn = (e: Ev) => Seq(0L, 1L).map(j =>
        Streaming.SpawnedEv(e.user_id, e.tsUs + j * 2000L, e.value.toLong, j, s"c$j"))
      def ts(i: Int) = 1_000_000L + i * 1000L + (i / 500) * 10_000L
      def parents(from: Int, until: Int) = for (i <- from until until; u <- Seq(1L, 2L))
        yield Ev(u, ts(i), i.toDouble)
      val q = Streaming.concatmapStream(bus.eventsTyped, spawn).toDF()
        .writeStream.format("memory").queryName("kf_out")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      val stateRows = Seq(parents(0, 500), parents(500, 1000)).map { ps =>
        bus.emit(ps: _*)
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      q.stop()
      assert(stateRows === Seq(2L, 2L), "one state row per key after 500 and 1000 parents")
      val st = spark.read.format("statestore").option("stateVarName", "killfront").load(ckpt)
      assert(st.collect().map(r => render(r.getAs[Any]("value"))).toSeq ===
        Seq.fill(2)(s"(999,${ts(999) + 2000},999,1002)"))
      // every parent's first child, plus both children of parents 499 and 999
      val out = spark.table("kf_out").collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
      for (u <- Seq(1L, 2L)) {
        val mine = out.filter(_._1 == u)
        assert(mine.map(_._3).sorted.toSeq === (1L to 1002L))
        assert(mine.groupBy(_._2).collect { case (p, cs) if cs.length == 2 => p }.toSet ===
          Set(499L, 999L))
        assert(mine.map(_._2).distinct.length === 1000)
      }
    }
  }

  test("concatmap/switchmap: a child at the kill instant passes when its " +
      "killer registered a micro-batch earlier") {
    withRocksDb {
      // one child per parent row, at the row's ts; parent seq = value
      val spawn = (e: Ev) =>
        Seq(Streaming.SpawnedEv(e.user_id, e.tsUs, e.value.toLong, 0L, "c"))
      for ((sink, op) <- Seq("tie_ccm" -> (Streaming.concatmapStream _),
          "tie_sm" -> (Streaming.switchmapStream _))) {
        val bus = new Streaming.EventBus(spark)
        val q = op(bus.eventsTyped, spawn).toDF().writeStream.format("memory")
          .queryName(sink).outputMode("append").start()
        // parent 1's first child at 3 ms kills parent 0 after 3 ms
        bus.emit(Ev(1L, 1000L, 0.0), Ev(1L, 3000L, 1.0))
        q.processAllAvailable()
        // parent 0 at the kill instant (batch rule ts <= kill), then twice
        // past it: the second row is behind a frontier parent 0 itself set
        bus.emit(Ev(1L, 3000L, 0.0), Ev(1L, 3001L, 0.0), Ev(1L, 3002L, 0.0))
        q.processAllAvailable()
        q.stop()
        val got = spark.table(sink).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
        assert(got === Set((1000L, 0L), (3000L, 1L), (3000L, 0L)), sink)
      }
    }
  }

  test("restart durability: switchStream active-holder state survives a " +
      "checkpointed restart (displaced source stays dead)") {
    withRocksDb {
      // Fourth restart leg (r12 verdict #4): switch's (active, seen)
      // state is the most ORDER-sensitive of the processors — losing it
      // resurrects a displaced source, whose next emission would then
      // "steal" activity back as if never seen.
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_sw_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Double, Int)]]
      val a = new Streaming.EventBus(spark) // src 0
      val b = new Streaming.EventBus(spark) // src 1
      def startQ() = Streaming.switchStream(Seq(a.eventsTyped, b.eventsTyped))
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq
            .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
        }
        .outputMode("append").start()
      // run 1: B emits first (unseen → passes, active = 1), then A's
      // first emission steals activity (active = 0, both seen)
      val q1 = startQ()
      b.emit(Ev(1L, 1_000L, 100.0))
      a.emit(Ev(1L, 2_000L, 1.0))
      q1.processAllAvailable()
      q1.stop()
      // while down: the DISPLACED source emits again, plus the active one
      b.emit(Ev(1L, 3_000L, 101.0))
      a.emit(Ev(1L, 4_000L, 2.0))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size,
        s"duplicated emissions across restart: $all")
      // with (active, seen) restored, B@3ms is seen-and-inactive →
      // suppressed; a lost state would re-admit it (and steal activity
      // back from A, suppressing A@4ms instead)
      assert(all.toSet === Set((1_000L, 100.0, 1), (2_000L, 1.0, 0),
        (4_000L, 2.0, 0)),
        s"displaced source must stay dead across restart, got $all")
    }
  }

  test("restart durability: debounceBursts open-burst state and its " +
      "event-time timer survive a checkpointed restart") {
    withRocksDb {
      // Fifth restart leg — the TIMER-driven processor (r12 verdict
      // #4): an open burst's buffered row AND its registered event-time
      // timeout must both come back from the state store. Two
      // discriminating users: u1's burst gets NO post-restart rows, so
      // its emission can only come from the restored timer; u3's
      // post-restart row lands OUTSIDE the gap, so the pre-crash burst
      // must close from restored state (a lost burst emits nothing
      // for it).
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_deb_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Long, Double)]]
      val bus = new Streaming.EventBus(spark)
      def startQ() = Streaming.debounceBursts(bus.eventsTyped,
          gapSec = 1.0, watermark = "0 seconds")
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
        .outputMode("append").start()
      // run 1: open bursts u1 = (1.4s, 2.0), u3 = (1s, 5.0). Timestamps
      // start at 1s, not 0: a ts-0 row equals the INITIAL watermark and
      // is dropped as late by the stateful operator's pre-filter (found
      // while writing this spec — ts-0 streaming fixtures silently
      // vanish).
      val q1 = startQ()
      bus.emit(Ev(1L, 1_000_000L, 1.0), Ev(1L, 1_400_000L, 2.0),
        Ev(3L, 1_000_000L, 5.0))
      q1.processAllAvailable()
      q1.stop()
      assert(batches.values.flatten.isEmpty,
        "no burst may close before its quiet gap elapses")
      // while down: u3 gets a row past its gap (new burst); u1 nothing;
      // then a watermark advancer fires every surviving timer
      bus.emit(Ev(3L, 2_500_000L, 6.0))
      bus.emit(Ev(99L, 100_000_000L, 0.0))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val got = batches.values.flatten.toList.filter(_._1 < 99L)
      assert(got.size === got.distinct.size,
        s"duplicated burst emissions across restart: $got")
      assert(got.toSet === Set(
        (1L, 2_400_000L, 2.0),   // restored timer fires the u1 burst
        (3L, 2_000_000L, 5.0),   // restored u3 burst closed by the gap
        (3L, 3_500_000L, 6.0)),  // the post-restart burst
        s"open bursts must survive the restart, got $got")
    }
  }

  test("restart durability: ziplatestStream latest-per-source holder " +
      "state survives a checkpointed restart") {
    withRocksDb {
      // Sixth restart leg (r13 verdict #4): ziplatest's holder is the
      // same resurrect-on-loss class the switch leg caught — losing
      // (la, lb) makes the first post-restart B event pair with None
      // instead of A's pre-crash latest.
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_zl_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Option[Double], Option[Double])]]
      val a = new Streaming.EventBus(spark) // src 0
      val b = new Streaming.EventBus(spark) // src 1
      def startQ() = Streaming.ziplatestStream(a.eventsTyped, b.eventsTyped)
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq.map(r => (r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        }
        .outputMode("append").start()
      // run 1: only A has emitted — partial row (1.0, None), la = 1.0
      val q1 = startQ()
      a.emit(Ev(1L, 1_000L, 1.0))
      q1.processAllAvailable()
      q1.stop()
      // while down: B's first value, then a fresher A value
      b.emit(Ev(1L, 2_000L, 100.0))
      a.emit(Ev(1L, 3_000L, 2.0))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size,
        s"duplicated emissions across restart: $all")
      // B@2ms must see A's PRE-CRASH latest (1.0); a lost holder
      // emits (None, 100.0) instead
      assert(all.toSet === Set(
        (1_000L, Some(1.0), None),
        (2_000L, Some(1.0), Some(100.0)),
        (3_000L, Some(2.0), Some(100.0))),
        s"latest-per-source holder must survive the restart, got $all")
    }
  }

  test("restart durability: asofStream pruned reference history survives " +
      "a checkpointed restart (events stamp with pre-crash refs)") {
    withRocksDb {
      // Seventh restart leg — the timer/sample as-of class: the
      // reference history (pruned to the lag) must come back, or
      // post-restart events stamp as None / skip the pre-crash ref.
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_asof_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Double, Option[Long], Option[Double])]]
      val refs = new Streaming.EventBus(spark) // src 0
      val evs = new Streaming.EventBus(spark)  // src 1
      def startQ() = Streaming.asofStream(evs.eventsTyped, refs.eventsTyped)
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq.map(r => (r.getLong(1),
            r.getDouble(2),
            Option(r.getAs[java.lang.Long]("asof_ts")).map(_.toLong),
            Option(r.getAs[java.lang.Double]("asof_value")).map(_.toDouble)))
        }
        .outputMode("append").start()
      // run 1: a reference lands, NO event consumes it yet — the ref
      // lives only in state when the query dies
      val q1 = startQ()
      refs.emit(Ev(1L, 1_000L, 10.0))
      q1.processAllAvailable()
      q1.stop()
      // while down: an event inside the old ref's reign, then a fresher
      // ref, then an event under the fresh ref
      evs.emit(Ev(1L, 2_000L, 1.0))
      refs.emit(Ev(1L, 5_000L, 20.0))
      evs.emit(Ev(1L, 6_000L, 2.0))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size,
        s"duplicated stamps across restart: $all")
      assert(all.toSet === Set(
        (2_000L, 1.0, Some(1_000L), Some(10.0)),  // pre-crash ref restored
        (6_000L, 2.0, Some(5_000L), Some(20.0))),
        s"as-of reference state must survive the restart, got $all")
    }
  }

  test("restart durability: sampleGrid's open tumbling window resumes " +
      "and closes with the pre-crash max_by value") {
    withRocksDb {
      // Eighth restart leg — the WINDOWED-AGG state class (sample =
      // latest value per key as of each grid tick): the open window's
      // max_by(value, ts) partial must come back, or the window closes
      // with only post-restart rows (or not at all).
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_sg_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Long, Double)]]
      val bus = new Streaming.EventBus(spark)
      def startQ() = Streaming.sampleGrid(bus.events, "1 second", "0 seconds")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq.map(r =>
            (r.getTimestamp(0).getTime / 1000, r.getLong(1), r.getDouble(2)))
        }
        .outputMode("append").start()
      // run 1: window [1s, 2s) open with latest 2.0@1.5s — nothing may
      // emit yet (watermark 1.5s < window end). Timestamps start past
      // epoch 0 (the watermark-epoch pitfall, see the debounce leg).
      val q1 = startQ()
      bus.emit(Ev(1L, 1_200_000L, 1.0), Ev(1L, 1_500_000L, 2.0))
      q1.processAllAvailable()
      q1.stop()
      assert(batches.values.flatten.isEmpty,
        "no grid tick may emit before the watermark passes the window")
      // while down: a row in the NEXT window advances the watermark
      // past 2s, closing the pre-crash window; then an advancer closes
      // that one too
      bus.emit(Ev(1L, 2_500_000L, 3.0))
      bus.emit(Ev(99L, 100_000_000L, 0.0))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val got = batches.values.flatten.toList.filter(_._2 < 99L)
      assert(got.size === got.distinct.size,
        s"duplicated grid ticks across restart: $got")
      assert(got.toSet === Set(
        (2L, 1L, 2.0),   // pre-crash window closed from RESTORED state
        (3L, 1L, 3.0)),  // the post-restart window
        s"open-window sample state must survive the restart, got $got")
    }
  }

  test("restart durability: hllRegisterStream max-rho register state " +
      "survives a checkpointed restart (no phantom re-emission)") {
    withRocksDb {
      // Ninth restart leg — the MERGE-MONOTONE REGISTER state class
      // (r14 verdict #1): a register file that silently resets on
      // restart under-counts FOREVER, because registers only grow and
      // a downstream consumer folds update-mode rows with max() — a
      // phantom low-rho re-emission is absorbed, so the failure is
      // invisible in output shape and only catchable by asserting the
      // SUPPRESSION: a post-restart observation with rho BELOW the
      // pre-crash register max must emit NOTHING.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      // mirror of the stream's mix-hash (parity-tested vs batch)
      def reg(sid: Long): (Long, Int) = {
        val h = (sid * 2654435761L + 104729L) & 0xFFFFFFFFL
        val sfx = h >> 6
        val rho = if (sfx == 0L) 27
          else 27 - java.lang.Long.toBinaryString(sfx).length
        (h % 64, rho)
      }
      // search a discriminating triple: sHigh lands rho ≥ 4 in some
      // register; sLow lands the SAME register with a strictly lower
      // rho; sOther lands a DIFFERENT register (proves the restarted
      // query is live, not just silent)
      val sHigh = (0L to 4096L).find { s => reg(s)._2 >= 4 }.get
      val (idxH, rhoH) = reg(sHigh)
      val sLow = (0L to 65536L).find { s =>
        val (i, r) = reg(s); i == idxH && r < rhoH }.get
      val sOther = (0L to 4096L).find { s => reg(s)._1 != idxH }.get
      val (idxO, rhoO) = reg(sOther)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_hll_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(String, Long, Int)]]
      val mem = MemoryStream[Streaming.SketchIn](spark, 1)
      def startQ() = Streaming.hllRegisterStream(mem.toDS())
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq
            .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        }
        .outputMode("update").start()
      // run 1: the register climbs to rhoH and the query dies
      val q1 = startQ()
      mem.addData(Streaming.SketchIn("g", sHigh))
      q1.processAllAvailable()
      q1.stop()
      assert(batches.values.flatten.toSet === Set(("g", idxH, rhoH)),
        "run 1 must emit the initial register value")
      // while down: a LOWER observation of the same register (must be
      // suppressed iff state survived) plus a fresh register (must emit)
      mem.addData(Streaming.SketchIn("g", sLow), Streaming.SketchIn("g", sOther))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size,
        s"duplicated register emissions across restart: $all")
      // lost state re-emits (idxH, rho(sLow)) — the under-count signature
      assert(all.toSet === Set(("g", idxH, rhoH), ("g", idxO, rhoO)),
        s"register max must survive the restart (no low re-emission), got $all")
    }
  }

  test("restart durability: cmsCellStream counters accumulate across a " +
      "checkpointed restart (post-restart totals include pre-crash mass)") {
    withRocksDb {
      // Tenth restart leg — the ADDITIVE-COUNTER register class: unlike
      // HLL's max (where a reset is only visible via suppression), a
      // reset CMS cell is directly visible — the post-restart emission
      // carries only the new batch's weight instead of the running
      // total, and every point-estimate served afterwards is low by
      // the pre-crash mass.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      val (w, ha, hb) = (16, Seq(31L, 131L), Seq(7L, 101L))
      val fp = 5L
      val cells = ha.indices.map(j =>
        (j, (fp * ha(j) + hb(j)) % 1000003L % w))
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cms_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Int, Long, Long)]]
      val mem = MemoryStream[(Long, Long)](spark, 1)
      def startQ() = Streaming.cmsCellStream(mem.toDS(), w, ha, hb)
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq
            .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        }
        .outputMode("update").start()
      // run 1: weight 3 lands in the fingerprint's D cells
      val q1 = startQ()
      mem.addData((fp, 3L))
      q1.processAllAvailable()
      q1.stop()
      assert(batches.values.flatten.toSet ===
        cells.map { case (r, b) => (r, b, 3L) }.toSet,
        "run 1 must emit the initial cell totals")
      // while down: weight 2 more of the same fingerprint
      mem.addData((fp, 2L))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size,
        s"duplicated cell emissions across restart: $all")
      // lost state emits (…, 2) — the silent under-count signature
      assert(all.toSet === (cells.map { case (r, b) => (r, b, 3L) } ++
        cells.map { case (r, b) => (r, b, 5L) }).toSet,
        s"cell totals must accumulate across the restart, got $all")
    }
  }

  test("restart durability: minhashCandStream bucket membership survives " +
      "a checkpointed restart (pre-crash doc still pairs)") {
    withRocksDb {
      // Eleventh restart leg — the CANDIDATE-GENERATION state class
      // (r14 verdict #1's join-state family): LSH bucket membership
      // lost on restart means every post-restart near-duplicate of a
      // pre-crash document lands in an "empty" bucket and NO candidate
      // pair ever emits — the dedup silently stops deduping against
      // history, the worst failure mode for a crawl pipeline.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_mh_ckpt").toString
      val batches = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Long)]]
      val mem = MemoryStream[Streaming.DocEv](spark, 1)
      // one band of all 4 hashes → identical docs share exactly one
      // bucket, so exactly-once is assertable as a plain set equality
      def startQ() = Streaming.minhashCandStream(mem.toDS(),
          k = 3, numHashes = 4, numBands = 1, rowsPerBand = 4)
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = df.collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        .outputMode("append").start()
      val text = "the quick brown fox jumps over the lazy dog"
      // run 1: the first copy registers in its bucket — no pair yet
      val q1 = startQ()
      mem.addData(Streaming.DocEv(10L, text))
      q1.processAllAvailable()
      q1.stop()
      assert(batches.values.flatten.isEmpty,
        "a single bucket member must not emit a pair")
      // while down: an exact near-dup (same signature → same bucket)
      // plus an unrelated doc (proves the restarted query is live)
      mem.addData(Streaming.DocEv(20L, text),
        Streaming.DocEv(30L, "completely different words in this one here"))
      val q2 = startQ()
      q2.processAllAvailable()
      q2.stop()
      val all = batches.values.flatten.toList
      assert(all.size === all.distinct.size,
        s"duplicated candidate pairs across restart: $all")
      // lost bucket state: doc 20 sees an empty bucket → emits nothing
      assert(all.toSet === Set((10L, 20L)),
        s"pre-crash bucket member must pair post-restart, got $all")
    }
  }
}
