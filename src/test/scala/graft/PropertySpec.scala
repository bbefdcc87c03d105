package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.engine.EventStream

/**
 * Property-based laws (SURVEY.md §5): engine-independent invariants the
 * reference's semantics imply, checked over random inputs. Spark jobs
 * per case are expensive, so case counts are small and seeds fixed
 * (reproducible). Gen is driven directly — the scalatest-scalacheck
 * bridge artifact is not among the vendored deps.
 */
class PropertySpec extends SparkSpec {

  private val smallInts = Gen.nonEmptyListOf(Gen.choose(-50, 50))

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 5).foreach { i =>
      f(g.pureApply(Gen.Parameters.default.withSize(30), Seed(42L + i)))
    }

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 5).foreach { i =>
      f(g1.pureApply(Gen.Parameters.default.withSize(30), Seed(42L + i)),
        g2.pureApply(Gen.Parameters.default.withSize(30), Seed(1042L + i)))
    }

  test("reduceScan = reference Reduce over any input (ops/aggregate.py:18-36)") {
    // simulator: the reference's exact emission — no initializer means
    // the first element seeds prev and emits NOTHING; with one, every
    // element emits f-folded from the initializer
    def ref(xs: List[Long], init: Option[Long], f: (Long, Long) => Long): List[Long] =
      init match {
        case Some(i) => xs.scanLeft(i)(f).tail
        case None => xs match {
          case Nil => Nil
          case h :: t => t.scanLeft(h)(f).tail
        }
      }
    val f = (a: Long, x: Long) => a * 3 - x // non-commutative, non-associative
    forAll(smallInts) { (xs: List[Int]) =>
      val longs0 = xs.map(_.toLong)
      val st = seqStream(xs)
      val gotNoInit = longs(st.reduceScan[Long](f, "value", "acc"), "acc")
      assert(gotNoInit == ref(longs0, None, f))
      val gotInit = longs(st.reduceScan[Long](f, "value", "acc", Some(7L)), "acc")
      assert(gotInit == ref(longs0, Some(7L), f))
    }
  }

  test("zip length = min(len a, len b); pairs positional (ops/combine.py:219)") {
    forAll(smallInts, smallInts) { (a: List[Int], b: List[Int]) =>
      val z = EventStream.zip(
        seqStream(a), seqStream(b), "i")
      val got = z.df.orderBy("i").select("value", "value_r").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList
      assert(got == a.zip(b).map { case (x, y) => (x.toLong, y.toLong) })
    }
  }

  /** Keyed rows (key, seq, ts, value) of source `src`; seq is the row's
    * position, so it is unique within a source and ties only across. */
  private def keyedSource(src: Int, rows: List[(Int, Int)]): EventStream = {
    import spark.implicits._
    EventStream(rows.zipWithIndex.map { case ((k, t), i) =>
        (k, i.toLong, new java.sql.Timestamp(t * 1000L), src * 1000L + i) }
      .toDF("k", "seq", "ts", "value"), keys = Seq("k"))
  }

  private val keyedRows = Gen.listOf(Gen.zip(Gen.choose(0, 1), Gen.choose(0, 6)))

  test("switch and concat with 3 sources and cross-source ts ties ≡ a fold of the reference rules") {
    // The reference's scans, per key over (ts, src, seq):
    //  - switch: a disconnected source never emits again; any other
    //    source's emission passes and makes it the active one,
    //    disconnecting the previous active source (ops/combine.py:105-139);
    //  - concat: a disconnected source never emits again; an emission of
    //    source j passes and disconnects every source i < j
    //    (ops/combine.py:142-174).
    // Output: (key, src, seq, out_seq), out_seq counting passed rows per key.
    type Row = (Int, Int, Long) // key, src, seq
    def fold(rows: Seq[(Int, Int, Long, Int)], step: (Set[Int], Option[Int], Int) =>
        Option[(Set[Int], Option[Int])]): Set[(Row, Long)] =
      rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        rs.sortBy(r => (r._4, r._2, r._3))
          .foldLeft((Set.empty[Int], Option.empty[Int], Vector.empty[Row])) {
            case ((dead, active, out), (_, src, seq, _)) =>
              step(dead, active, src).fold((dead, active, out)) { case (d, a) =>
                (d, a, out :+ ((k, src, seq)))
              }
          }._3.zipWithIndex.map { case (r, i) => (r, i + 1L) }
      }.toSet
    val switchStep = (dead: Set[Int], active: Option[Int], src: Int) =>
      if (dead(src)) None else Some((dead ++ active.filter(_ != src), Some(src)))
    val concatStep = (dead: Set[Int], active: Option[Int], src: Int) =>
      if (dead(src)) None else Some((dead ++ (0 until src), active))
    forAll(keyedRows, keyedRows) { (r0, r1) =>
      // a third source on the same ts range, so ties cross all three
      val r2 = r1.reverse.map { case (k, t) => (1 - k, t) }
      val srcs = Seq(r0, r1, r2)
      val all = srcs.zipWithIndex.flatMap { case (rs, src) =>
        rs.zipWithIndex.map { case ((k, t), i) => (k, src, i.toLong, t) } }
      val streams = srcs.zipWithIndex.map { case (rs, src) => keyedSource(src, rs) }
      def got(es: EventStream): Set[(Row, Long)] =
        es.df.select("k", "src", "seq", "o").collect()
          .map(r => ((r.getInt(0), r.getInt(1), r.getLong(2)), r.getLong(3))).toSet
      assert(got(EventStream.switch(streams, "src", "o")) == fold(all, switchStep))
      assert(got(EventStream.concat(streams, "src", "o")) == fold(all, concatStep))
    }
  }

  test("keyed zip with unequal lengths pairs each key's i-th rows by seq") {
    forAll(keyedRows, keyedRows) { (ra, rb) =>
      val want = (0 to 1).flatMap { k =>
        def vals(rs: List[(Int, Int)], src: Int) =
          rs.zipWithIndex.collect { case ((`k`, _), i) => src * 1000L + i }
        vals(ra, 0).zip(vals(rb, 1)).zipWithIndex.map { case ((a, b), i) => (k, i + 1L, a, b) }
      }.toSet
      val got = EventStream.zip(keyedSource(0, ra), keyedSource(1, rb), "i").df
        .select("k", "i", "value", "value_r").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want)
    }
  }

  /** An events fixture directory: rows of (event_type, ts in minutes
    * after 2024-01-01 00:00 UTC, cents or NULL). */
  private def eventsDir(rows: Seq[(String, Int, Option[Int])]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    rows.zipWithIndex.map { case ((typ, m, c), i) =>
        (i.toLong, new java.sql.Timestamp(t0 + m * 60000L), i % 3L, typ, c.map(_ / 100.0), "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  // minutes: mostly on the hour grid or near it, over a few hours;
  // about one value in five is NULL
  private val eventRows = Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
    Gen.oneOf(Gen.choose(0, 5).map(_ * 60), Gen.choose(0, 300)),
    Gen.frequency(4 -> Gen.choose(0, 400).map(Option(_)), 1 -> Gen.const(None))))

  test("q_interpolate ≡ a nested-loop reference: on-grid ticks, a single-tick key, a short span, NULL values") {
    val H = 3600000000L
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    def want(rows: Seq[(String, Int, Option[Int])]): Set[(String, Long, Option[Long])] = {
      val us = rows.map(r => base + r._2 * 60000000L)
      val (h0, h1) = (us.min / H, us.max / H)
      rows.groupBy(_._1).toSeq.flatMap { case (typ, rs) =>
        // a tick is an instant with a value: NULLs are skipped, not ticks
        val ticks = rs.filter(_._3.isDefined).groupBy(r => base + r._2 * 60000000L)
          .map { case (t, g) => t -> g.flatMap(_._3).map(_.toLong).max }
        (h0 to h1).map { h =>
          val g = h * H
          val prev = ticks.keys.filter(_ <= g).maxOption
          val next = ticks.keys.filter(_ >= g).minOption
          val v = for (p <- prev; n <- next) yield
            if (p == n) ticks(p) else (ticks(p) * (n - g) + ticks(n) * (g - p)) / (n - p)
          (typ, h, v)
        }
      }.toSet
    }
    val fixed = Seq(
      Seq(("a", 60, 100), ("a", 120, 300), ("a", 150, 5), ("solo", 95, 42)),
      Seq(("a", 65, 10), ("a", 100, 20), ("b", 70, 7)),  // within one hour: one grid point
      Seq(("a", 0, 1), ("a", 0, 9), ("b", 240, 3)),      // a tie at one instant
      // NULL ticks: interpolate across them; an all-NULL type is NULL everywhere
      Seq(("a", 0, null), ("a", 60, 100), ("a", 120, null), ("a", 180, 400),
        ("a", 180, null), ("nul", 30, null), ("nul", 200, null), ("b", 240, 3)))
      .map(_.map { case (t, m, c) => (t, m, Option(c).map(_.asInstanceOf[Int])) })
    forAll(eventRows)(rows => assert(got(rows) == want(rows)))
    fixed.foreach(rows => assert(got(rows) == want(rows)))
    def got(rows: Seq[(String, Int, Option[Int])]) =
      SparkEntry.queries("q_interpolate")(spark, eventsDir(rows)).collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
        .toSet
  }

  test("regular-timer sample ≡ a nested-loop reference: on-grid ticks, a single-row key, a short span") {
    import spark.implicits._
    // rows: (key, ts µs, value or null); ticks t0 + k·step, k >= 1, up to t1
    def check(rows: Seq[(Int, Long, Option[Long])], t0: Long, t1: Long, step: Long): Unit = {
      val df = rows.zipWithIndex.map { case ((k, t, v), i) => (k, i.toLong, t, v) }
        .toDF("k", "seq", "t", "v")
        .withColumn("ts", timestamp_micros(col("t"))).drop("t")
      val grid = Seq((t0, t1)).toDF("a", "b")
        .select(timestamp_micros(col("a")).as("t0"), timestamp_micros(col("b")).as("t1"))
      val got = EventStream(df, keys = Seq("k")).sampleEvery(grid, step, Seq("v")).df
        .select(col("k"), col("seq"), unix_micros(col("ts")), col("v")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = for {
        k <- rows.map(_._1).distinct
        n <- 1L to (t1 - t0) / step
        tick = t0 + n * step
        v <- rows.zipWithIndex.filter { case (r, _) => r._1 == k && r._2 <= tick }
          .sortBy { case (r, i) => (r._2, i) }.flatMap(_._1._3).lastOption
      } yield (k, n, tick, v)
      assert(got == want.toSet)
    }
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 60L),
        Gen.option(Gen.choose(0L, 99L))))) { rows =>
      check(rows, 3L, rows.map(_._2).max, 7L)  // ticks at 10, 17, ...: some rows land on them
      check(rows, -5L, 70L, 5L)                // a grid that runs past every key's last row
    }
    val oneRow = Seq((0, 24L, Some(1L)), (1, 3L, Some(2L)), (1, 40L, Some(3L)))
    check(oneRow, 3L, 40L, 7L)  // key 0 has a single row, on the tick t0 + 3·7
    check(oneRow, 3L, 9L, 7L)   // span shorter than one step: no tick
  }

  test("merge multiset = union of inputs (ops/combine.py:97)") {
    forAll(smallInts, smallInts) { (a: List[Int], b: List[Int]) =>
      val m = EventStream.merge(Seq(seqStream(a), seqStream(b)), "src", "oseq")
      val got = m.df.select("value").collect().map(_.getLong(0)).sorted.toList
      assert(got == (a ++ b).map(_.toLong).sorted)
    }
  }

  test("takewhile ++ dropwhile = identity partition (ops/select.py:49-76)") {
    forAll(smallInts) { (a: List[Int]) =>
      val pred = col("value") < 0
      val tw = valuesOf[Long](seqStream(a).takeWhile(pred), "value")
      val dw = valuesOf[Long](seqStream(a).dropWhile(pred), "value")
      assert((tw ++ dw).toList == a.map(_.toLong))
      assert(tw.forall(_ < 0))
    }
  }

  test("running sum/min/max agree with scanLeft (ops/aggregate.py)") {
    forAll(smallInts) { (a: List[Int]) =>
      val st = seqStream(a)
        .rsum(col("value"), "rs").rmin(col("value"), "rmin").rmax(col("value"), "rmax")
      val rows = st.df.orderBy("seq").select("rs", "rmin", "rmax").collect()
      val expSum = a.scanLeft(0L)(_ + _).tail
      val expMin = a.tail.scanLeft(a.head.toLong)((m, x) => math.min(m, x))
      val expMax = a.tail.scanLeft(a.head.toLong)((m, x) => math.max(m, x))
      assert(rows.map(_.getLong(0)).toList == expSum)
      assert(rows.map(_.getLong(1)).toList == expMin)
      assert(rows.map(_.getLong(2)).toList == expMax)
    }
  }

  test("ema stays within running [min, max] (ops/aggregate.py:95)") {
    forAll(smallInts) { (a: List[Int]) =>
      val st = seqStream(a)
      val got = st.derive(st.df.withColumn("ema",
          graft.functions.Aggregators.ema(col("value").cast("double"), 0.25).over(st.wRun)))
        .df.orderBy("seq").select("ema").collect().map(_.getDouble(0)).toList
      val mins = a.tail.scanLeft(a.head)(math.min)
      val maxs = a.tail.scanLeft(a.head)(math.max)
      got.zip(mins.zip(maxs)).foreach { case (e, (lo, hi)) =>
        assert(e >= lo - 1e-9 && e <= hi + 1e-9)
      }
    }
  }

  test("chunk(n) sizes: all n except a shorter tail (ops/transform.py:158)") {
    forAll(smallInts, Gen.choose(1, 7)) { (a: List[Int], n: Int) =>
      val sizes = seqStream(a).chunk("value", n, "ci", "vals")
        .df.orderBy("ci").select("vals").collect()
        .map(_.getSeq[Long](0).length).toList
      assert(sizes.init.forall(_ == n) || sizes.length <= 1)
      assert(sizes.last <= n && sizes.sum == a.length)
    }
  }

  test("unique preserves first occurrences in order (ops/select.py:115)") {
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 5))) { (a: List[Int]) =>
      val got = valuesOf[Long](seqStream(a).unique(Seq("value")), "value").toList
      assert(got == a.map(_.toLong).distinct)
    }
  }

  test("salted aggregation equals direct aggregation (Skew)") {
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 3)), Gen.choose(2, 8)) {
      (a: List[Int], buckets: Int) =>
        val df = seqStream(a).df.withColumn("k", col("value") % 2)
        val direct = df.groupBy("k").agg(sum(col("value")).as("s"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val salted = graft.engine.Skew.saltedSum(df, Seq("k"), col("value"), "s", buckets)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(salted == direct)
        val directD = df.groupBy("k").agg(count_distinct(col("value")).as("d"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val saltedD = graft.engine.Skew
          .saltedCountDistinct(df, Seq("k"), col("value"), "d", buckets)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(saltedD == directD)
    }
  }

  test("salted join equals direct join (Skew)") {
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 6)), Gen.choose(2, 8)) {
      (a: List[Int], buckets: Int) =>
        import spark.implicits._
        val big = a.zipWithIndex.map { case (k, i) => (k.toLong, i.toLong) }
          .toDF("k", "payload")
        val small = a.distinct.map(k => (k.toLong, s"dim$k")).toDF("k", "name")
        def rows(df: org.apache.spark.sql.DataFrame) = df
          .select("k", "payload", "name").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
        val direct = rows(big.join(small, Seq("k")))
        val salted = rows(graft.engine.Skew.saltedJoin(big, small, Seq("k"), buckets))
        assert(salted == direct)
    }
  }

  test("interval join: bucketed pairs equal the nested-loop reference, exactly once") {
    val genIv = Gen.nonEmptyListOf(for {
      lo <- Gen.choose(0L, 200L); len <- Gen.choose(-3L, 40L)
    } yield (lo, lo + len)) // len < 0 → empty interval, must match nothing
    val genPt = Gen.nonEmptyListOf(Gen.choose(0L, 240L))
    forAll(genIv, genPt) { (ivs: List[(Long, Long)], pts: List[Long]) =>
      import spark.implicits._
      val intervals = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val points = pts.zipWithIndex.map { case (p, j) => (j.toLong, p) }
        .toDF("pid", "p")
      val joined = graft.engine.IntervalJoin
        .pointsInIntervals(intervals, points, "lo", "hi", "p", 16L)
      val got = joined.filter(col("p").isNotNull).select("iid", "pid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = for {
        ((lo, hi), i) <- ivs.zipWithIndex
        (p, j) <- pts.zipWithIndex
        if p >= lo && p <= hi
      } yield (i.toLong, j.toLong)
      assert(got.sorted == want.map(identity).sorted) // equality ⇒ no duplicate pairs
      // every interval kept, its point count exact
      val counts = joined.groupBy("iid").agg(count("pid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(counts == ivs.indices.map(i => i.toLong -> want.count(_._1 == i).toLong).toMap)
    }
  }

  test("asof laws: row-preserving, match <= left ts, match is the max candidate") {
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 40)), Gen.nonEmptyListOf(Gen.choose(0, 40))) {
      (lts: List[Int], rts: List[Int]) =>
        import spark.implicits._
        val left = lts.distinct.zipWithIndex
          .map { case (t, i) => (t.toLong % 3, t.toLong, i.toLong) }
          .toDF("k", "t", "lid")
        val right = rts.distinct
          .map(t => (t.toLong % 3, t.toLong, t.toLong * 10))
          .toDF("k", "t", "px")
        val got = graft.engine.AsofJoin.asofLeft(left, right, "k", "t", Seq("px"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1),
            Option(r.getAs[java.lang.Long]("asof_t")).map(_.toLong)))
        assert(got.length == left.count())  // LEFT join: no drops, no dups
        val rightSet = rts.distinct.map(t => (t.toLong % 3, t.toLong)).toSet
        got.foreach { case (k, t, m) =>
          val cands = rightSet.collect { case (rk, rt) if rk == k && rt <= t => rt }
          assert(m == (if (cands.isEmpty) None else Some(cands.max)))
        }
    }
  }

  test("stratified sample: exactly min(n, group size) rows per key, deterministic") {
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 100)), Gen.choose(1, 5)) {
      (a: List[Int], n: Int) =>
        import spark.implicits._
        val df = a.distinct.map(v => (v.toLong % 4, v.toLong)).toDF("k", "v")
        val h = (col("v") * 2654435761L) % 1000003L
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy(h, col("v"))
        val pick = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
        val sizes = pick.groupBy("k").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val full = df.groupBy("k").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(sizes == full.map { case (k, c) => k -> math.min(c, n.toLong) })
        // deterministic: a second evaluation picks the identical rows
        val s1 = pick.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val s2 = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
          .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(s1 == s2)
    }
  }

  test("connected components: same label iff connected (brute-force check)") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))) {
      (es: List[(Long, Long)]) =>
        import spark.implicits._
        val edges = es.filter(e => e._1 != e._2)
        if (edges.nonEmpty) {
          val got = graft.engine.ConnectedComponents.run(edges.toDF("a", "b"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          // brute-force reachability fixpoint on the driver
          var comp = edges.flatMap(e => Seq(e._1, e._2)).distinct
            .map(v => v -> v).toMap
          val sym = edges ++ edges.map(_.swap)
          var changed = true
          while (changed) {
            changed = false
            sym.foreach { case (u, v) =>
              val m = math.min(comp(u), comp(v))
              if (comp(u) != m || comp(v) != m) {
                comp += u -> m; comp += v -> m; changed = true
              }
            }
          }
          assert(got == comp)
        }
    }
  }

  test("pageRank: fixed-point integer ranks match a single-threaded reference") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))) {
      (es0: List[(Long, Long)]) =>
        import spark.implicits._
        val es = es0.distinct
        val scale = 1000000000000L
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val n = nodes.size
        val out = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
        // driver-side reference: identical floor-division recurrence
        var r = nodes.map(_ -> scale / n).toMap
        for (_ <- 1 to 3) {
          val d = r.map { case (k, v) => k -> v * 85 / 100 }
          val dang = nodes.filterNot(out.contains).map(d).sum
          val base = (scale * 15 / 100) / n + dang / n
          val inflow = es.groupBy(_._2).map { case (v, in) =>
            v -> in.map(e => d(e._1) / out(e._1)).sum }
          r = nodes.map(v => v -> (base + inflow.getOrElse(v, 0L))).toMap
        }
        val got = graft.engine.PageRank.run(es.toDF("a", "b"), "a", "b", 3)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
        assert(got == r)
        // personalized with seeds = every node is EXACTLY uniform PageRank
        // (|S| = N makes the teleport term identical)
        val allSeeds = nodes.toDF("node")
        val ppr = graft.engine.PageRank
          .runPersonalized(es.toDF("a", "b"), "a", "b", allSeeds, 3)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
        assert(ppr == got)
        // weighted with unit weights on the distinct edge list is EXACTLY
        // uniform PageRank ((d·1)/W = d/outdeg, same per-edge floor)
        val wpr = graft.engine.PageRank
          .runWeighted(es.toDF("a", "b").withColumn("w", lit(1L)),
            "a", "b", "w", 3)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
        assert(wpr == got)
    }
  }

  test("bfs: hop distances match a single-threaded reference; path golden") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))) {
      (es0: List[(Long, Long)]) =>
        import spark.implicits._
        val es = es0.filter(e => e._1 != e._2)
        if (es.nonEmpty) {
          val adj = (es ++ es.map(_.swap)).groupBy(_._1)
            .map { case (k, v) => k -> v.map(_._2).toSet }
          val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
          val seeds = nodes.filter(_ <= 3)
          // driver-side BFS, 3 hops
          var dist = nodes.map(v => v -> (if (seeds.contains(v)) Some(0L) else None)).toMap
          for (k <- 1L to 3L) {
            val frontier = dist.collect { case (v, Some(d)) if d == k - 1 => v }
            val reached = frontier.flatMap(adj.getOrElse(_, Set.empty)).toSet
            dist = dist.map { case (v, d) =>
              v -> d.orElse(if (reached(v)) Some(k) else None) }
          }
          val got = graft.engine.Bfs.run(es.toDF("a", "b"), seeds.toDF("node"), 3)
            .collect().map(r => r.getLong(0) ->
              (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
          assert(got == dist)
        }
    }
    // path 1-2-3-4-5, seed 1, 2 hops: 0,1,2,null,null
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = graft.engine.Bfs.run(path, Seq(1L).toDF("node"), 2)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(1L -> Some(0L), 2L -> Some(1L), 3L -> Some(2L),
      4L -> None, 5L -> None))
  }

  test("scd2: random CDC batches fold to the single-threaded dimension history") {
    // 3 batches at strictly increasing effective dates (the CDC arrival
    // order), random (key, value) rows inside each — within-batch
    // latest-wins ties on eff break by the tracked-value struct max,
    // which the simulator mirrors
    val batchGen = Gen.listOf(Gen.zip(Gen.choose(1L, 4L), Gen.oneOf("A", "B", "C")))
    forAll(Gen.listOfN(3, batchGen)) { (batches: List[List[(Long, String)]]) =>
      import spark.implicits._
      val keys = (1L to 4L)
      // simulator state: key -> (value, validFrom); closed history rows
      var cur = keys.map(k => k -> ("Z", "2000-01-01")).toMap
      var hist = List.empty[(Long, String, String, Option[String])]
      var dim = keys.map(k => (k, "Z", "2000-01-01", Option.empty[String]))
        .toDF("k", "attr", "vf", "vt")
        .select(col("k"), col("attr"), col("vf").cast("date").as("valid_from"),
          col("vt").cast("date").as("valid_to"))
      batches.zipWithIndex.foreach { case (b, i) =>
        val eff = s"2001-01-0${i + 1}"
        if (b.nonEmpty) {
          val bdf = b.toDF("k", "attr")
            .select(col("k"), col("attr"), lit(eff).cast("date").as("eff"))
          dim = graft.engine.Scd2.merge(dim, bdf, "k", Seq("attr"), "eff")
            .localCheckpoint()
          // simulator: same latest-wins collapse (max value per key at
          // this batch's shared eff), then close-on-change
          b.groupBy(_._1).foreach { case (k, rows) =>
            val v = rows.map(_._2).max
            val (cv, cf) = cur(k)
            if (v != cv) {
              hist ::= (k, cv, cf, Some(eff))
              cur += k -> (v, eff)
            }
          }
        }
      }
      val want = (hist ++ cur.toList.map { case (k, (v, f)) => (k, v, f, None) }).toSet
      val got = dim.collect().map(r => (r.getLong(0), r.getString(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString))).toSet
      assert(got == want)
    }
  }

  test("kcore: fixed-round peeling matches a single-threaded reference; cascade golden") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))) {
      (es0: List[(Long, Long)]) =>
        import spark.implicits._
        val es = es0.filter(e => e._1 != e._2)
          .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
        if (es.nonEmpty) {
          val k = 2; val rounds = 4
          var cur = (es ++ es.map(_.swap)).toSet
          for (_ <- 1 to rounds) {
            val deg = cur.groupBy(_._1).map { case (n, v) => n -> v.size }
            val keep = deg.collect { case (n, d) if d >= k => n }.toSet
            cur = cur.filter(e => keep(e._1) && keep(e._2))
          }
          val want = cur.groupBy(_._1)
            .map { case (n, v) => n -> v.size.toLong }
          val got = graft.engine.KCore.run(es.toDF("a", "b"), k, rounds)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == want)
        }
    }
    // path 1-2-3-4-5 under k=2: endpoints peel first, the cascade
    // dissolves the rest a round later — fixed rounds expose the
    // cascade step by step
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    assert(graft.engine.KCore.run(path, 2, 1).count() == 3) // 2,3,4 left
    assert(graft.engine.KCore.run(path, 2, 2).count() == 0) // all gone
    // triangle plus a tail under k=2: the triangle survives, tail peels
    val triTail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val core = graft.engine.KCore.run(triTail, 2, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("sssp: Bellman-Ford distances match a single-threaded reference; weighted golden") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L),
      Gen.choose(1L, 9L)))) { (es0: List[(Long, Long, Long)]) =>
      import spark.implicits._
      val es = es0.filter(e => e._1 != e._2)
      if (es.nonEmpty) {
        // duplicate directed edges keep the minimum weight
        val ew = es.groupBy(e => (e._1, e._2))
          .map { case ((u, v), rs) => (u, v, rs.map(_._3).min) }.toList
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val seeds = nodes.filter(_ <= 2)
        var dist: Map[Long, Option[Long]] =
          nodes.map(v => v -> (if (seeds.contains(v)) Some(0L) else None)).toMap
        for (_ <- 1 to 3) {
          val relaxed = ew.flatMap { case (u, v, w) =>
            dist(u).map(d => v -> (d + w)) }
            .groupBy(_._1).map { case (v, c) => v -> c.map(_._2).min }
          dist = dist.map { case (v, d) =>
            v -> ((d, relaxed.get(v)) match {
              case (None, nd) => nd
              case (Some(x), None) => Some(x)
              case (Some(x), Some(y)) => Some(math.min(x, y))
            })
          }
        }
        val got = graft.engine.Sssp
          .run(es.toDF("a", "b", "w"), seeds.toDF("node"), 3)
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        assert(got == dist)
      }
    }
    // golden: 1 -10-> 2 -1-> 3 and 1 -20-> 3: two-hop route wins
    import spark.implicits._
    val g = Seq((1L, 2L, 10L), (2L, 3L, 1L), (1L, 3L, 20L)).toDF("a", "b", "w")
    val got = graft.engine.Sssp.run(g, Seq(1L).toDF("node"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 10L, 3L -> 11L))
  }

  test("graph edge cases: empty seeds, unreachable seeds, empty graphs") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    // BFS with no seeds (or seeds absent from the graph): every node
    // present, every dist null
    val noSeeds = graft.engine.Bfs.run(path, Seq.empty[Long].toDF("node"), 2)
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(noSeeds == Map(1L -> true, 2L -> true, 3L -> true))
    val absent = graft.engine.Bfs.run(path, Seq(99L).toDF("node"), 2)
      .collect().map(r => r.isNullAt(1))
    assert(absent.length == 3 && absent.forall(identity))
    // k-core on an empty edge list: empty result, no crash
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.engine.KCore.run(empty, 2, 2).count() == 0)
    assert(graft.engine.Bfs.run(empty, Seq(1L).toDF("node"), 1).count() == 0)
  }

  test("hits: scaleFor ladder — floor at gate SFs, doubles with the graph, caps at MAX_SCALE") {
    import graft.engine.Hits
    assert(Hits.scaleFor(1L) == 1000000L)
    assert(Hits.scaleFor(1000000L) == 1000000L) // boundary: exactly the floor
    assert(Hits.scaleFor(1000001L) == 2000000L)
    assert(Hits.scaleFor(1599900L) == 2000000L) // the sf10 rung's node count
    assert(Hits.scaleFor(4000001L) == 8000000L)
    assert(Hits.scaleFor(Long.MaxValue) == Hits.MAX_SCALE)
    assert(Hits.MAX_SCALE == 2048000000L &&
      Hits.MAX_SCALE <= math.sqrt(Long.MaxValue.toDouble).toLong,
      "normalization products reach scale^2 — the cap must keep that in a Long")
    // monotone and always on the 10^6 * 2^k ladder
    val pts = Seq(1L, 999999L, 1000000L, 1000001L, 3000000L, 1L << 33)
    val vs = pts.map(Hits.scaleFor(_))
    assert(vs == vs.sorted && vs.forall(v => {
      var m = 1000000L; while (m < v) m *= 2; m == v
    }))
  }

  test("hits: derived scale equals the explicit historical 10^6 below the floor") {
    import spark.implicits._
    val es = (0L until 30L).map(i => (i, (i * 7 + 1) % 30)).toDF("a", "b")
    val derived = graft.engine.Hits.run(es, "a", "b", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val explicit = graft.engine.Hits.run(es, "a", "b", 2, scale = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(derived == explicit)
  }

  // NOTE this reference initializes hub = scale while the engine now
  // initializes hub = 1: floor division is invariant under a uniform
  // rescaling of the start mass ((c*a) // (c*b) = a // b), so the match
  // below IS the pin for that invariance.
  test("hits: integer hub/auth match a single-threaded reference") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))) {
      (es0: List[(Long, Long)]) =>
        import spark.implicits._
        val es = es0.distinct
        val scale = 1000L
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        // driver-side reference: same L1-normalized floor recursion
        var hub = nodes.map(_ -> scale).toMap
        var auth = nodes.map(_ -> 0L).toMap
        for (_ <- 1 to 3) {
          val araw = es.groupBy(_._2).map { case (v, in) =>
            v -> in.map(e => hub(e._1)).sum }
          val aSum = araw.values.sum
          auth = nodes.map(v => v -> araw.get(v).map(_ * scale / aSum).getOrElse(0L)).toMap
          val hraw = es.groupBy(_._1).map { case (u, out) =>
            u -> out.map(e => auth(e._2)).sum }
          val hSum = hraw.values.sum
          hub = nodes.map(v => v -> hraw.get(v).map(_ * scale / hSum).getOrElse(0L)).toMap
        }
        val got = graft.engine.Hits.run(es.toDF("a", "b"), "a", "b", 3, scale)
          .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
        assert(got == nodes.map(v => v -> (hub(v), auth(v))).toMap)
    }
  }

  test("large-star/small-star components identical to min-label (random graphs)") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))) {
      (es: List[(Long, Long)]) =>
        import spark.implicits._
        val df = es.toDF("a", "b")
        val minLabel = graft.engine.ConnectedComponents.run(df, maxIter = 100)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val star = graft.engine.ConnectedComponents.runStar(df, maxIter = 100)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(star == minLabel)
    }
  }

  test("star components converge in far fewer rounds on a path graph") {
    import spark.implicits._
    // path 0-1-2-...-40: diameter 40 → min-label needs ~40 rounds,
    // large/small-star collapses it in O(log n)
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val (mlLabels, mlRounds) =
      graft.engine.ConnectedComponents.runWithRounds(path, maxIter = 100)
    val (stLabels, stRounds) =
      graft.engine.ConnectedComponents.runStarWithRounds(path, maxIter = 100)
    val ml = mlLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val st = stLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ml == (0L to 40L).map(_ -> 0L).toMap)
    assert(st == ml)
    assert(stRounds * 2 < mlRounds,
      s"star should need far fewer rounds: star=$stRounds minLabel=$mlRounds")
  }

  test("throttle laws: no drops, no early admits, rate respected (ops/timing.py:104)") {
    // random inter-arrival gaps in [0, 2]s; limit 3 per 5s
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 20))) { (gapsDs: List[Int]) =>
      val ts = gapsDs.scanLeft(0L)((acc, g) => acc + g * 100000L).tail
      val base = graft.sources.Sources.fromLongs(spark, ts.indices.map(_.toLong), 0.0)
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          lit(1704067200000000L) + element_at(typedLit(ts), col("seq").cast("int") + 1)))
      val st = graft.engine.EventStream(base, keys = Nil)
      val admits = st.throttle(3, 5.0)
        .df.orderBy("seq").select(unix_micros(col("ts"))).collect()
        .map(_.getLong(0) - 1704067200000000L)
      assert(admits.length == ts.length)                      // never drops
      admits.zip(ts).foreach { case (a, t) => assert(a >= t) } // never early
      // any sliding 5s window admits at most 3
      admits.foreach { w =>
        assert(admits.count(a => a >= w && a < w + 5000000L) <= 3)
      }
    }
  }

  test("spanDedup equals the in-memory reference on random corpora") {
    // tiny vocab so cross-doc span collisions actually occur
    val corpusGen = Gen.nonEmptyListOf(
      Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f")))
    val span = 3
    forAll(corpusGen) { (corpus: List[List[String]]) =>
      // in-memory reference: same keeper-by-lowest-id semantics
      val spans = corpus.zipWithIndex.flatMap { case (toks, id) =>
        toks.grouped(span).zipWithIndex.map { case (seg, pos) =>
          (id.toLong, pos, seg.mkString(" "))
        }
      }
      val stats = spans.groupBy(_._3).map { case (seg, v) =>
        seg -> (v.map(_._1).distinct.size, v.map(_._1).min)
      }
      val expect = spans
        .filter { case (id, _, seg) =>
          val (c, keep) = stats(seg); c == 1 || id == keep }
        .groupBy(_._1)
        .map { case (id, ss) =>
          (id,
            ((corpus(id.toInt).size + span - 1) / span).toLong,
            ss.size.toLong,
            ss.sortBy(_._2).map(_._3).mkString(" "))
        }.toSet

      implicit val enc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING)
      val df = spark.createDataset(
        corpus.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) })
        .toDF("doc_id", "text")
      val got = graft.text.TextOps.spanDedup(df, "doc_id", "text", span)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == expect)
    }
  }

  test("debounce law: one emit per burst, value = burst last (ops/timing.py:67)") {
    forAll(Gen.nonEmptyListOf(Gen.oneOf(1, 2, 30))) { (gapsDs: List[Int]) =>
      // gaps in deciseconds: 0.1/0.2s continue a burst, 3.0s starts a new one
      val ts = gapsDs.scanLeft(0L)((acc, g) => acc + g * 100000L).tail
      val base = graft.sources.Sources.fromLongs(spark, ts.indices.map(_.toLong), 0.0)
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          lit(1704067200000000L) + element_at(typedLit(ts), col("seq").cast("int") + 1)))
      val st = graft.engine.EventStream(base, keys = Nil)
      val got = st.debounce(1.0).df.count()
      val bursts = 1 + ts.sliding(2).count {
        case Seq(a, b) => b - a >= 1000000L
        case _ => false
      }
      assert(got == bursts)
    }
  }

  test("BPE training equals a single-threaded reference on random corpora") {
    // third opinion beyond the DuckDB oracle: the distributed merge
    // learner must equal a direct left-to-right greedy implementation
    // of the documented rules (count desc, lexicographic tiebreak,
    // non-overlapping rewrite)
    def refBpe(texts: Seq[String], nMerges: Int): Seq[(Long, String, String, Long)] = {
      def toks(t: String): Seq[String] =
        t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      var words: Seq[Vector[String]] =
        texts.flatMap(toks).map(_.map(_.toString).toVector)
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      for (t <- 0 until nMerges) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        words.foreach(w => w.indices.dropRight(1).foreach { i =>
          val p = (w(i), w(i + 1)); counts(p) = counts.getOrElse(p, 0L) + 1
        })
        if (counts.nonEmpty) {
          val ((bl, br), c) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
          out += ((t + 1L, bl, br, c))
          words = words.map { w =>
            val b = Vector.newBuilder[String]; var i = 0
            while (i < w.length) {
              if (i + 1 < w.length && w(i) == bl && w(i + 1) == br) {
                b += (bl + br); i += 2
              } else { b += w(i); i += 1 }
            }
            b.result()
          }
        }
      }
      out.toSeq
    }
    val wordGen = Gen.nonEmptyListOf(Gen.choose('a', 'c')).map(_.mkString)
    val docGen = Gen.nonEmptyListOf(wordGen).map(_.mkString(" "))
    forAll(Gen.nonEmptyListOf(docGen)) { (texts: List[String]) =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.text.TextOps.bpeTrain(df, "doc_id", "text", 4)
        .orderBy("step").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      assert(got == refBpe(texts, 4))
    }
  }

  test("HLL merge law: register-wise max of halves = whole; dup-insensitive") {
    import spark.implicits._
    import graft.text.Sketches
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllRegisters(df, Seq("g"), col("sid"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 100000L))) { (ids: List[Long]) =>
      val whole = ids.zipWithIndex
        .map { case (v, i) => (if (i % 3 == 0) "a" else "b", v) }
        .toDF("g", "sid")
      val (pa, pb) = (whole.filter(col("sid") % 2 === 0),
        whole.filter(col("sid") % 2 =!= 0))
      assert(rows(Sketches.hllMerge(regs(pa), regs(pb), Seq("g")))
        == rows(regs(whole)))
      // duplicating every row must not move a single register
      assert(rows(regs(whole.unionAll(whole))) == rows(regs(whole)))
    }
  }

  test("HLL estimate lands near truth on a large distinct set") {
    import spark.implicits._
    import graft.text.Sketches
    // 5000 distinct ids, m = 64: expected rel-error 1.04/sqrt(64) ≈ 13%.
    // Ids are murmur-scrambled — the production inputs are polynomial
    // text hashes, not arithmetic progressions (which the cheap
    // multiplicative mixer is NOT robust to, by design: one 64-bit
    // multiply per row; see Sketches.hllRegisters).
    val df = (0 until 5000)
      .map(i => ("g", (scala.util.hashing.MurmurHash3
        .stringHash(i.toString).toLong & 0x7fffffffL) % 1000000007L))
      .toDF("g", "sid")
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(df, Seq("g"), col("sid")), Seq("g"))
      .select("hll_est").head().getDouble(0)
    assert(math.abs(est / 5000.0 - 1.0) < 0.4, s"estimate $est vs 5000")
  }

  test("CMS merge law: cell-wise sum of halves = whole; never underestimates") {
    import spark.implicits._
    import graft.text.Sketches
    val (w, ha, hb) = (16, Seq(31L, 131L, 257L), Seq(7L, 101L, 1009L))
    def grid(df: org.apache.spark.sql.DataFrame) = Sketches.cmsGrid(
      df.groupBy("fp").agg(count(lit(1)).as("n")), col("fp"), col("n"), w, ha, hb)
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 200L))) { (ids: List[Long]) =>
      val whole = ids.toDF("fp")
      val (pa, pb) = (whole.filter(col("fp") % 2 === 0),
        whole.filter(col("fp") % 2 =!= 0))
      assert(cells(Sketches.cmsMerge(grid(pa), grid(pb))) == cells(grid(whole)))
      // point-query upper bound: min over rows >= true count, for every fp
      val g = cells(grid(whole))
      val truth = ids.groupBy(identity).view.mapValues(_.size.toLong)
      truth.foreach { case (fp, n) =>
        val est = ha.indices.map(j =>
          g((j, (fp * ha(j) + hb(j)) % 1000003L % w))).min
        assert(est >= n, s"CMS underestimated fp=$fp: $est < $n")
      }
    }
  }

  test("labelPropagation: hop-per-round reach, clamped seeds, min-label ties") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING)
    def lp(es: Seq[(Long, Long)], sd: Seq[(Long, String)], iters: Int) =
      graft.engine.LabelPropagation.run(es.toDF("a", "b"),
          spark.createDataset(sd).toDF("node", "label"), iters)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // path 0-1-2-3, seed at 0: labels reach one hop per round
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    assert(lp(path, Seq(0L -> "a"), 1) ==
      Map(0L -> Some("a"), 1L -> Some("a"), 2L -> None, 3L -> None))
    assert(lp(path, Seq(0L -> "a"), 2) ==
      Map(0L -> Some("a"), 1L -> Some("a"), 2L -> Some("a"), 3L -> None))
    // equal votes break to the smallest label; seeds never change
    val vee = Seq((0L, 2L), (1L, 2L), (0L, 1L))
    assert(lp(vee, Seq(0L -> "b", 1L -> "a"), 1) ==
      Map(0L -> Some("b"), 1L -> Some("a"), 2L -> Some("a")))
    // majority wins over the tie-break order
    val star = Seq((0L, 9L), (1L, 9L), (2L, 9L))
    assert(lp(star, Seq(0L -> "z", 1L -> "z", 2L -> "a"), 1)(9L) == Some("z"))
  }

  test("triangles: known graphs and a brute-force random cross-check") {
    import spark.implicits._
    def got(es: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
      graft.engine.Triangles.perNode(es.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // K4: every node degree 3, in 3 triangles (4 triangles total)
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    assert(got(k4) == Map(0L -> (3L, 3L), 1L -> (3L, 3L), 2L -> (3L, 3L), 3L -> (3L, 3L)))
    // path graph: no triangles; duplicate/reversed/self edges are noise
    assert(got(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (1L, 1L), (0L, 1L))) ==
      Map(0L -> (1L, 0L), 1L -> (2L, 0L), 2L -> (2L, 0L), 3L -> (1L, 0L)))
    // two triangles sharing edge (1,2): shared endpoints count both
    assert(got(Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))) ==
      Map(0L -> (2L, 1L), 1L -> (3L, 2L), 2L -> (3L, 2L), 3L -> (2L, 1L)))
    // random graphs vs brute-force triple enumeration
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))) {
      (es: List[(Long, Long)]) =>
        val canon = es.filter(e => e._1 != e._2)
          .map(e => (e._1 min e._2, e._1 max e._2)).toSet
        val nodes = canon.flatMap(e => Seq(e._1, e._2)).toList.sorted
        def adj(x: Long, y: Long) = canon((x min y, x max y))
        val expect = nodes.map { v =>
          val tri = (for {
            x <- nodes; y <- nodes
            if x < y && adj(v, x) && adj(v, y) && adj(x, y)
          } yield 1).size.toLong
          v -> (nodes.count(u => u != v && adj(v, u)).toLong, tri)
        }.toMap
        if (canon.nonEmpty) assert(got(canon.toSeq) == expect)
    }
  }

  test("triangles: broadcast and sort-merge closure joins are row-identical") {
    import spark.implicits._
    // the closure join's strategy is size-gated (BCAST_CLOSURE_EDGES);
    // both sides of the gate must produce the same per-node rows —
    // force each by moving the gate to 0 / +inf on the same graph
    val es = (for (i <- 0L to 5L; j <- i + 1 to 5L if (i + j) % 3 != 0)
      yield (i, j)) ++ Seq((0L, 1L), (2L, 3L), (6L, 7L))
    def rows(gate: Long) =
      graft.engine.Triangles.perNode(es.toDF("a", "b"), gate)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(0L) == rows(Long.MaxValue))
    assert(rows(Long.MaxValue).nonEmpty)
  }

  test("temperature mix upsamples small sources (share ∝ size^0.5)") {
    // Two exact consequences of tgt_s = (tt · isqrt(size_s)) div (2Σw):
    //  (1) targets are weakly INCREASING in source size (isqrt is
    //      monotone; same denominator, same floor);
    //  (2) small sources get a LARGER fraction of themselves than
    //      sources ≥ 4× their size — the upsampling that defines
    //      temperature sampling. Pairwise proportionality can invert
    //      at isqrt step boundaries (size 99 → w 9 vs size 100 → w 10),
    //      so the 4× separation + one-floor-unit slack makes the bound
    //      exact, not statistical. Cross-multiplied integers, no
    //      float division.
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_mix_temperature")(spark, d)
      .select("source", "target_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val srcTok = graft.Tables.documents(spark, d)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.size(
          graft.text.TextOps.tokens(
            org.apache.spark.sql.functions.col("text"))).cast("long").as("n"))
      .groupBy("source").agg(
        org.apache.spark.sql.functions.sum("n").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty && rows.keySet == srcTok.keySet)
    for (a <- rows.keys; b <- rows.keys if srcTok(a) <= srcTok(b)) {
      assert(rows(a) <= rows(b),
        s"targets must be monotone in size: $a(${srcTok(a)})→${rows(a)} " +
          s"vs $b(${srcTok(b)})→${rows(b)}")
    }
    val quads = for {
      a <- rows.keys; b <- rows.keys
      if srcTok(a) >= 4L && srcTok(b) >= 4L * srcTok(a)
    } yield (a, b)
    quads.foreach { case (a, b) =>
      // tgt_a/size_a ≥ tgt_b/size_b, with slack for tgt's single floor
      assert(rows(a) * srcTok(b) + srcTok(a) >= rows(b) * srcTok(a),
        s"small source $a (${srcTok(a)} tok, tgt ${rows(a)}) sampled " +
          s"thinner than $b (${srcTok(b)} tok, tgt ${rows(b)})")
    }
  }

  test("TopKByScoreAgg ≡ the row_number window encoding (property)") {
    import spark.implicits._
    // the aggregate replaced row_number() OVER (PARTITION BY a ORDER BY
    // s DESC, b) + rank <= n in the PQ serving plans; this pins
    // row-identity on adversarial score sets — duplicate scores (tie →
    // b asc), ±0.0 (window normalizes -0.0; the aggregate canonicalizes),
    // NaN (sorts LARGEST in Spark), groups smaller than n, and n = 1.
    val seed = Seed(20260816L)
    val scores = Array(1.0, -1.0, 0.0, -0.0, 2.5, 2.5, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, 1.0)
    val gen = Gen.listOfN(400, for {
      a <- Gen.choose(0L, 19L)
      b <- Gen.choose(0L, 999L)
      s <- Gen.oneOf(scores.toSeq)
    } yield (a, b, s))
    val rows0 = gen.pureApply(Gen.Parameters.default, seed)
    // (a, b) unique — the contract of the pair frames the PQ plan feeds
    val rows = rows0.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = rows.toDF("a", "b", "pqcos")
    for (n <- Seq(1, 3, 48)) {
      val win = df.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("a"))
            .orderBy(col("pqcos").desc, col("b"))).cast("long"))
        .filter(col("rank") <= n).select("a", "rank", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val agg = df.groupBy("a")
        .agg(graft.functions.Aggregators.topKByScore(
          col("pqcos"), col("b"), n).as("t"))
        .select(col("a"), posexplode(col("t")).as(Seq("p", "b")))
        .select(col("a"), (col("p") + 1).cast("long").as("rank"), col("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(agg == win, s"top-$n mismatch: " +
        s"agg-only ${agg -- win}, win-only ${win -- agg}")
    }
  }
}
