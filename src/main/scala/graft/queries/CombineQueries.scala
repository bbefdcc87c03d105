package graft.queries

import graft.engine.EventStream
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver-contract queries for SURVEY.md §2.6 combination, §2.7 timing,
 * §2.3 higher-order (emap family), §2.8 error ops and §2.1 creation ops.
 *
 * Sub-streams are carved from the `events` fixture per user: source 0 =
 * clicks, source 1 = purchases — two genuinely interleaved event-time
 * streams per key.
 */
object CombineQueries {
  import EventQueries.{EV, QFn, ev}

  /** click / purchase sub-streams, minimal payload. */
  private def sub(s: SparkSession, d: String, typ: String): EventStream = {
    val base = ev(s, d)
    base.derive(base.df.filter(col("event_type") === lit(typ))
      .select("seq", "ts", "user_id", "cents"))
  }

  /** Oracle-side tagged union of the two sub-streams. */
  private val U =
    s"$EV, u AS (SELECT seq, ts, user_id, cents, 0 AS src FROM ev WHERE event_type='click' " +
      "UNION ALL SELECT seq, ts, user_id, cents, 1 AS src FROM ev WHERE event_type='purchase')"

  private val WT = "PARTITION BY user_id ORDER BY ts, src, seq"

  private case class Q(name: String, fn: QFn, sql: String)

  private def qs: Seq[Q] = Seq(
    // ---------------- §2.6 combination ----------------
    Q("q_merge",
      (s, d) => EventStream
        .merge(Seq(sub(s, d, "click"), sub(s, d, "purchase")), "src", "out_seq")
        .df.select("seq", "user_id", "cents", "src", "out_seq").orderBy("seq"),
      s"$U SELECT seq, user_id, cents, src, " +
        s"row_number() OVER ($WT) AS out_seq FROM u ORDER BY seq"),

    Q("q_chain",
      (s, d) => EventStream
        .chain(Seq(sub(s, d, "click"), sub(s, d, "purchase")), "src", "out_seq")
        .df.select("seq", "user_id", "cents", "src", "out_seq").orderBy("seq"),
      s"$U SELECT seq, user_id, cents, src, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY src, seq) AS out_seq " +
        "FROM u ORDER BY seq"),

    Q("q_concat",
      // Source 0 is disconnected at source 1's first emission
      // (reference Concat kills earlier sources on later-source emit).
      (s, d) => EventStream
        .concat(Seq(sub(s, d, "click"), sub(s, d, "purchase")), "src", "out_seq")
        .df.select("seq", "user_id", "cents", "src", "out_seq").orderBy("seq"),
      s"$U, firsts AS (SELECT user_id, min(CASE WHEN src=1 THEN ts END) AS f1 " +
        "FROM u GROUP BY user_id) " +
        s"SELECT seq, user_id, cents, src, row_number() OVER ($WT) AS out_seq " +
        "FROM u JOIN firsts USING (user_id) " +
        "WHERE src = 1 OR f1 IS NULL OR ts <= f1 ORDER BY seq"),

    Q("q_switch",
      // 2-source switch: the first-emitting source passes rows until the
      // other source first emits, which steals activity permanently.
      (s, d) => EventStream
        .switch(Seq(sub(s, d, "click"), sub(s, d, "purchase")), "src", "out_seq")
        .df.select("seq", "user_id", "cents", "src", "out_seq").orderBy("seq"),
      s"$U, firsts AS (SELECT user_id, " +
        "min(CASE WHEN src=0 THEN ts END) AS f0, min(CASE WHEN src=1 THEN ts END) AS f1 " +
        "FROM u GROUP BY user_id), " +
        "passed AS (SELECT u.* FROM u JOIN firsts USING (user_id) WHERE " +
        "CASE WHEN f0 IS NULL OR f1 IS NULL THEN TRUE " +
        "WHEN f0 <= f1 THEN (src = 1 OR ts <= f1) ELSE (src = 0 OR ts <= f0) END) " +
        s"SELECT seq, user_id, cents, src, row_number() OVER ($WT) AS out_seq " +
        "FROM passed ORDER BY seq"),

    Q("q_zip",
      (s, d) => EventStream.zip(sub(s, d, "click"), sub(s, d, "purchase"), "i")
        .df.select(col("user_id"), col("i"), col("cents").as("c_cents"),
          col("cents_r").as("p_cents"))
        .orderBy("user_id", "i"),
      s"$EV SELECT a.user_id, a.i, a.cents AS c_cents, b.cents AS p_cents FROM " +
        "(SELECT user_id, cents, row_number() OVER (PARTITION BY user_id ORDER BY seq) AS i " +
        "FROM ev WHERE event_type='click') a JOIN " +
        "(SELECT user_id, cents, row_number() OVER (PARTITION BY user_id ORDER BY seq) AS i " +
        "FROM ev WHERE event_type='purchase') b USING (user_id, i) " +
        "ORDER BY user_id, i"),

    Q("q_ziplatest",
      // On every click/purchase, the latest known value of both.
      (s, d) => EventStream.ziplatest(
          Seq(sub(s, d, "click"), sub(s, d, "purchase")),
          valueCol = "cents", outCols = Seq("c_latest", "p_latest"),
          partial = true, srcAs = "src")
        .df.select("seq", "user_id", "src", "c_latest", "p_latest").orderBy("seq"),
      s"$U SELECT seq, user_id, src, " +
        s"last_value(CASE WHEN src=0 THEN cents END IGNORE NULLS) OVER ($WT ROWS UNBOUNDED PRECEDING) AS c_latest, " +
        s"last_value(CASE WHEN src=1 THEN cents END IGNORE NULLS) OVER ($WT ROWS UNBOUNDED PRECEDING) AS p_latest " +
        "FROM u ORDER BY seq"),

    Q("q_ziplatest_strict",
      // partial=false: suppressed until every source has emitted.
      (s, d) => EventStream.ziplatest(
          Seq(sub(s, d, "click"), sub(s, d, "purchase")),
          valueCol = "cents", outCols = Seq("c_latest", "p_latest"),
          partial = false, srcAs = "src")
        .df.select("seq", "user_id", "src", "c_latest", "p_latest").orderBy("seq"),
      s"$U SELECT * FROM (SELECT seq, user_id, src, " +
        s"last_value(CASE WHEN src=0 THEN cents END IGNORE NULLS) OVER ($WT ROWS UNBOUNDED PRECEDING) AS c_latest, " +
        s"last_value(CASE WHEN src=1 THEN cents END IGNORE NULLS) OVER ($WT ROWS UNBOUNDED PRECEDING) AS p_latest " +
        "FROM u) WHERE c_latest IS NOT NULL AND p_latest IS NOT NULL ORDER BY seq"),

    // ---------------- §2.7 timing ----------------
    Q("q_delay",
      (s, d) => ev(s, d).delay("90 SECONDS")
        .df.select(col("seq"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("seq"),
      s"$EV SELECT seq, user_id, epoch_us(ts + INTERVAL 90 SECOND) AS ts_us " +
        "FROM ev ORDER BY seq"),

    Q("q_debounce",
      // Last event of each burst (gap >= 30 min), re-stamped at +gap.
      (s, d) => ev(s, d).debounce(1800.0, onFirst = false)
        .df.select(col("seq"), col("user_id"), col("cents"),
          unix_micros(col("ts")).as("emit_us"))
        .orderBy("seq"),
      s"$EV SELECT seq, user_id, cents, epoch_us(ts) + 1800000000 AS emit_us FROM " +
        "(SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, seq) AS nxt FROM ev) " +
        "WHERE nxt IS NULL OR epoch_us(nxt) - epoch_us(ts) >= 1800000000 ORDER BY seq"),

    Q("q_debounce_first",
      (s, d) => ev(s, d).debounce(1800.0, onFirst = true)
        .df.select("seq", "user_id", "cents").orderBy("seq"),
      s"$EV SELECT seq, user_id, cents FROM " +
        "(SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, seq) AS prv FROM ev) " +
        "WHERE prv IS NULL OR epoch_us(ts) - epoch_us(prv) >= 1800000000 ORDER BY seq"),

    Q("q_timeout",
      // Pass rows until the first silent gap > 6 h per user.
      (s, d) => ev(s, d).timeout(21600.0)
        .df.select("seq", "user_id", "cents").orderBy("seq"),
      s"$EV SELECT seq, user_id, cents FROM (SELECT *, CASE WHEN " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, seq)) " +
        "> 21600000000 THEN 1 ELSE 0 END AS brk FROM ev) " +
        "QUALIFY sum(brk) OVER (PARTITION BY user_id ORDER BY ts, seq " +
        "ROWS UNBOUNDED PRECEDING) = 0 ORDER BY seq"),

    Q("q_throttle",
      // Rate-limit to 1 emit per hour: admitted-time rewrite.
      (s, d) => ev(s, d).throttle(1, 3600.0)
        .df.select(col("seq"), col("user_id"), unix_micros(col("ts")).as("admit_us"))
        .orderBy("seq"),
      s"$EV SELECT seq, user_id, list_reduce(" +
        "list(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, seq ROWS UNBOUNDED PRECEDING), " +
        "(a, x) -> greatest(x, a + 3600000000)) AS admit_us FROM ev ORDER BY seq"),

    Q("q_throttle_status",
      // Throttle status side-channel (`Throttle.status_event`): true at
      // each episode where the limiter starts queueing, false when the
      // queue drains. Episodes = merged [arrival, admit) intervals of
      // delayed rows.
      (s, d) => ev(s, d).throttleStatus(1, 3600.0)
        .df.select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("active"))
        .orderBy("user_id", "ts_us"),
      s"$EV, adm AS (SELECT seq, user_id, epoch_us(ts) AS t, list_reduce(" +
        "list(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, seq ROWS UNBOUNDED PRECEDING), " +
        "(a, x) -> greatest(x, a + 3600000000)) AS a FROM ev), " +
        "del AS (SELECT * FROM adm WHERE a > t), " +
        "ep AS (SELECT *, CASE WHEN t > coalesce(max(a) OVER " +
        "(PARTITION BY user_id ORDER BY t, seq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), " +
        "-9223372036854775807) THEN 1 ELSE 0 END AS brk FROM del), " +
        "g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, seq " +
        "ROWS UNBOUNDED PRECEDING) AS epi FROM ep), " +
        "e AS (SELECT user_id, epi, min(t) AS on_us, max(a) AS off_us FROM g GROUP BY 1, 2) " +
        "SELECT user_id, on_us AS ts_us, true AS active FROM e " +
        "UNION ALL SELECT user_id, off_us AS ts_us, false AS active FROM e " +
        "ORDER BY user_id, ts_us"),

    Q("q_throttle_relimit",
      // Dynamic re-limit (`Throttle.set_limit`): 1/hour until the
      // timeline midpoint, then 2 per 30 min. The oracle folds the same
      // closed-form admit rule over [t, maximum, interval] triples,
      // carrying the pruned admit list in the accumulator's tail.
      (s, d) => {
        val base = ev(s, d)
        val lims = base.df.agg(
          ((unix_micros(min(col("ts"))) + unix_micros(max(col("ts")))) / 2)
            .cast("long").as("mid"))
          .select(timestamp_micros(col("mid")).as("ts"),
            lit(2).as("maximum"), lit(1800.0).as("interval_sec"))
        base.throttleDynamic(lims, defaultMax = 1, defaultIntervalSec = 3600.0)
          .df.select(col("seq"), col("user_id"), unix_micros(col("ts")).as("admit_us"))
          .orderBy("seq")
      }, {
        // acc = [t, m, iv] of the last row ++ pruned admit times; the
        // fold's init is the first row's triple (its admit = its t).
        val prev = "(CASE WHEN len(acc) = 3 THEN [acc[1]] ELSE list_slice(acc, 4, len(acc)) END)"
        val kept = s"list_filter($prev, a -> a + x[3] > x[1])"
        val raw = s"(CASE WHEN len($kept) >= x[2] THEN " +
          s"list_extract($kept, len($kept) - x[2] + 1) + x[3] ELSE x[1] END)"
        val adm = s"greatest(x[1], $raw, coalesce(list_extract($kept, len($kept)), x[1]))"
        val lam = s"(acc, x) -> list_concat([x[1], x[2], x[3]], list_concat($kept, [$adm]))"
        s"$EV, mm AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid FROM ev), " +
          "tagged AS (SELECT seq, user_id, epoch_us(ts) AS t, " +
          "CASE WHEN epoch_us(ts) >= mid THEN 2 ELSE 1 END AS m, " +
          "CASE WHEN epoch_us(ts) >= mid THEN 1800000000 ELSE 3600000000 END AS iv " +
          "FROM ev CROSS JOIN mm), " +
          "st AS (SELECT seq, user_id, t, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY t, seq) AS rn, " +
          "list_reduce(list([t, m, iv]) OVER (PARTITION BY user_id ORDER BY t, seq " +
          s"ROWS UNBOUNDED PRECEDING), $lam) AS f FROM tagged) " +
          "SELECT seq, user_id, CASE WHEN rn = 1 THEN t ELSE f[len(f)] END AS admit_us " +
          "FROM st ORDER BY seq"
      }),

    Q("q_sample",
      // At each daily tick (grid derived from the data), the latest event
      // value per user at-or-before the tick. A span shorter than the first
      // tick has no grid (`sequence` would run backwards and throw; the
      // oracle's generate_series is empty there).
      (s, d) => {
        val base = ev(s, d)
        val mm = base.df.agg(
          date_trunc("day", min(col("ts"))).as("t0"), max(col("ts")).as("t1"))
        val ticks = base.df.select(col("user_id")).distinct()
          .crossJoin(broadcast(mm))
          .select(col("user_id"),
            explode(expr("CASE WHEN t0 + INTERVAL 1 DAY <= t1 THEN " +
              "sequence(t0 + INTERVAL 1 DAY, t1, INTERVAL 1 DAY) END")).as("ts"))
          .withColumn("seq", lit(Long.MaxValue))
        val timer = EventStream(ticks, keys = Seq("user_id"))
        base.sample(timer, Seq("cents"))
          .df.select(col("user_id"), unix_micros(col("ts")).as("tick_us"), col("cents"))
          .orderBy("user_id", "tick_us")
      },
      s"$EV, mm AS (SELECT date_trunc('day', min(ts)) AS t0, max(ts) AS t1 FROM ev), " +
        "ticks AS (SELECT u.user_id, g.tick FROM (SELECT DISTINCT user_id FROM ev) u " +
        "CROSS JOIN (SELECT unnest(generate_series(t0 + INTERVAL 1 DAY, t1, INTERVAL 1 DAY)) AS tick FROM mm) g) " +
        "SELECT t.user_id, epoch_us(t.tick) AS tick_us, e.cents " +
        "FROM ticks t ASOF JOIN ev e ON t.user_id = e.user_id AND t.tick >= e.ts " +
        "ORDER BY t.user_id, tick_us"),

    // ---------------- §2.3 higher-order ----------------
    Q("q_mergemap",
      (s, d) => {
        val st = ev(s, d)
        val children = expr(
          "transform(sequence(0, 2), j -> named_struct(" +
            "'j', j, 'cts', ts + j * INTERVAL 7 MINUTE, 'cval', cents + j))")
        st.emapMerge(children, "cts")
          .df.select(col("seq"), col("user_id"), col("__child.j").cast("long").as("j"),
            col("__child.cval").as("cval"), col("__outseq").as("out_seq"))
          .orderBy("seq", "j")
      },
      s"$EV, ch AS (SELECT seq, user_id, ts + j.j * INTERVAL 7 MINUTE AS cts, j.j AS j, " +
        "cents + j.j AS cval FROM ev CROSS JOIN (SELECT unnest(range(3)) AS j) j) " +
        "SELECT seq, user_id, j, cval, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY cts, seq) AS out_seq FROM ch ORDER BY seq, j"),

    Q("q_chainmap",
      (s, d) => {
        val st = ev(s, d)
        val children = expr(
          "transform(sequence(0, 2), j -> named_struct(" +
            "'j', j, 'cts', ts + j * INTERVAL 7 MINUTE, 'cval', cents + j))")
        st.emapChain(children, "j")
          .df.select(col("seq"), col("user_id"), col("__child.j").cast("long").as("j"),
            col("__child.cval").as("cval"), col("__outseq").as("out_seq"))
          .orderBy("seq", "j")
      },
      s"$EV, ch AS (SELECT seq, user_id, j.j AS j, cents + j.j AS cval " +
        "FROM ev CROSS JOIN (SELECT unnest(range(3)) AS j) j) " +
        "SELECT seq, user_id, j, cval, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY seq, j) AS out_seq FROM ch ORDER BY seq, j"),

    Q("q_concatmap",
      // Children of odd parents start 7 min late (parity offset), so the
      // kill boundary (min first-emission of later children) genuinely
      // differs from the switchmap truncation below.
      (s, d) => {
        val st = ev(s, d)
        val children = expr(
          "transform(sequence(0, 2), j -> named_struct(" +
            "'j', j, 'cts', ts + (j + seq % 2) * INTERVAL 7 MINUTE, 'cval', cents + j))")
        st.emapConcat(children, "cts")
          .df.select(col("seq"), col("user_id"), col("__child.j").cast("long").as("j"),
            col("__child.cval").as("cval"), col("__outseq").as("out_seq"))
          .orderBy("seq", "j")
      },
      s"$EV, par AS (SELECT *, min(ts + (seq % 2) * INTERVAL 7 MINUTE) OVER " +
        "(PARTITION BY user_id ORDER BY seq ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS kill FROM ev), " +
        "ch AS (SELECT seq, user_id, ts + (j.j + seq % 2) * INTERVAL 7 MINUTE AS cts, j.j AS j, " +
        "cents + j.j AS cval, kill FROM par CROSS JOIN (SELECT unnest(range(3)) AS j) j) " +
        "SELECT seq, user_id, j, cval, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY cts, seq) AS out_seq FROM ch " +
        "WHERE kill IS NULL OR cts <= kill ORDER BY seq, j"),

    Q("q_switchmap",
      // The next parent event preempts: children truncate at lead(ts).
      (s, d) => {
        val st = ev(s, d)
        val children = expr(
          "transform(sequence(0, 2), j -> named_struct(" +
            "'j', j, 'cts', ts + j * INTERVAL 7 MINUTE, 'cval', cents + j))")
        st.emapSwitch(children, "cts")
          .df.select(col("seq"), col("user_id"), col("__child.j").cast("long").as("j"),
            col("__child.cval").as("cval"), col("__outseq").as("out_seq"))
          .orderBy("seq", "j")
      },
      s"$EV, par AS (SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY seq) AS nxt FROM ev), " +
        "ch AS (SELECT seq, user_id, ts + j.j * INTERVAL 7 MINUTE AS cts, j.j AS j, " +
        "cents + j.j AS cval, nxt FROM par CROSS JOIN (SELECT unnest(range(3)) AS j) j) " +
        "SELECT seq, user_id, j, cval, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY cts, seq) AS out_seq FROM ch " +
        "WHERE nxt IS NULL OR cts <= nxt ORDER BY seq, j"),

    // ---------------- §2.8 error ops ----------------
    Q("q_errors",
      // Dead-letter encoding: the error side-channel as a stream.
      (s, d) => ev(s, d).where(col("event_type") === "error")
        .df.select("seq", "user_id", "cents").orderBy("seq"),
      s"$EV SELECT seq, user_id, cents FROM ev WHERE event_type='error' ORDER BY seq"),

    Q("q_endonerror",
      (s, d) => ev(s, d).takeWhile(col("event_type") =!= "error")
        .df.select("seq", "user_id", "cents").orderBy("seq"),
      s"$EV SELECT seq, user_id, cents FROM ev QUALIFY " +
        "count(CASE WHEN event_type='error' THEN 1 END) OVER " +
        "(PARTITION BY user_id ORDER BY seq ROWS UNBOUNDED PRECEDING) = 0 ORDER BY seq"),

    // ---------------- §2.1 creation ----------------
    Q("q_range",
      (s, _) => Sources.range(s, 0, 5000, 3).orderBy("id"),
      "SELECT range AS id FROM range(0, 5000, 3) ORDER BY id"),

    Q("q_sequence",
      // Sequence (`ops/create.py:60-76`): THE workhorse source — explicit
      // values paced by an interval from the epoch.
      (s, _) => Sources.fromLongs(s, (0 until 1000).map(i => i * 7L), 0.25)
        .select(col("seq"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("seq"),
      "SELECT range AS seq, 1704067200000000 + range * 250000 AS ts_us, " +
        "range * 7 AS value FROM range(1000) ORDER BY seq"),

    Q("q_aiterate",
      // Aiterate (`ops/create.py:38-57`): an (async) iterator drained into
      // a stream — in batch, identical to Sequence over the drained values.
      (s, _) => Sources.fromSeq(s, (0 until 500).map(i => s"v$i"), 1.0)(
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
        .select(col("seq"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("seq"),
      "SELECT range AS seq, 1704067200000000 + range * 1000000 AS ts_us, " +
        "'v' || CAST(range AS VARCHAR) AS value FROM range(500) ORDER BY seq"),

    Q("q_timer",
      // Timer (`ops/create.py:100-112`): first tick after `interval`
      // (i starts at 1), value i*interval. 0.5 is exactly representable,
      // so i*0.5 is exact in both engines.
      (s, _) => Sources.timer(s, 0.5, 1000)
        .select(col("seq"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("seq"),
      "SELECT range AS seq, 1704067200000000 + (range + 1) * 500000 AS ts_us, " +
        "CAST(range + 1 AS DOUBLE) * 0.5e0 AS value FROM range(1000) ORDER BY seq"),

    Q("q_wait",
      // Wait (`ops/create.py:10-35`): one awaited result, then done.
      (s, _) => Sources.waitValue(s, lit(42L))
        .select(col("seq"), unix_micros(col("ts")).as("ts_us"), col("value")),
      "SELECT 0 AS seq, 1704067200000000 AS ts_us, 42 AS value"),

    Q("q_timerange",
      (s, _) => Sources.timerange(s, "2024-01-01 00:00:00", "2024-03-01 00:00:00", "6 HOUR")
        .select(unix_micros(col("ts")).as("ts_us")).orderBy("ts_us"),
      "SELECT epoch_us(unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00', " +
        "TIMESTAMP '2024-03-01 00:00:00', INTERVAL 6 HOUR))) AS ts_us ORDER BY ts_us"),

    Q("q_repeat",
      (s, _) => Sources.repeat(s, "x", 1000, 0.5)
        .select(col("seq"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("seq"),
      "SELECT range AS seq, 1704067200000000 + range * 500000 AS ts_us, 'x' AS value " +
        "FROM range(1000) ORDER BY seq"),

    Q("q_marble",
      (s, _) => Sources.marble(s, "a-b--cd---e-f--|-g")
        .select(col("seq"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("seq"),
      "WITH m AS (SELECT 'a-b--cd---e-f--|-g' AS s), " +
        "chars AS (SELECT unnest(string_split(s, '')) AS c, " +
        "generate_subscripts(string_split(s, ''), 1) AS i, strpos(s, '|') AS stop FROM m) " +
        "SELECT row_number() OVER (ORDER BY i) - 1 AS seq, " +
        "1704067200000000 + (i - 1) * 1000000 AS ts_us, c AS value " +
        "FROM chars WHERE c NOT IN ('-', ' ') AND (stop = 0 OR i < stop) ORDER BY seq")
  )

  lazy val queries: Map[String, QFn] = qs.map(q => q.name -> q.fn).toMap
  lazy val oracle: Map[String, String] = qs.map(q => q.name -> q.sql).toMap
}
