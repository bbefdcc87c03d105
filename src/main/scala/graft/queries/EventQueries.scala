package graft.queries

import graft.Tables
import graft.engine.EventStream
import graft.functions.Aggregators
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver-contract queries for the eventkit operator inventory
 * (SURVEY.md §2.2–§2.5), each encoded over the `events` fixture as a
 * keyed stream (user_id) so every windowed op parallelizes per key —
 * the plan that still works when `events` is 100 TB.
 *
 * Numeric discipline: aggregations run over `cents` (value in integer
 * cents) so results are exact integers — bit-identical to the DuckDB
 * oracle regardless of summation order or windowing algorithm. Doubles
 * appear only where both engines provably execute the identical IEEE
 * op sequence (one division; the sequential EMA fold).
 */
object EventQueries {
  type QFn = (SparkSession, String) => DataFrame

  /** events fixture as a keyed EventStream. */
  def ev(spark: SparkSession, dir: String): EventStream =
    EventStream(Tables.events(spark, dir), keys = Seq("user_id"))

  /** Shared oracle prelude: same normalization as [[Tables.events]]. */
  val EV: String =
    "WITH ev AS (SELECT event_id AS seq, ts, user_id, event_type, value, " +
      "CAST(round(value*100,0) AS BIGINT) AS cents, props FROM events)"

  private val WRUN =
    "OVER (PARTITION BY user_id ORDER BY seq ROWS UNBOUNDED PRECEDING)"
  private val W10 =
    "OVER (PARTITION BY user_id ORDER BY seq ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)"

  private case class Q(name: String, fn: QFn, sql: String)

  private def qs: Seq[Q] = Seq(
    // ---------------- §2.2 selection ----------------
    Q("q_filter",
      (s, d) => ev(s, d)
        .where(col("event_type") === "purchase" && col("value") > 100)
        .df.select("seq", "user_id", "cents"),
      s"$EV SELECT seq, user_id, cents FROM ev " +
        "WHERE event_type='purchase' AND value>100 ORDER BY seq"),

    Q("q_skip",
      (s, d) => ev(s, d).skip(3).df.select("seq", "user_id"),
      s"$EV SELECT seq, user_id FROM ev QUALIFY " +
        "row_number() OVER (PARTITION BY user_id ORDER BY seq) > 3 ORDER BY seq"),

    Q("q_take",
      (s, d) => ev(s, d).take(5).df.select("seq", "user_id"),
      s"$EV SELECT seq, user_id FROM ev QUALIFY " +
        "row_number() OVER (PARTITION BY user_id ORDER BY seq) <= 5 ORDER BY seq"),

    Q("q_takewhile",
      (s, d) => ev(s, d).takeWhile(col("value") < 150)
        .df.select("seq", "user_id", "cents"),
      s"$EV SELECT seq, user_id, cents FROM ev QUALIFY " +
        s"count(CASE WHEN value>=150 THEN 1 END) $WRUN = 0 ORDER BY seq"),

    Q("q_dropwhile",
      (s, d) => ev(s, d).dropWhile(col("value") < 150)
        .df.select("seq", "user_id", "cents"),
      s"$EV SELECT seq, user_id, cents FROM ev QUALIFY " +
        s"count(CASE WHEN value>=150 THEN 1 END) $WRUN > 0 ORDER BY seq"),

    Q("q_changes",
      (s, d) => ev(s, d).changes(Seq("event_type"))
        .df.select("seq", "user_id", "event_type"),
      s"$EV SELECT seq, user_id, event_type FROM ev QUALIFY " +
        "event_type IS DISTINCT FROM lag(event_type) " +
        "OVER (PARTITION BY user_id ORDER BY seq) ORDER BY seq"),

    Q("q_unique",
      (s, d) => ev(s, d).unique(Seq("event_type"))
        .df.select("seq", "user_id", "event_type"),
      s"$EV SELECT seq, user_id, event_type FROM ev QUALIFY " +
        "row_number() OVER (PARTITION BY user_id, event_type ORDER BY seq) = 1 " +
        "ORDER BY seq"),

    Q("q_last",
      (s, d) => ev(s, d).last()
        .df.select("user_id", "seq", "cents", "event_type"),
      s"$EV SELECT user_id, seq, cents, event_type FROM ev QUALIFY " +
        "row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) = 1 " +
        "ORDER BY user_id"),

    Q("q_takeuntil",
      (s, d) => {
        val src = ev(s, d)
        val notifier = src.where(col("event_type") === "error")
        src.takeUntil(notifier)
          .df.select("seq", "user_id", "cents")
      },
      s"$EV SELECT e.seq, e.user_id, e.cents FROM ev e " +
        "LEFT JOIN (SELECT user_id, min(ts) AS cut FROM ev " +
        "WHERE event_type='error' GROUP BY user_id) n USING (user_id) " +
        "WHERE n.cut IS NULL OR e.ts < n.cut ORDER BY e.seq"),

    // ---------------- §2.3 transformation ----------------
    Q("q_map",
      (s, d) => ev(s, d).df
        .select(col("seq"), col("user_id"), (col("cents") * 2).as("cents2"),
          upper(col("event_type")).as("typ")),
      s"$EV SELECT seq, user_id, cents*2 AS cents2, upper(event_type) AS typ " +
        "FROM ev ORDER BY seq"),

    Q("q_constant",
      (s, d) => ev(s, d).df
        .select(col("seq"), col("user_id"), lit(42L).as("c")),
      s"$EV SELECT seq, user_id, CAST(42 AS BIGINT) AS c FROM ev ORDER BY seq"),

    Q("q_partial",
      (s, d) => ev(s, d).df
        .select(lit(7L).as("a"), lit("pre").as("b"), col("seq"), col("cents")),
      s"$EV SELECT CAST(7 AS BIGINT) AS a, 'pre' AS b, seq, cents FROM ev ORDER BY seq"),

    Q("q_enumerate",
      (s, d) => ev(s, d).enumerate("idx")
        .df.select("seq", "user_id", "idx"),
      s"$EV SELECT seq, user_id, row_number() " +
        "OVER (PARTITION BY user_id ORDER BY seq) - 1 AS idx FROM ev ORDER BY seq"),

    Q("q_sessionize",
      // Sessionization: a gap > 6 h opens a new per-user session —
      // lag + running sum over ONE keyed window (no self-join, no
      // gaps-and-islands subqueries). Gaps compare as integer micros so
      // both engines agree exactly.
      (s, d) => {
        val st = ev(s, d)
        val tsUs = unix_micros(col("ts"))
        val gap = tsUs - lag(tsUs, 1).over(st.w)
        st.df
          .withColumn("__gap", gap)
          .withColumn("__st",
            when(col("__gap").isNull || col("__gap") > 21600000000L, 1L).otherwise(0L))
          .withColumn("session", sum(col("__st")).over(st.wRun))
          .select("seq", "user_id", "session")
      },
      s"$EV SELECT seq, user_id, CAST(sum(CASE WHEN gap IS NULL OR " +
        "gap > 21600000000 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id " +
        "ORDER BY seq ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session " +
        "FROM (SELECT seq, user_id, epoch_us(ts) - lag(epoch_us(ts)) " +
        "OVER (PARTITION BY user_id ORDER BY seq) AS gap FROM ev) ORDER BY seq"),

    Q("q_timestamp",
      (s, d) => ev(s, d).df
        .select(col("seq"), col("user_id"), unix_micros(col("ts")).as("ts_us")),
      s"$EV SELECT seq, user_id, epoch_us(ts) AS ts_us FROM ev ORDER BY seq"),

    Q("q_pluck",
      (s, d) => ev(s, d).df
        .select(col("seq"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k")),
      s"$EV SELECT seq, user_id, CAST(json_extract(props,'$$.k') AS BIGINT) AS k " +
        "FROM ev ORDER BY seq"),

    Q("q_pack_star",
      // Pack N columns into one struct (`ops/transform.py:91`), then
      // Star-unpack back to columns (`ops/transform.py:84`).
      (s, d) => ev(s, d).df
        .select(col("seq"), col("user_id"),
          struct(col("cents"), col("event_type")).as("packed"))
        .select(col("seq"), col("user_id"), col("packed.cents"),
          col("packed.event_type")),
      s"$EV SELECT seq, user_id, cents, event_type FROM ev ORDER BY seq"),

    Q("q_previous",
      (s, d) => ev(s, d).previous("cents", "prev2", n = 2)
        .df.select("seq", "user_id", "prev2"),
      s"$EV SELECT seq, user_id, prev2 FROM (SELECT seq, user_id, " +
        "lag(cents,2) OVER (PARTITION BY user_id ORDER BY seq) AS prev2 FROM ev) " +
        "WHERE prev2 IS NOT NULL ORDER BY seq"),

    Q("q_pairwise",
      (s, d) => ev(s, d).pairwise("cents", "prev_cents")
        .df.select("seq", "user_id", "prev_cents", "cents"),
      s"$EV SELECT seq, user_id, prev_cents, cents FROM (SELECT seq, user_id, cents, " +
        "lag(cents) OVER (PARTITION BY user_id ORDER BY seq) AS prev_cents FROM ev) " +
        "WHERE prev_cents IS NOT NULL ORDER BY seq"),

    Q("q_chunk",
      // Array output serialized to CSV string: the driver comparator
      // (pandas sort_values) cannot sort ndarray cells.
      (s, d) => ev(s, d).chunk("cents", 4, "chunk_idx", "vals")
        .df.select(col("user_id"), col("chunk_idx"),
          array_join(col("vals").cast("array<string>"), ",").as("vals"), col("n")),
      s"$EV SELECT user_id, chunk_idx, array_to_string(list(cents ORDER BY seq), ',') AS vals, " +
        "count(*) AS n FROM (SELECT user_id, cents, seq, " +
        "CAST(floor((row_number() OVER (PARTITION BY user_id ORDER BY seq) - 1) / 4) AS BIGINT) " +
        "AS chunk_idx FROM ev) GROUP BY user_id, chunk_idx ORDER BY user_id, chunk_idx"),

    // ---------------- §2.4 running aggregates ----------------
    Q("q_rcount",
      (s, d) => ev(s, d).rcount("rcount")
        .df.select("seq", "user_id", "rcount"),
      s"$EV SELECT seq, user_id, row_number() " +
        "OVER (PARTITION BY user_id ORDER BY seq) - 1 AS rcount FROM ev ORDER BY seq"),

    Q("q_rsum",
      (s, d) => ev(s, d).rsum(col("cents"), "rsum")
        .df.select("seq", "user_id", "rsum"),
      // CAST: DuckDB SUM(BIGINT) yields HUGEINT (pandas float64) which
      // hash-mismatches Spark's int64 under the driver comparator.
      s"$EV SELECT seq, user_id, CAST(sum(cents) $WRUN AS BIGINT) AS rsum FROM ev ORDER BY seq"),

    Q("q_rmin",
      (s, d) => ev(s, d).rmin(col("value"), "rmin")
        .df.select("seq", "user_id", "rmin"),
      s"$EV SELECT seq, user_id, min(value) $WRUN AS rmin FROM ev ORDER BY seq"),

    Q("q_rmax",
      (s, d) => ev(s, d).rmax(col("value"), "rmax")
        .df.select("seq", "user_id", "rmax"),
      s"$EV SELECT seq, user_id, max(value) $WRUN AS rmax FROM ev ORDER BY seq"),

    Q("q_rmean",
      (s, d) => ev(s, d).rmeanExact(col("cents"), "rmean")
        .df.select("seq", "user_id", "rmean"),
      s"$EV SELECT seq, user_id, " +
        s"CAST(sum(cents) $WRUN AS DOUBLE) / (count(*) $WRUN) AS rmean " +
        "FROM ev ORDER BY seq"),

    Q("q_rany",
      (s, d) => ev(s, d).rany(col("value") > 180, "rany")
        .df.select("seq", "user_id", "rany"),
      s"$EV SELECT seq, user_id, " +
        s"max(CASE WHEN value>180 THEN 1 ELSE 0 END) $WRUN = 1 AS rany " +
        "FROM ev ORDER BY seq"),

    Q("q_rall",
      (s, d) => ev(s, d).rall(col("value") > 1, "rall")
        .df.select("seq", "user_id", "rall"),
      s"$EV SELECT seq, user_id, " +
        s"min(CASE WHEN value>1 THEN 1 ELSE 0 END) $WRUN = 1 AS rall " +
        "FROM ev ORDER BY seq"),

    Q("q_rproduct",
      // Running product over ±1 factors: exact at any length, still
      // exercises the order-sensitive product scan.
      (s, d) => {
        val st = ev(s, d)
        val sign = when(col("cents") % 2 === 0, 1.0).otherwise(-1.0)
        st.derive(st.df.withColumn("rprod",
            Aggregators.runningProduct(sign).over(st.wRun)))
          .df.select("seq", "user_id", "rprod")
      },
      s"$EV SELECT seq, user_id, CAST(product(" +
        s"CASE WHEN cents%2=0 THEN 1.0 ELSE -1.0 END) $WRUN AS DOUBLE) AS rprod " +
        "FROM ev ORDER BY seq"),

    Q("q_ema",
      // Flagship custom scan: weight 2/(n+1) with n=7 → exactly-representable
      // 0.25/0.75, so the fold is bit-identical across engines.
      (s, d) => {
        val st = ev(s, d)
        st.derive(st.df.withColumn("ema",
            Aggregators.ema(col("value"), 0.25).over(st.wRun)))
          .df.select("seq", "user_id", "ema")
      },
      s"$EV SELECT seq, user_id, CAST(list_reduce(list(value) $WRUN, " +
        "(a,x) -> a*0.75e0 + x*0.25e0) AS DOUBLE) AS ema FROM ev ORDER BY seq"),

    Q("q_ema_tuple",
      // Element-wise EMA over a 2-tuple (`ops/aggregate.py:104-108`):
      // each position folds independently — the oracle runs one scalar
      // fold per position, the engine one vector fold over the array.
      (s, d) => {
        val st = ev(s, d)
        st.derive(st.df.withColumn("__e",
            Aggregators.emaVec(array(col("value"), col("cents").cast("double")), 0.25)
              .over(st.wRun)))
          .df.select(col("seq"), col("user_id"),
            element_at(col("__e"), 1).as("ema_value"),
            element_at(col("__e"), 2).as("ema_cents"))
      },
      s"$EV SELECT seq, user_id, CAST(list_reduce(list(value) $WRUN, " +
        "(a,x) -> a*0.75e0 + x*0.25e0) AS DOUBLE) AS ema_value, " +
        s"CAST(list_reduce(list(CAST(cents AS DOUBLE)) $WRUN, " +
        "(a,x) -> a*0.75e0 + x*0.25e0) AS DOUBLE) AS ema_cents FROM ev ORDER BY seq"),

    Q("q_reduce",
      // Generic Reduce (`ops/aggregate.py:18-36`): running string fold.
      (s, d) => {
        val st = ev(s, d)
        st.derive(st.df.withColumn("acc",
            Aggregators.runningConcat(substring(col("event_type"), 1, 1)).over(st.wRun)))
          .df.select("seq", "user_id", "acc")
      },
      s"$EV SELECT seq, user_id, string_agg(substr(event_type,1,1),'') $WRUN AS acc " +
        "FROM ev ORDER BY seq"),

    Q("q_reduce_scan",
      // First-class user-lambda Reduce (`ops/aggregate.py:18-36`): an
      // arbitrary Scala (T,T)=>T — here a+x² — as a running scan, NO
      // initializer, exercising the reference's off-by-one: the first
      // element seeds the state unsquared and emits nothing, so per-key
      // row 1 is absent and acc(i) = x1 + Σ_{j=2..i} xj².
      (s, d) => ev(s, d)
        .reduceScan[Long]((a, x) => a + x * x, "cents", "acc")
        .df.select("seq", "user_id", "acc"),
      s"$EV SELECT seq, user_id, acc FROM (SELECT seq, user_id, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY seq) AS rn, " +
        s"CAST(first_value(cents) $WRUN + sum(cents*cents) $WRUN " +
        s"- first_value(cents*cents) $WRUN AS BIGINT) AS acc " +
        "FROM ev) WHERE rn > 1 ORDER BY seq"),

    Q("q_deque",
      (s, d) => ev(s, d).deque(col("cents"), 3, "window3")
        .df.select(col("seq"), col("user_id"),
          array_join(col("window3").cast("array<string>"), ",").as("window3")),
      s"$EV SELECT seq, user_id, array_to_string(list(cents) OVER (PARTITION BY user_id ORDER BY seq " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), ',') AS window3 FROM ev ORDER BY seq"),

    Q("q_list",
      (s, d) => ev(s, d).list("cents", "all_cents")
        .df.select(col("user_id"),
          array_join(col("all_cents").cast("array<string>"), ",").as("all_cents")),
      s"$EV SELECT user_id, array_to_string(list(cents ORDER BY seq), ',') AS all_cents FROM ev " +
        "GROUP BY user_id ORDER BY user_id"),

    // ---------------- §2.5 windowed-array ops ----------------
    Q("q_arraymin",
      (s, d) => { val st = ev(s, d)
        st.derive(st.df.withColumn("wmin", min(col("value")).over(st.wSlide(10))))
          .df.select("seq", "user_id", "wmin") },
      s"$EV SELECT seq, user_id, min(value) $W10 AS wmin FROM ev ORDER BY seq"),

    Q("q_arraymax",
      (s, d) => { val st = ev(s, d)
        st.derive(st.df.withColumn("wmax", max(col("value")).over(st.wSlide(10))))
          .df.select("seq", "user_id", "wmax") },
      s"$EV SELECT seq, user_id, max(value) $W10 AS wmax FROM ev ORDER BY seq"),

    Q("q_arraysum",
      (s, d) => { val st = ev(s, d)
        st.derive(st.df.withColumn("wsum", sum(col("cents")).over(st.wSlide(10))))
          .df.select("seq", "user_id", "wsum") },
      s"$EV SELECT seq, user_id, CAST(sum(cents) $W10 AS BIGINT) AS wsum FROM ev ORDER BY seq"),

    Q("q_arraymean",
      (s, d) => { val st = ev(s, d)
        st.derive(st.df.withColumn("wmean",
            sum(col("cents")).over(st.wSlide(10)).cast("double") /
              count(lit(1)).over(st.wSlide(10)) / 100.0))
          .df.select("seq", "user_id", "wmean") },
      s"$EV SELECT seq, user_id, CAST(sum(cents) $W10 AS DOUBLE) / (count(*) $W10) " +
        "/ 100.0e0 AS wmean FROM ev ORDER BY seq"),

    Q("q_arraystd",
      // Sample stddev from exact integer sums: sqrt((n*q - s^2)/(n*(n-1)))/100,
      // identical op sequence in both engines; n<2 → NULL (numpy NaN → NULL).
      (s, d) => { val st = ev(s, d)
        val n = count(lit(1)).over(st.wSlide(10))
        val sm = sum(col("cents")).over(st.wSlide(10))
        val sq = sum(col("cents") * col("cents")).over(st.wSlide(10))
        st.derive(st.df.withColumn("wstd",
            when(n >= 2, sqrt((n * sq - sm * sm).cast("double") /
              (n * (n - 1)).cast("double")) / 100.0)))
          .df.select("seq", "user_id", "wstd") },
      s"$EV SELECT seq, user_id, CASE WHEN (count(*) $W10) >= 2 THEN " +
        s"sqrt(CAST((count(*) $W10)*(sum(cents*cents) $W10) - (sum(cents) $W10)*(sum(cents) $W10) AS DOUBLE) " +
        s"/ CAST((count(*) $W10)*((count(*) $W10)-1) AS DOUBLE)) / 100.0e0 END AS wstd " +
        "FROM ev ORDER BY seq"),

    Q("q_arrayprod",
      // Sliding product over ±1 signs (exact at any window length;
      // `ops/array.py:94-98`).
      (s, d) => { val st = ev(s, d)
        val sign = when(col("cents") % 2 === 0, 1.0).otherwise(-1.0)
        st.derive(st.df.withColumn("wprod",
            Aggregators.runningProduct(sign).over(st.wSlide(10))))
          .df.select("seq", "user_id", "wprod") },
      s"$EV SELECT seq, user_id, CAST(product(" +
        s"CASE WHEN cents%2=0 THEN 1.0 ELSE -1.0 END) $W10 AS DOUBLE) AS wprod " +
        "FROM ev ORDER BY seq"),

    Q("q_arrayany",
      (s, d) => { val st = ev(s, d)
        st.derive(st.df.withColumn("wany",
            max(when(col("value") > 180, 1).otherwise(0)).over(st.wSlide(10)) === 1))
          .df.select("seq", "user_id", "wany") },
      s"$EV SELECT seq, user_id, bool_or(value > 180) $W10 AS wany FROM ev ORDER BY seq"),

    Q("q_arrayall",
      (s, d) => { val st = ev(s, d)
        st.derive(st.df.withColumn("wall",
            min(when(col("value") > 20, 1).otherwise(0)).over(st.wSlide(10)) === 1))
          .df.select("seq", "user_id", "wall") },
      s"$EV SELECT seq, user_id, bool_and(value > 20) $W10 AS wall FROM ev ORDER BY seq"),

    Q("q_iterate",
      // Iterate (`ops/transform.py:22-35`): each row consumes the next
      // iterator value; stream ends when the 40-element iterator does.
      (s, d) => ev(s, d).iterate((1 to 40).map(i => s"label_$i"), "label")
        .df.select("seq", "user_id", "label"),
      s"$EV SELECT seq, user_id, 'label_' || CAST(rn AS VARCHAR) AS label FROM (" +
        "SELECT seq, user_id, row_number() OVER (PARTITION BY user_id ORDER BY seq) AS rn " +
        "FROM ev) WHERE rn <= 40 ORDER BY seq"),

    Q("q_chunkwith",
      // Generic ChunkWith (`ops/transform.py:179-211`): daily timer ticks
      // flush per-user buffers (non-empty flushes). Oracle: a row's chunk
      // id = #ticks strictly before it = exact integer arithmetic on the
      // day offset (row exactly at a tick belongs to that tick's flush).
      (s, d) => {
        val st = ev(s, d)
        val b = st.df.agg(date_trunc("day", min(col("ts"))).as("t0"),
          max(col("ts")).as("t1"))
        val ticks = b.select(explode(expr(
            "sequence(t0 + INTERVAL 1 DAY, t1 + INTERVAL 1 DAY, INTERVAL 1 DAY)")).as("ts"))
          .withColumn("seq",
            row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("ts")))
              .cast("long"))
        val timer = graft.engine.EventStream(ticks, keys = Nil)
        st.chunkWith(timer, "cents", "chunk", "vals", emitEmpty = false)
          .df.select(col("user_id"), col("chunk"), col("n"),
            array_join(col("vals").cast("array<string>"), ",").as("vals"))
      },
      s"$EV, b AS (SELECT date_trunc('day', min(ts)) AS t0 FROM ev) " +
        "SELECT user_id, chunk, count(*) AS n, array_to_string(list(cents ORDER BY seq), ',') AS vals FROM (" +
        "SELECT user_id, seq, cents, " +
        "GREATEST(CASE WHEN (epoch_us(ts) - epoch_us(t0)) % 86400000000 = 0 " +
        "THEN (epoch_us(ts) - epoch_us(t0)) // 86400000000 - 1 " +
        "ELSE (epoch_us(ts) - epoch_us(t0)) // 86400000000 END, 0) AS chunk " +
        "FROM ev, b) GROUP BY user_id, chunk ORDER BY user_id, chunk"),

    Q("q_fork_zip",
      // fork[count, sum, min, max].zip() (`ops/combine.py:10-37`,
      // tests/event_test.py:148-152): N running aggregates over the same
      // rows, zipped positionally = one select with N window columns —
      // Catalyst collapses them into a single Window node.
      (s, d) => { val st = ev(s, d)
        st.derive(st.df
            .withColumn("rcnt", count(lit(1)).over(st.wRun))
            .withColumn("rsum", sum(col("cents")).over(st.wRun))
            .withColumn("rmin", min(col("cents")).over(st.wRun))
            .withColumn("rmax", max(col("cents")).over(st.wRun)))
          .df.select("seq", "user_id", "rcnt", "rsum", "rmin", "rmax") },
      s"$EV SELECT seq, user_id, count(*) $WRUN AS rcnt, CAST(sum(cents) $WRUN AS BIGINT) AS rsum, " +
        s"min(cents) $WRUN AS rmin, max(cents) $WRUN AS rmax FROM ev ORDER BY seq")
  )

  lazy val queries: Map[String, QFn] = qs.map(q => q.name -> q.fn).toMap
  lazy val oracle: Map[String, String] = qs.map(q => q.name -> q.sql).toMap

  /** Flagship pipeline (BASELINE.md's Sequence→map→filter→sum→last):
    * filter → map → running sum → last, per user. */
  def flagship(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .where(col("value") > 10)
      .rsum(col("cents") * 2, "total")
      .last()
      .df.select("user_id", "seq", "total")
}
