package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/**
 * Core abstraction: an ordered event stream encoded as a DataFrame.
 *
 * The reference engine (erdewit/eventkit, `/root/reference/eventkit/event.py:12`)
 * models an event as an unbounded ordered stream of tuples pushed through
 * listener callbacks. Here a stream is a DataFrame with:
 *
 *   - `keys`   : zero or more partition columns. A keyed stream is N
 *                independent sub-streams that parallelize across the
 *                cluster — this is the 100 TB scale story: every windowed
 *                op below is `Window.partitionBy(keys)`, so state never
 *                concentrates on one executor. An un-keyed stream
 *                (keys = Nil) reproduces the reference's single global
 *                order but executes on a single partition — use only for
 *                small control streams.
 *   - `seqCol` : BIGINT emit order within a key (reference: implicit
 *                asyncio emit order, `event.py:194`).
 *   - `tsCol`  : TIMESTAMP event time (reference: wall-clock
 *                `time.time()`, `ops/transform.py:58`). All timing ops
 *                are recast from wall-clock to event-time.
 *   - payload  : any remaining columns.
 *
 * Every operator is a pure `DataFrame => DataFrame` so Catalyst sees one
 * declarative plan: filters push to parquet, projections prune columns,
 * and adjacent window ops over the same (partition, order) collapse into
 * a single Window node.
 */
final case class EventStream(
    df: DataFrame,
    keys: Seq[String] = Nil,
    seqCol: String = "seq",
    tsCol: String = "ts") {

  private def keyCols: Seq[Column] = keys.map(col)

  /** Base window: one sorted pass per key. */
  def w: WindowSpec = Window.partitionBy(keyCols: _*).orderBy(col(seqCol))

  /** Running frame: unbounded-preceding .. current (prefix scan). */
  def wRun: WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Sliding frame of the last `n` rows (incl. current). */
  def wSlide(n: Int): WindowSpec =
    if (n <= 0) wRun else w.rowsBetween(-(n - 1), 0)

  /** Event-time ordered window (ties broken by seq for determinism). */
  def wTime: WindowSpec =
    Window.partitionBy(keyCols: _*).orderBy(col(tsCol), col(seqCol))

  def derive(d: DataFrame): EventStream = copy(df = d)

  /** Compose source-less operator chains (`event.py:259-282` `pipe`/`|`):
    * operators are plain `EventStream => EventStream` functions. */
  def pipe(fs: (EventStream => EventStream)*): EventStream =
    fs.foldLeft(this)((s, f) => f(s))

  // ===================== §2.2 selection — ops/select.py =====================

  /** Filter (`ops/select.py:5-14`). */
  def where(cond: Column): EventStream = derive(df.filter(cond))

  /** Skip first `n` rows per key (`ops/select.py:17-29`). */
  def skip(n: Int): EventStream =
    derive(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > n).drop("__rn"))

  /** Take first `n` rows per key (`ops/select.py:32-46`). */
  def take(n: Int): EventStream =
    derive(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn"))

  /** Pass while `pred` holds; end at first violation (`ops/select.py:49-61`). */
  def takeWhile(pred: Column): EventStream =
    derive(df.withColumn("__nbad", count(when(!pred, 1)).over(wRun))
      .filter(col("__nbad") === 0).drop("__nbad"))

  /** Drop while `pred` holds; pass from first violation on (`ops/select.py:64-76`). */
  def dropWhile(pred: Column): EventStream =
    derive(df.withColumn("__nbad", count(when(!pred, 1)).over(wRun))
      .filter(col("__nbad") > 0).drop("__nbad"))

  /**
   * Pass until `notifier` first emits (`ops/select.py:79-99`). Batch
   * encoding: keep rows strictly before the notifier's first event time.
   * The notifier aggregate is tiny (one row per key) → broadcast-joined.
   */
  def takeUntil(notifier: EventStream): EventStream = {
    val firstTs = notifier.df
      .groupBy(notifier.keys.map(col): _*)
      .agg(min(col(notifier.tsCol)).as("__cut"))
    val joined =
      if (keys.isEmpty) df.crossJoin(broadcast(firstTs))
      else df.join(broadcast(firstTs), keys, "left")
    derive(joined
      .filter(col("__cut").isNull || col(tsCol) < col("__cut"))
      .drop("__cut"))
  }

  /** Emit only rows whose `cols` differ from the previous row (`ops/select.py:102-112`).
    * `<=>` is null-safe, so the first row (lag = NULL) always passes. */
  def changes(cols: Seq[String]): EventStream = {
    val changed = cols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    derive(df.withColumn("__chg", changed).filter(col("__chg")).drop("__chg"))
  }

  /** First occurrence per distinct `by` values (`ops/select.py:115-130`). */
  def unique(by: Seq[String]): EventStream = {
    val wu = Window.partitionBy((keys ++ by).map(col): _*).orderBy(col(seqCol))
    derive(df.withColumn("__rn", row_number().over(wu))
      .filter(col("__rn") === 1).drop("__rn"))
  }

  /** Only the final row per key (`ops/select.py:133-145`). */
  def last(): EventStream = {
    val all = struct(df.columns.toIndexedSeq.map(col): _*)
    val agged = df.groupBy(keyCols: _*).agg(max_by(all, col(seqCol)).as("__row"))
    derive(agged.select(df.columns.toIndexedSeq.map(c => col(s"__row.$c")): _*))
  }

  // =================== §2.3 transformation — ops/transform.py ===============

  /** Map = projection; keep stream columns, replace payload (`ops/transform.py:214`). */
  def mapPayload(exprs: (String, Column)*): EventStream = {
    val base = (keys :+ seqCol :+ tsCol).distinct.map(col)
    derive(df.select(base ++ exprs.map { case (n, e) => e.as(n) }: _*))
  }

  /** Prepend running index `start + step*i` (`ops/transform.py:38-50`). */
  def enumerate(as: String, start: Long = 0, step: Long = 1): EventStream =
    derive(df.withColumn(as, lit(start) + lit(step) * (row_number().over(w) - 1)))

  /** On each input row, take the next value from a finite iterator; the
    * stream ends when the iterator is exhausted (`ops/transform.py:22-35`).
    * Encoded as a broadcast equi-join on per-key row index — the inner
    * join ends at the shorter side, exactly the reference's termination. */
  def iterate(values: Seq[String], as: String): EventStream = {
    val spark = df.sparkSession
    import spark.implicits._
    val it = values.zipWithIndex
      .map { case (v, i) => (i + 1L, v) }.toDF("__rn", as)
    derive(df.withColumn("__rn", row_number().over(w))
      .join(broadcast(it), "__rn").drop("__rn"))
  }

  /** Value from `n` rows back; first `n` rows dropped (`ops/transform.py:130-141`). */
  def previous(c: String, as: String, n: Int = 1): EventStream =
    derive(df.withColumn(as, lag(col(c), n).over(w))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > n).drop("__rn"))

  /** (prev, cur) pairs starting at the 2nd row (`ops/aggregate.py:114-127`). */
  def pairwise(c: String, prevAs: String): EventStream =
    derive(df.withColumn(prevAs, lag(col(c), 1).over(w))
      .filter(col(prevAs).isNotNull))

  /** Group every `size` rows into an array (`ops/transform.py:158-176`). */
  def chunk(c: String, size: Int, idxAs: String, listAs: String): EventStream = {
    val chunked = df
      .withColumn(idxAs, floor((row_number().over(w) - 1) / size))
      .groupBy((keyCols :+ col(idxAs)): _*)
      .agg(
        sort_array(collect_list(struct(col(seqCol), col(c)))).as("__p"),
        count(lit(1)).as("n"))
      .withColumn(listAs, col("__p").getField(c))
      .drop("__p")
    derive(chunked)
  }

  /**
   * ChunkWith (`ops/transform.py:179-211`): buffer values; flush the
   * buffer each time `timer` fires — an empty list if nothing arrived
   * (`emitEmpty`, the reference's `emit_empty=True` default); flush the
   * remainder when the source ends. Ticks after the source's last row
   * don't fire (the reference disconnects the timer at source-done). A
   * row belongs to the flush of the first tick at-or-after its event
   * time; rows after the last in-range tick form the final done-flush.
   *
   * Encoding: union source+timer, one keyed event-time window pass —
   * a row's chunk id is the running count of *strictly earlier* ticks
   * (source sorts before timer at equal ts, so a row exactly at tick
   * time lands in that tick's flush). An un-keyed timer against a keyed
   * source is fanned out per key. Empty flushes come from the tick rows
   * themselves (tick i closes chunk i-1), so no extra scan or join.
   */
  def chunkWith(timer: EventStream, c: String, idxAs: String, listAs: String,
      emitEmpty: Boolean = true): EventStream = {
    val src = df.select(keyCols ++ Seq(col(seqCol), col(tsCol),
      col(c).as("__v"), lit(0).as("__tick")): _*)
    val tk0 = timer.df.select(timer.keys.map(col) ++ Seq(
      col(timer.seqCol).as(seqCol), col(timer.tsCol).as(tsCol),
      lit(null).cast(df.schema(c).dataType).as("__v"), lit(1).as("__tick")): _*)
    // Ticks stop at source done (the reference disconnects the timer,
    // `ops/transform.py:205-210`): bound ticks by the (per-key) max
    // source ts. A global timer against a keyed source fans out per key.
    val bounds = df.groupBy(keyCols: _*).agg(max(col(tsCol)).as("__done"))
    val tkKeyed =
      if (keys.isEmpty) tk0.crossJoin(broadcast(bounds))
      else if (timer.keys.isEmpty) bounds.crossJoin(broadcast(tk0))
      else tk0.join(broadcast(bounds), keys)
    val tk = tkKeyed.filter(col(tsCol) <= col("__done")).drop("__done")
    val wt = Window.partitionBy(keyCols: _*)
      .orderBy(col(tsCol), col("__tick"), col(seqCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = src.unionByName(tk)
      .withColumn("__nticks", sum(col("__tick")).over(wt))
      // source row → chunk = #ticks before it; tick row i → closes chunk i-1
      .withColumn(idxAs, col("__nticks") - col("__tick"))
    val chunked = tagged
      .groupBy((keyCols :+ col(idxAs)): _*)
      .agg(sort_array(collect_list(struct(col(seqCol), col("__v")))).as("__p"),
        count(when(col("__tick") === 0, 1)).as("n"))
      .withColumn(listAs,
        when(col("n") > 0, filter(col("__p"), p => p.getField("__v").isNotNull)
          .getField("__v"))
          .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
            df.schema(c).dataType))))
      .drop("__p")
    val withEmpties = if (emitEmpty) chunked else chunked.filter(col("n") > 0)
    derive(withEmpties)
  }

  // ============= §2.4 running aggregates — ops/aggregate.py ================
  // Reference semantics: emit the updated aggregate on EVERY row
  // (`tests/aggregate_test.py:18-21`) — a prefix scan, hence window
  // aggregates over wRun, never groupBy().agg().

  /** Running count `start + i*step` (`ops/aggregate.py:10-15`). */
  def rcount(as: String, start: Long = 0, step: Long = 1): EventStream =
    derive(df.withColumn(as, lit(start) + lit(step) * (row_number().over(w) - 1)))

  def rsum(c: Column, as: String): EventStream =
    derive(df.withColumn(as, sum(c).over(wRun)))

  def rmin(c: Column, as: String): EventStream =
    derive(df.withColumn(as, min(c).over(wRun)))

  def rmax(c: Column, as: String): EventStream =
    derive(df.withColumn(as, max(c).over(wRun)))

  /** Running mean kept exact: integer sum / count, one deterministic division. */
  def rmeanExact(cents: Column, as: String): EventStream =
    derive(df.withColumn(as,
      sum(cents).over(wRun).cast("double") / count(lit(1)).over(wRun)))

  def rany(pred: Column, as: String): EventStream =
    derive(df.withColumn(as, max(when(pred, 1).otherwise(0)).over(wRun) === 1))

  def rall(pred: Column, as: String): EventStream =
    derive(df.withColumn(as, min(when(pred, 1).otherwise(0)).over(wRun) === 1))

  /**
   * Generic Reduce (`ops/aggregate.py:18-36`): running fold of any
   * user lambda `f: (T, T) => T` over `valueCol` in emit order.
   * Reference emission preserved exactly: with no initializer the
   * first element only seeds the state and is NOT emitted
   * (`ops/aggregate.py:29-31`, the no-initializer off-by-one), so
   * row 1 is dropped from the output; with an initializer every row
   * emits, row 1 carrying `f(init, x1)`.
   */
  def reduceScan[T](f: (T, T) => T, valueCol: String, as: String,
      init: Option[T] = None)(
      implicit tt: scala.reflect.runtime.universe.TypeTag[T]): EventStream = {
    val scan = graft.functions.Aggregators
      .reduceScan(f, init)(col(valueCol), wRun)
    if (init.isDefined) derive(df.withColumn(as, scan))
    else derive(df
      .withColumn(as, scan)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).drop("__rn"))
  }

  /** Sliding-window list of the last `n` values (`ops/aggregate.py:146-159`, `ops/array.py:9-70`). */
  def deque(c: Column, n: Int, as: String): EventStream =
    derive(df.withColumn(as, collect_list(c).over(wSlide(n))))

  /** Buffer everything, one array per key on done (`ops/aggregate.py:130-143`). */
  def list(c: String, as: String): EventStream = {
    val agged = df.groupBy(keyCols: _*)
      .agg(sort_array(collect_list(struct(col(seqCol), col(c)))).as("__p"))
      .withColumn(as, col("__p").getField(c)).drop("__p")
    derive(agged)
  }

  // ===================== §2.7 timing — ops/timing.py ========================

  /** Shift event time (`ops/timing.py:8-28`). */
  def delay(interval: String): EventStream =
    derive(df.withColumn(tsCol, col(tsCol) + expr(s"INTERVAL $interval")))

  /**
   * Debounce (`ops/timing.py:67-101`): burst = rows separated by < `gapSec`.
   * onFirst=true → first row of each burst; else last row, re-stamped
   * at burst_end + gap (the reference emits after the quiet period).
   */
  def debounce(gapSec: Double, onFirst: Boolean = false): EventStream = {
    val gapUs = math.round(gapSec * 1e6)
    val prevTs = lag(col(tsCol), 1).over(wTime)
    val isFirst = prevTs.isNull ||
      (unix_micros(col(tsCol)) - unix_micros(prevTs)) >= gapUs
    if (onFirst) {
      derive(df.withColumn("__f", isFirst).filter(col("__f")).drop("__f"))
    } else {
      val nextTs = lead(col(tsCol), 1).over(wTime)
      val isLast = nextTs.isNull ||
        (unix_micros(nextTs) - unix_micros(col(tsCol))) >= gapUs
      derive(df.withColumn("__l", isLast).filter(col("__l")).drop("__l")
        .withColumn(tsCol, timestamp_micros(unix_micros(col(tsCol)) + gapUs)))
    }
  }

  /**
   * Timeout (`ops/timing.py:31-64`): pass rows until the first silent gap
   * > `gapSec`, then end. (The reference also emits a NO_VALUE marker —
   * surfaced via `timeoutMarkers`.)
   */
  def timeout(gapSec: Double): EventStream = {
    val gapUs = math.round(gapSec * 1e6)
    val prevTs = lag(col(tsCol), 1).over(wTime)
    val isBreak = when(prevTs.isNotNull &&
      (unix_micros(col(tsCol)) - unix_micros(prevTs)) > gapUs, 1).otherwise(0)
    derive(df.withColumn("__nb", sum(isBreak).over(
        Window.partitionBy(keyCols: _*).orderBy(col(tsCol), col(seqCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__nb") === 0).drop("__nb"))
  }

  /**
   * The NO_VALUE marker the reference's Timeout emits on firing
   * (`ops/timing.py:58-61`): one row per key that timed out, stamped at
   * last_event_ts + gap. Columns: keys + marker ts.
   */
  def timeoutMarkers(gapSec: Double): DataFrame = {
    val gapUs = math.round(gapSec * 1e6)
    val prevTs = lag(col(tsCol), 1).over(wTime)
    df.withColumn("__prev_us", unix_micros(prevTs))
      .withColumn("__gap", unix_micros(col(tsCol)) - col("__prev_us"))
      .filter(col("__gap") > gapUs)
      .groupBy(keyCols: _*)
      .agg(timestamp_micros(min(col("__prev_us")) + gapUs).as(tsCol))
  }

  /**
   * Sample (`ops/timing.py:187-211`): at each row of `timer`, the latest
   * source value at-or-before that time. Encoded as union + running
   * last(ignoreNulls) over event time — one sorted pass per key, no join.
   * For a regular timer, [[sampleEvery]] builds no timer rows at all.
   */
  def sample(timer: EventStream, valueCols: Seq[String]): EventStream = {
    val srcTagged = df.withColumn("__t", lit(0))
    val timerTagged = timer.df
      .select((timer.keys.map(col) :+ col(timer.tsCol).as(tsCol) :+ col(timer.seqCol).as(seqCol)): _*)
      .withColumn("__t", lit(1))
    val unioned = srcTagged.unionByName(timerTagged, allowMissingColumns = true)
    val wt = Window.partitionBy(keyCols: _*)
      .orderBy(col(tsCol), col("__t"), col(seqCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(unioned) { (d, c) =>
      d.withColumn(c, last_value(col(c), lit(true)).over(wt))
    }
    derive(filled.filter(col("__t") === 1 && valueCols.map(col(_).isNotNull).reduce(_ && _))
      .drop("__t"))
  }

  /**
   * Sample on a regular timer: the same rule as [[sample]] for the ticks
   * `t0 + k·stepUs` (k ≥ 1, tick ≤ t1), where `grid` is a one-row frame
   * holding the timestamps `t0` and `t1`. Each key gets every tick at or
   * after its first row. Output: keys, tick time in `tsCol`, k in
   * `seqCol`, and the latest non-null value of each `valueCols` column.
   *
   * Encoding: no key × tick timer. Sorted by (ts, seq) within a key, row
   * r owns the ticks in [ts(r), ts(r+1)) — the ticks whose latest row
   * at-or-before is r — and the last row owns the rest of the grid. The
   * range of k comes from exact integer division against `t0`, so each
   * row explodes only its own ticks: one sorted pass per key, the grid
   * bounds broadcast.
   */
  def sampleEvery(grid: DataFrame, stepUs: Long, valueCols: Seq[String]): EventStream = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    // exact integer ceil/floor of a / stepUs for any sign of a
    def ceilK(a: String) = s"(($a) + pmod(-($a), ${stepUs}L)) div ${stepUs}L"
    def floorK(a: String) = s"(($a) - pmod($a, ${stepUs}L)) div ${stepUs}L"
    val wRows = wTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = df.select(keyCols ++ Seq(col(seqCol), unix_micros(col(tsCol)).as("__t")) ++
      valueCols.map(c => last_value(col(c), lit(true)).over(wRows).as(c)) :+
      unix_micros(lead(col(tsCol), 1).over(wTime)).as("__next"): _*)
    val owned = rows
      .filter(valueCols.map(col(_).isNotNull).reduce(_ && _))
      .crossJoin(broadcast(grid.select(
        unix_micros(col("t0")).as("__t0"), unix_micros(col("t1")).as("__t1"))))
      .withColumn("__klo", expr(s"greatest(1L, ${ceilK("__t - __t0")})"))
      .withColumn("__khi", expr(s"least(${floorK("__t1 - __t0")}, " +
        s"coalesce(${ceilK("__next - __t0")} - 1, ${Long.MaxValue}L))"))
      .filter(col("__khi") >= col("__klo"))
    derive(owned.select(keyCols ++ (explode(sequence(col("__klo"), col("__khi"))).as(seqCol) +:
        valueCols.map(col)) :+ col("__t0"): _*)
      .withColumn(tsCol, timestamp_micros(col("__t0") + col(seqCol) * stepUs))
      .select(keyCols ++ (col(seqCol) +: col(tsCol) +: valueCols.map(col)): _*))
  }

  /**
   * Throttle (`ops/timing.py:104-184`) as a timestamp rewrite: values are
   * never dropped; event times move to when the sliding-window rate
   * limiter (`maximum` per `intervalSec`) admits them. Order-sensitive
   * scan via [[graft.functions.Aggregators.throttleAdmit]].
   */
  def throttle(maximum: Int, intervalSec: Double): EventStream = {
    val wtRun = wTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val admit = graft.functions.Aggregators
      .throttleAdmit(unix_micros(col(tsCol)), maximum, math.round(intervalSec * 1e6))
    derive(df
      .withColumn("__admit_us", admit.over(wtRun))
      .withColumn(tsCol, timestamp_micros(col("__admit_us")))
      .drop("__admit_us"))
  }

  /** Throttle with per-item cost (`cost_func`, `ops/timing.py:115-117`):
    * total admitted cost over any sliding `intervalSec` stays ≤
    * `maximum`; timestamps move to admission, nothing is dropped. */
  def throttleCost(cost: Column, maximum: Long, intervalSec: Double): EventStream = {
    val wtRun = wTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val admit = graft.functions.Aggregators.throttleCostAdmit(
      unix_micros(col(tsCol)), cost, maximum, math.round(intervalSec * 1e6))
    derive(df
      .withColumn("__admit_us", admit.over(wtRun))
      .withColumn(tsCol, timestamp_micros(col("__admit_us")))
      .drop("__admit_us"))
  }

  /**
   * Throttle status side-channel (`Throttle.status_event`,
   * `ops/timing.py:110-114`, `:171-176`): the reference emits `true`
   * when the limiter starts queueing and `false` when the queue drains.
   * In the admitted-time encoding a row sits queued during
   * [arrival, admit); the status stream is the per-key union of those
   * intervals — one (ts, active=true) row at each merged episode's start
   * and one (ts, active=false) at its end. A strictly-later arrival than
   * every prior admit means the queue drained in between, i.e. a new
   * episode (arrival ties extend the episode). Same window partitioning
   * as the admit scan: one shuffle, sorted passes, then a
   * partially-aggregated groupBy on (key, episode).
   */
  def throttleStatus(maximum: Int, intervalSec: Double): EventStream = {
    val wtRun = wTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wtPrev = wTime.rowsBetween(Window.unboundedPreceding, -1)
    val admit = graft.functions.Aggregators
      .throttleAdmit(unix_micros(col(tsCol)), maximum, math.round(intervalSec * 1e6))
    val queued = df
      .withColumn("__t_us", unix_micros(col(tsCol)))
      .withColumn("__admit_us", admit.over(wtRun))
      .filter(col("__admit_us") > col("__t_us"))
    val eps = queued
      .withColumn("__new", when(col("__t_us") >
        coalesce(max(col("__admit_us")).over(wtPrev), lit(Long.MinValue)), 1L)
        .otherwise(0L))
      .withColumn("__ep", sum(col("__new")).over(wtRun))
      .groupBy((keyCols :+ col("__ep")): _*)
      .agg(min(col("__t_us")).as("__on_us"), max(col("__admit_us")).as("__off_us"))
    val out = eps
      .select((keyCols :+ explode(array(
        struct(col("__on_us").as("us"), lit(true).as("active")),
        struct(col("__off_us").as("us"), lit(false).as("active")))).as("__e")): _*)
      .select((keyCols ++ Seq(
        timestamp_micros(col("__e.us")).as(tsCol),
        col("__e.active").as("active"))): _*)
      .withColumn(seqCol,
        row_number().over(Window.partitionBy(keyCols: _*).orderBy(col(tsCol))).cast("long"))
    derive(out)
  }

  /**
   * Throttle with dynamic re-limiting (`Throttle.set_limit`,
   * `ops/timing.py:124-130`): `limits` is a small control stream with
   * columns (ts, maximum, interval_sec); each source row is admitted
   * under the limit in force at its arrival — the batch analogue of
   * calling `set_limit` at that instant. The limiter's memory of past
   * admits carries across limit changes (pruned with the interval in
   * force at each step, exactly like the reference forgetting emit
   * times older than the current interval). Control streams are tiny,
   * so the as-of limit attach is a broadcast range join; the admit scan
   * stays one sorted pass per key.
   */
  def throttleDynamic(
      limits: DataFrame, defaultMax: Int, defaultIntervalSec: Double): EventStream = {
    val lims = limits
      .select(
        unix_micros(col("ts")).as("__l_us"),
        col("maximum").cast("int").as("__l_max"),
        (col("interval_sec") * 1e6).cast("long").as("__l_iv"))
      .withColumn("__l_nxt", lead(col("__l_us"), 1).over(Window.orderBy(col("__l_us"))))
    val wtRun = wTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = df
      .withColumn("__t_us", unix_micros(col(tsCol)))
      .join(broadcast(lims),
        col("__t_us") >= col("__l_us") &&
          (col("__l_nxt").isNull || col("__t_us") < col("__l_nxt")),
        "left")
    val admit = graft.functions.Aggregators.throttleDynAdmit(
      col("__t_us"),
      coalesce(col("__l_max"), lit(defaultMax)),
      coalesce(col("__l_iv"), lit(math.round(defaultIntervalSec * 1e6))))
    derive(joined
      .withColumn(tsCol, timestamp_micros(admit.over(wtRun)))
      .drop("__t_us", "__l_us", "__l_max", "__l_iv", "__l_nxt"))
  }

  // ================== §2.3 higher-order (emap family) =======================
  // Each parent row spawns a child array of structs (the sub-event); the
  // joiner fixes output order / filtering (`ops/transform.py:291-346`).
  // `childTsField` names the child-struct field holding its event time.
  // Output rows carry the child struct in `__child` plus `__outseq`.

  /** Mergemap: interleave children by child event time (`ops/transform.py:321-325`). */
  def emapMerge(children: Column, childTsField: String): EventStream =
    emap(children, EventStream.Joiners.Merge(childTsField))

  /** Chainmap: drain child i fully before i+1 (`ops/transform.py:328-332`). */
  def emapChain(children: Column, childIdxField: String): EventStream =
    emap(children, EventStream.Joiners.Chain(childIdxField))

  /**
   * Generic Emap (`Emap(constr, joiner)`, `ops/transform.py:291-318`):
   * the reference accepts ANY JoinOp as the joiner; here the strategy is
   * an [[EventStream.Joiner]] deciding how exploded children are
   * filtered and ordered. The four canonical instances
   * ([[EventStream.Joiners]]) back the variants below; pass a custom
   * Joiner for anything else.
   */
  def emap(children: Column, joiner: EventStream.Joiner): EventStream = {
    val (d, ord) = joiner(this, children)
    derive(d, ord)
  }

  /**
   * Concatmap (`ops/transform.py:335-339`): Concat over the spawned
   * children in creation (parent) order — child k is disconnected at the
   * first emission of ANY later child (golden test
   * `tests/transform_test.py:135-146`: A,B,1,2,3,K,L,M,N). kill(k) = min
   * over later children of their first emission time; a row passes iff
   * its child ts <= kill (ties resolve in scan order, earlier child
   * first).
   */
  def emapConcat(children: Column, childTsField: String): EventStream =
    emap(children, EventStream.Joiners.Concat(childTsField))

  /**
   * Switchmap (`ops/transform.py:342-346`): the last child to EMIT
   * preempts (not the last created — golden test
   * `tests/transform_test.py:156-166`: A,B,1,2,K,L,M,N). General form is
   * the switch scan with the parent seq as source id; when children
   * first emit at their creation time (first child ts = parent ts,
   * parent ts monotonic per key) the scan provably reduces to truncating
   * child k at the NEXT parent's first child emission — which is the
   * encoding used here. For non-monotonic children use
   * [[EventStream.switch]] on the exploded frame.
   */
  def emapSwitch(children: Column, childTsField: String): EventStream =
    emap(children, EventStream.Joiners.Switch(childTsField))

  private def derive(d: DataFrame, orderCols: Seq[Column]): EventStream = {
    val wOut = Window.partitionBy(keyCols: _*).orderBy(orderCols :+ col(seqCol): _*)
    derive(d.withColumn("__outseq", row_number().over(wOut).cast("long")))
  }
}

object EventStream {

  /**
   * A join strategy for the generic Emap (`ops/transform.py:291-318`):
   * given the parent stream and the child-array column, return the
   * exploded (possibly filtered) child rows — child struct in `__child`
   * — plus the columns that fix output order (seq is always the final
   * tiebreak). Implementing this is the Spark analogue of handing the
   * reference's `Emap` a custom JoinOp instance.
   */
  trait Joiner {
    def apply(parent: EventStream, children: Column): (DataFrame, Seq[Column])
  }

  /** The four canonical reference joiners (`ops/transform.py:321-346`). */
  object Joiners {
    /** Interleave children by child event time. */
    final case class Merge(childTsField: String) extends Joiner {
      def apply(p: EventStream, children: Column): (DataFrame, Seq[Column]) =
        (p.df.withColumn("__child", explode(children)),
          Seq(col(s"__child.$childTsField")))
    }

    /** Drain child i fully before i+1. */
    final case class Chain(childIdxField: String) extends Joiner {
      def apply(p: EventStream, children: Column): (DataFrame, Seq[Column]) =
        (p.df.withColumn("__child", explode(children)),
          Seq(col(p.seqCol), col(s"__child.$childIdxField")))
    }

    /**
     * Concat in creation order: child k is disconnected at the first
     * emission of ANY later child (golden test
     * `tests/transform_test.py:135-146`). kill(k) = min over later
     * children of their first emission time; a row passes iff its child
     * ts <= kill (ties resolve in scan order, earlier child first). The
     * kill is a running min over the parents in reverse creation order
     * that stops before the current parent: linear per key.
     */
    final case class Concat(childTsField: String) extends Joiner {
      def apply(p: EventStream, children: Column): (DataFrame, Seq[Column]) = {
        val firstC = array_min(transform(children, c => c.getField(childTsField)))
        val later = Window.partitionBy(p.keys.map(col): _*).orderBy(col(p.seqCol).desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val d = p.df.withColumn("__kill", min(firstC).over(later))
          .withColumn("__child", explode(children))
          .filter(col("__kill").isNull || col(s"__child.$childTsField") <= col("__kill"))
          .drop("__kill")
        (d, Seq(col(s"__child.$childTsField")))
      }
    }

    /**
     * Switch: the last child to EMIT preempts (not the last created —
     * golden test `tests/transform_test.py:156-166`). When children
     * first emit at their creation time (first child ts = parent ts,
     * parent ts monotonic per key) the switch scan provably reduces to
     * truncating child k at the NEXT parent's first child emission —
     * the encoding here. For non-monotonic children use
     * [[EventStream.switch]] on the exploded frame.
     */
    final case class Switch(childTsField: String) extends Joiner {
      def apply(p: EventStream, children: Column): (DataFrame, Seq[Column]) = {
        val firstC = array_min(transform(children, c => c.getField(childTsField)))
        val nxt = lead(firstC, 1).over(p.w)
        val d = p.df.withColumn("__nxt", nxt)
          .withColumn("__child", explode(children))
          .filter(col("__nxt").isNull || col(s"__child.$childTsField") <= col("__nxt"))
          .drop("__nxt")
        (d, Seq(col(s"__child.$childTsField")))
      }
    }
  }

  /**
   * Pull iterator with backpressure drop (`aiter(skip_to_last=True)`,
   * `event.py:339-366`): the reference's "slipper clutch" between a
   * producer that is too fast and a consumer that can't keep up — on
   * every new value the backlog queue is drained, so each pull yields
   * only the NEWEST value produced since the previous pull. A daemon
   * thread advances the plan's `toLocalIterator`; `next()` blocks only
   * while nothing new has arrived. The final row is always delivered.
   */
  def aiterSkipToLast(df: DataFrame): Iterator[org.apache.spark.sql.Row] = {
    val lock = new Object
    var latest: org.apache.spark.sql.Row = null // guarded by lock
    var finished = false
    val t = new Thread(() => {
      try df.toLocalIterator().forEachRemaining { r =>
        lock.synchronized { latest = r; lock.notifyAll() }
      } finally lock.synchronized { finished = true; lock.notifyAll() }
    }, "aiter-skip-to-last")
    t.setDaemon(true)
    t.start()
    new Iterator[org.apache.spark.sql.Row] {
      def hasNext: Boolean = lock.synchronized {
        while (latest == null && !finished) lock.wait()
        latest != null
      }
      def next(): org.apache.spark.sql.Row = lock.synchronized {
        if (!hasNext) throw new NoSuchElementException("stream done")
        val r = latest
        latest = null
        r
      }
    }
  }

  /**
   * Async map with a concurrency cap (`ops/transform.py:214-288`:
   * `Map(func, task_limit=N)` — the reference's bounded-parallelism
   * external-service call). Spark already parallelizes across
   * partitions; `taskLimit` bounds the *in-flight calls per partition*
   * (connection-pool semantics): each partition's iterator advances in
   * windows of `taskLimit` concurrent futures, and results stay in emit
   * order (the reference's `ordered=True` default). For the reference's
   * timeout→NO_VALUE mode use [[mapAsyncTimeout]].
   */
  def mapAsync[I, O: org.apache.spark.sql.Encoder](
      ds: org.apache.spark.sql.Dataset[I], f: I => O, taskLimit: Int)
      : org.apache.spark.sql.Dataset[O] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    ds.mapPartitions { it =>
      // A dedicated pool of exactly `taskLimit` threads per partition:
      // the cap is a real connection-pool bound even for blocking calls
      // (the shared global EC would cap at ~numCores JVM-wide instead).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, taskLimit))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => pool.shutdown()))
      it.grouped(math.max(1, taskLimit)).flatMap { batch =>
        batch.map(i => Future(f(i))).map(fu => Await.result(fu, Duration.Inf))
      }
    }
  }

  /**
   * Map with `timeout` (`Map(func, timeout=...)`,
   * `ops/transform.py:252-253`, `:283-288`): a call that exceeds the
   * timeout — or raises — yields NO_VALUE instead of killing the stream
   * (the reference wraps the coroutine in `asyncio.wait_for` and its
   * done-callback converts errors to NO_VALUE + an error_event).
   * NO_VALUE maps to `None` here. The timeout clock starts at task
   * submission, matching `wait_for`: each future records its start and
   * the ordered await charges only the remaining budget. A timed-out
   * task is CANCELLED with interrupt (`FutureTask.cancel(true)`) —
   * `wait_for` cancels the coroutine, and without it a stuck `f` would
   * permanently occupy a pool thread, queueing later batches while
   * their submission-started clocks run and cascading spurious
   * NO_VALUEs.
   */
  def mapAsyncTimeout[I, O](
      ds: org.apache.spark.sql.Dataset[I], f: I => O, taskLimit: Int, timeoutSec: Double)(
      implicit oe: org.apache.spark.sql.Encoder[Option[O]])
      : org.apache.spark.sql.Dataset[Option[O]] = {
    import java.util.concurrent.{ExecutionException, FutureTask, TimeoutException, TimeUnit}
    ds.mapPartitions { it =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, taskLimit))
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))
      val budgetNs = math.round(timeoutSec * 1e9)
      it.grouped(math.max(1, taskLimit)).flatMap { batch =>
        batch
          .map { i =>
            val ft = new FutureTask[O](() => f(i))
            pool.execute(ft)
            (ft, System.nanoTime())
          }
          .map { case (ft, t0) =>
            val remainNs = math.max(0L, budgetNs - (System.nanoTime() - t0))
            try Some(ft.get(remainNs, TimeUnit.NANOSECONDS))
            catch {
              case _: TimeoutException => ft.cancel(true); None
              case _: ExecutionException => None // f raised → NO_VALUE
            }
          }
      }
    }
  }

  /** Tag and union streams; `srcAs` identifies the origin. */
  private def tagged(ss: Seq[EventStream], srcAs: String): DataFrame =
    ss.zipWithIndex.map { case (s, i) =>
      s.df.withColumn(srcAs, lit(i))
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /**
   * Merge (`ops/combine.py:97-102`): interleave by event time.
   * Output order column `outSeq` makes the interleaving observable.
   */
  def merge(ss: Seq[EventStream], srcAs: String, outSeqAs: String): EventStream = {
    val h = ss.head
    val u = tagged(ss, srcAs)
    val wOut = Window.partitionBy(h.keys.map(col): _*)
      .orderBy(col(h.tsCol), col(srcAs), col(h.seqCol))
    h.derive(u.withColumn(outSeqAs, row_number().over(wOut).cast("long")))
  }

  /**
   * Chain (`ops/combine.py:177-216`): all of source i (buffered) before
   * i+1 — order by (source, seq).
   */
  def chain(ss: Seq[EventStream], srcAs: String, outSeqAs: String): EventStream = {
    val h = ss.head
    val u = tagged(ss, srcAs)
    val wOut = Window.partitionBy(h.keys.map(col): _*)
      .orderBy(col(srcAs), col(h.seqCol))
    h.derive(u.withColumn(outSeqAs, row_number().over(wOut).cast("long")))
  }

  /**
   * Concat (`ops/combine.py:142-174`): when source j emits, every source
   * i < j is disconnected permanently (golden test
   * `tests/combine_test.py:26-31`: [0,1,2,3] ++ [100..109]). A row of
   * source i therefore passes iff ts <= kill(i), where kill(i) = min
   * first-emission time over sources j > i (a row at the kill instant is
   * processed before its killer in (ts, src) scan order, so it still
   * passes). Each source's first emission time is a whole-partition
   * `min` over the output-seq sort, so the kill, the filter and the
   * output stamp are one sorted pass per key.
   */
  def concat(ss: Seq[EventStream], srcAs: String, outSeqAs: String): EventStream = {
    val h = ss.head
    val wOut = Window.partitionBy(h.keys.map(col): _*)
      .orderBy(col(h.tsCol), col(srcAs), col(h.seqCol))
    val wAll = wOut.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val firsts = ss.indices.map(j => min(when(col(srcAs) === j, col(h.tsCol))).over(wAll))
    // least() skips NULLs: a source that never emits kills nothing
    def earliest(cs: Seq[Column]): Column =
      if (cs.size == 1) cs.head else least(cs: _*)
    val kill = bySource(srcAs, ss.indices.init.map(i => earliest(firsts.drop(i + 1))))
    val passed = tagged(ss, srcAs).withColumn("__kill", kill)
      .filter(col("__kill").isNull || col(h.tsCol) <= col("__kill"))
      .drop("__kill")
    h.derive(passed.withColumn(outSeqAs, row_number().over(wOut).cast("long")))
  }

  /** `perSource(i)` on rows of source `i`, NULL on sources it has no
    * entry for. Sources are tagged `0..N-1` and N is static: a CASE. */
  private def bySource(srcAs: String, perSource: Seq[Column]): Column =
    perSource.zipWithIndex.foldRight(lit(null): Column) { case ((c, i), rest) =>
      when(col(srcAs) === i, c).otherwise(rest)
    }

  /**
   * Zip (`ops/combine.py:219-261`): positional pairing on the per-key
   * occurrence index; inner semantics end at the shortest source.
   *
   * Encoding: tag + union, ONE window pass per key stamps each row's
   * per-source occurrence index (a running count of its own source's
   * rows), and ONE (key, index) aggregation pivots each pair onto a
   * single row (`max(when(src=...))` — exactly one row per
   * (key, index, source), so the "aggregate" is a deterministic pick).
   * The window's key exchange already clusters the pivot by key, so the
   * whole zip is one full-data exchange. Presence counters give the
   * inner-join cut without relying on payload nullability.
   */
  def zip(a: EventStream, b: EventStream, idxAs: String): EventStream = {
    val bCols = b.df.columns.diff(a.keys)
    // unionByName would SILENTLY merge a left column named `<c>_r` with
    // the renamed right `<c>` (data corruption, where the old join-based
    // encoding failed loudly on ambiguity) — so reject the collision.
    val clash = bCols.map(c => s"${c}_r").intersect(a.df.columns)
    require(clash.isEmpty,
      s"zip: left side already has column(s) ${clash.mkString(", ")} that " +
        "the renamed right side would silently merge into; rename them first")
    val bR = bCols.foldLeft(b.df)((d, c) => d.withColumnRenamed(c, s"${c}_r"))
    val u = a.df.withColumn("__zsrc", lit(0))
      .unionByName(bR.withColumn("__zsrc", lit(1)), allowMissingColumns = true)
    val wIdx = Window.partitionBy(a.keys.map(col): _*)
      .orderBy(coalesce(col(a.seqCol), col(s"${b.seqCol}_r")), col("__zsrc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seen = Seq(0, 1).map(s => count(when(col("__zsrc") === s, 1)).over(wIdx))
    val stamped = u.withColumn(idxAs, when(col("__zsrc") === 0, seen(0)).otherwise(seen(1)))
    val aData = a.df.columns.diff(a.keys)
    val aggs = (aData.map(c => max(when(col("__zsrc") === 0, col(c))).as(c)) ++
      bCols.map(c => max(when(col("__zsrc") === 1, col(s"${c}_r"))).as(s"${c}_r")) :+
      count(when(col("__zsrc") === 0, lit(1))).as("__za") :+
      count(when(col("__zsrc") === 1, lit(1))).as("__zb")).toSeq
    a.derive(stamped.groupBy((a.keys :+ idxAs).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("__za") === 1 && col("__zb") === 1)
      .drop("__za", "__zb"))
  }

  /**
   * Switch (`ops/combine.py:105-139`): a row passes iff its source holds
   * or steals activity; steal ⟺ the source's first emission. Golden test
   * `tests/combine_py:19-24`: [0, 100] ++ [200..209].
   *
   * Reduction to built-ins: the reference's scan state (the active
   * source) only CHANGES at steal rows — a row passing because its
   * source already holds activity rewrites the holder to itself, a
   * no-op. So the holder seen by any row is the last steal strictly
   * before it in scan order, and
   *
   *   pass = isFirst  OR  src = last(if(isFirst, src)) IGNORE NULLS
   *                       over (unbounded preceding → 1 before current)
   *
   * A row is its source's first emission exactly when no earlier row of
   * the same source exists in the (ts, src, seq) scan order — a running
   * count of that source's rows over the same frame, picked by `src`.
   * The first-emission mark, the holder and the output-seq stamp all
   * share one sort per key (built-in window aggregates, ~2× the
   * throughput of the equivalent custom Aggregator scan, whose per-row
   * typed-udaf boxing made q_switch the slowest combine query). Only
   * ever-active sources are ever REMOVED, so a non-active source that
   * emits is un-removed exactly when this is its first emission —
   * verified against the reference's switch/switchmap golden tests.
   */
  def switch(ss: Seq[EventStream], srcAs: String, outSeqAs: String): EventStream = {
    val h = ss.head
    val wt = Window.partitionBy(h.keys.map(col): _*)
      .orderBy(col(h.tsCol), col(srcAs), col(h.seqCol))
    val wBefore = wt.rowsBetween(Window.unboundedPreceding, -1)
    val seenBefore = bySource(srcAs,
      ss.indices.map(i => count(when(col(srcAs) === i, 1)).over(wBefore)))
    val holderBefore = last(when(col("__isfirst"), col(srcAs)), ignoreNulls = true).over(wBefore)
    h.derive(tagged(ss, srcAs)
      .withColumn("__isfirst", seenBefore === 0)
      .withColumn("__pass", col("__isfirst") || col(srcAs) === holderBefore)
      .filter(col("__pass")).drop("__pass", "__isfirst")
      .withColumn(outSeqAs, row_number().over(wt).cast("long")))
  }

  /**
   * Ziplatest (`ops/combine.py:264-302`): on any source's emit, the
   * latest value of every source. Union + running last(ignoreNulls) —
   * single sorted pass per key. `partial=false` drops un-primed rows.
   */
  def ziplatest(
      ss: Seq[EventStream], valueCol: String,
      outCols: Seq[String], partial: Boolean,
      srcAs: String): EventStream = {
    val h = ss.head
    val parts = ss.zipWithIndex.map { case (s, i) =>
      s.df.select(
        (s.keys.map(col) :+ col(s.tsCol).as(h.tsCol) :+ col(s.seqCol).as(h.seqCol)) :+
          col(valueCol).as(outCols(i)): _*)
        .withColumn(srcAs, lit(i))
    }
    val u = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val wt = Window.partitionBy(h.keys.map(col): _*)
      .orderBy(col(h.tsCol), col(srcAs), col(h.seqCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = outCols.foldLeft(u) { (d, c) =>
      d.withColumn(c, last_value(col(c), lit(true)).over(wt))
    }
    val primed =
      if (partial) filled
      else filled.filter(outCols.map(col(_).isNotNull).reduce(_ && _))
    h.derive(primed)
  }
}
