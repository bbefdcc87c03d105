package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, Trigger, ValueState}

/**
 * Structured Streaming variants of the eventkit surface (SURVEY.md §2.10).
 *
 * Batch is the semantic source of truth (every operator in
 * [[graft.engine.EventStream]] is defined over an already-ended stream);
 * this module adds the genuinely-streaming capabilities:
 *
 *  - `EventBus`   — the reference's `connect`/`emit` pub-sub surface
 *                   (`event.py:87-225`): injected rows flow through a
 *                   live query into per-batch listener callbacks.
 *  - Spark's own stateful operators wherever one computes the fold:
 *                   watermarked tumbling and session windows (ChunkWith,
 *                   sample, OHLC, sessions, and `debounceBursts` — a
 *                   burst is a session window), watermark dedup, and
 *                   stream-stream joins (the time-bounded join and the
 *                   MinHash candidate join over band buckets).
 *  - keyed scans  — every other stateful operator (throttle, the
 *                   combine family, the emap family, as-of, sketches,
 *                   anomaly) is one [[KeyedScan]] step.
 *
 * All state is keyed (by user, key or bucket), so streaming state
 * shards across executors exactly like the batch windows do.
 */
object Streaming {

  case class Ev(user_id: Long, tsUs: Long, value: Double)

  /**
   * Pub-sub bridge: `emit` injects rows (reference `Event.emit`), a
   * started query pushes them to the sink (reference listeners).
   */
  final class EventBus(spark: SparkSession) {
    import spark.implicits._
    private val mem = MemoryStream[Ev](spark, 1)

    def emit(rows: Ev*): Unit = mem.addData(rows)

    /** The live stream, typed (for keyed-state operators). */
    def eventsTyped: Dataset[Ev] = mem.toDS()

    /** The live stream as (seq-less) event-time rows. */
    def events: DataFrame = mem.toDF()
      .select(col("user_id"), timestamp_micros(col("tsUs")).as("ts"), col("value"))
  }

  /** Tumbling event-time window with watermark — ChunkWith's streaming
    * form (`ops/transform.py:179-211`). */
  def windowedCounts(events: DataFrame, window_ : String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /**
   * Live OHLC bars (tick stream → candles, the reference ecosystem's
   * headline reduction): tumbling event-time windows per key with
   * open/close picked by `min_by`/`max_by` over the (tsUs, seq)
   * order — declarative aggregates, so this runs as a NATIVE streaming
   * windowed aggregation (partial aggregation per micro-batch, state =
   * one row per open bar, bars finalize and evict at the watermark).
   * Expects columns (key, seq, tsUs, cents, ts); emits one row per
   * (key, window) with integer-cent OHLC + volume, the same bar the
   * batch q_ohlc_bars computes.
   */
  def ohlcBars(events: DataFrame, window_ : String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("key"))
      .agg(
        min_by(col("cents"), struct(col("tsUs"), col("seq"))).as("open_c"),
        max(col("cents")).as("high_c"), min(col("cents")).as("low_c"),
        max_by(col("cents"), struct(col("tsUs"), col("seq"))).as("close_c"),
        count(lit(1)).as("n"), sum(col("cents")).as("vol_c"))

  /**
   * Streaming Debounce (`ops/timing.py:67-101`), last of each burst:
   * a burst is a session window per user, emitted as its last row
   * re-stamped at burst end + gap — the batch
   * [[graft.engine.EventStream.debounce]] rule, where rows `gapSec` or
   * more apart start a new burst. Spark merges sessions that touch, so
   * the session gap is one microsecond short of `gapSec` and the emit
   * time adds it back. A burst emits once the watermark passes its end
   * (with a `0 seconds` watermark, at most one no-data micro-batch
   * later); a late row inside the watermark delay still joins its
   * burst. State is the open bursts only.
   */
  def debounceBursts(
      events: Dataset[Ev], gapSec: Double, watermark: String): Dataset[Ev] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = math.round(gapSec * 1e6)
    require(gapUs > 1, s"debounce gap must exceed 1 microsecond, got $gapSec s")
    events.withColumn("ts", timestamp_micros(col("tsUs")))
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), s"${gapUs - 1} microseconds"), col("user_id"))
      .agg(max_by(col("value"), col("tsUs")).as("value"))
      .select(col("user_id"), (unix_micros(col("session_window.end")) + 1).as("tsUs"),
        col("value"))
      .as[Ev]
  }

  /**
   * Streaming Sample (`ops/timing.py:187-211`): the latest value per key
   * as of each regular grid tick — a tumbling event-time window with
   * `max_by(value, ts)`, tick-stamped at window end. Deterministic
   * (event-time, watermark-bounded state), sharded per key; the batch
   * `EventStream.sample` computes the same thing against an explicit
   * timer stream.
   */
  def sampleGrid(events: DataFrame, interval: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), interval), col("user_id"))
      .agg(max_by(col("value"), col("ts")).as("value"))
      .select(col("window.end").as("ts"), col("user_id"), col("value"))

  /** The reference's `connect` surface (`event.py:87-140`): a listener
    * invoked per micro-batch of rows. Returns the started query; stop it
    * to disconnect. */
  def connect(events: DataFrame, listener: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], _: Long) => listener(batch.toDF()))
      .start()

  /**
   * The one keyed scan behind every `transformWithState` operator here —
   * eventkit's `Op` shape (`ops/op.py:49-57`: `on_source` updates the
   * operator's own state and emits), sharded by key. Per key and
   * micro-batch it reads the single `ValueState` `name` (`zero` when
   * absent), runs `step` over the batch's rows and writes the new state
   * back. Each operator's state name and type are its checkpoint layout:
   * changing either stops old checkpoints from restoring.
   *
   * Requires `spark.sql.streaming.stateStore.providerClass =
   * ...RocksDBStateStoreProvider` (transformWithState's backing store).
   */
  private[streaming] final class KeyedScan[K, I, S, O](name: String, stateEnc: Encoder[S],
      zero: S, step: (K, S, Iterator[I]) => (S, IterableOnce[O]))
      extends StatefulProcessor[K, I, O] {
    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](name, stateEnc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I], timers: TimerValues): Iterator[O] = {
      val (next, out) = step(key, if (st.exists()) st.get() else zero, rows)
      st.update(next)
      out.iterator
    }
  }

  /** The encoder `spark.implicits` derives for `T`: an agnostic one,
    * resolved where it is used. (A resolved `ExpressionEncoder` of a
    * Seq-typed state fails in `init` once shipped to an executor.) */
  private def enc[T: TypeTag]: Encoder[T] = ScalaReflection.encoderFor[T]

  /** Keyed scan, per batch: `step` merges a key's whole micro-batch. */
  private def scan[I, K: TypeTag, S: TypeTag, O: TypeTag](in: Dataset[I], name: String,
      zero: S, mode: OutputMode)(key: I => K)(
      step: (K, S, Iterator[I]) => (S, IterableOnce[O])): Dataset[O] =
    in.groupByKey(key)(enc[K]).transformWithState(
      new KeyedScan(name, enc[S], zero, step), TimeMode.None(), mode)(enc[O])

  /** Keyed scan, per row, in append mode: `step` folds a key's rows in
    * `order` within the micro-batch and emits at most one row each.
    * Across micro-batches, per-key ordered delivery is assumed. */
  private def scanRows[I, K: TypeTag, T: Ordering, S: TypeTag, O: TypeTag](
      in: Dataset[I], name: String, zero: S)(key: I => K, order: I => T)(
      step: (K, S, I) => (S, Option[O])): Dataset[O] =
    scan(in, name, zero, OutputMode.Append())(key) { (k, s0, rows) =>
      var s = s0
      val out = rows.toSeq.sortBy(order).flatMap { r =>
        val (next, o) = step(k, s, r); s = next; o }
      (s, out)
    }

  /**
   * Streaming Throttle (`ops/timing.py:104-184`): values are never
   * dropped; each row's timestamp is rewritten to when the per-key
   * sliding-window rate limiter (`maximum` per `intervalSec`) admits
   * it — the same admit function as the batch `EventStream.throttle`
   * scan ([[graft.functions.Aggregators.throttleAdmitUs]]). Its FIFO
   * clamp keeps `window` sorted ascending across micro-batches. State
   * is the bounded list of the last `maximum` admitted times.
   */
  def throttleStream(events: Dataset[Ev], maximum: Int, intervalSec: Double): Dataset[Ev] = {
    val intervalUs = math.round(intervalSec * 1e6)
    scanRows(events, "admitted", Seq.empty[Long])(_.user_id, _.tsUs) { (_, window, ev) =>
      val admitTs = graft.functions.Aggregators.throttleAdmitUs(window, ev.tsUs, maximum, intervalUs)
      ((window :+ admitTs).takeRight(maximum), Some(Ev(ev.user_id, admitTs, ev.value)))
    }
  }

  case class TaggedEv(user_id: Long, tsUs: Long, value: Double, src: Int)
  case class ZipOut(user_id: Long, idx: Long, a: Double, b: Double)
  case class ZipLatestOut(user_id: Long, tsUs: Long, a: Option[Double], b: Option[Double])

  /** The sources as one stream, each row tagged with its source's position. */
  private def tagged(sources: Seq[Dataset[Ev]]): Dataset[TaggedEv] =
    sources.zipWithIndex
      .map { case (s, i) => s.map(e => TaggedEv(e.user_id, e.tsUs, e.value, i))(enc[TaggedEv]) }
      .reduce(_ union _)

  /** Scan order of the combine family: event time, then source. */
  private def tsSrc(r: TaggedEv): (Long, Int) = (r.tsUs, r.src)

  /**
   * Streaming Merge (`ops/combine.py:97-102`): interleave N live
   * streams by arrival. In Structured Streaming this IS `union` — each
   * micro-batch emits whatever any source delivered, no state, no
   * shuffle; event-time ordering downstream comes from the usual
   * watermark machinery, exactly how the reference's merge defers
   * ordering to the consumer. Mergemap (`ops/transform.py` flatten of N
   * inner streams) reduces to the same union once the inner streams
   * exist, so this is the streaming path for both.
   */
  def mergeStream(sources: Seq[Dataset[Ev]]): Dataset[Ev] =
    sources.reduce(_ unionByName _)

  /**
   * Streaming Zip (`ops/combine.py:219-260`): pair the i-th event of
   * source A with the i-th event of source B, per key — the reference's
   * positional zip, sharded. State per key is the pair of pending
   * queues plus the running pair index; each incoming event appends to
   * its side's queue and every complete (head, head) pair is emitted
   * immediately, across micro-batch boundaries. Like the reference,
   * buffering is unbounded if one side stalls (zip's semantics require
   * it); state size equals the inter-stream lag, not history.
   */
  def zipStream(a: Dataset[Ev], b: Dataset[Ev]): Dataset[ZipOut] =
    scanRows(tagged(Seq(a, b)), "zipq", (Seq.empty[Double], Seq.empty[Double], 0L))(
        _.user_id, tsSrc) { case (key, (qa0, qb0, idx), r) =>
      val (qa, qb) = if (r.src == 0) (qa0 :+ r.value, qb0) else (qa0, qb0 :+ r.value)
      if (qa.nonEmpty && qb.nonEmpty)
        ((qa.tail, qb.tail, idx + 1), Some(ZipOut(key, idx, qa.head, qb.head)))
      else ((qa, qb, idx), None)
    }

  /**
   * Streaming Ziplatest (`ops/combine.py:262-302`): on every event from
   * either source emit the latest value of both, `None` standing in for
   * the reference's NO_VALUE until a side has emitted (`strict = true`
   * suppresses rows until both sides have a value — the reference's
   * `partial=False`). State per key is just the two latest values —
   * bounded regardless of history. Partial by default.
   */
  def ziplatestStream(a: Dataset[Ev], b: Dataset[Ev],
      strict: Boolean = false): Dataset[ZipLatestOut] =
    scanRows(tagged(Seq(a, b)), "latest", (Option.empty[Double], Option.empty[Double]))(
        _.user_id, tsSrc) { case (key, (la0, lb0), r) =>
      val (la, lb) = if (r.src == 0) (Some(r.value), lb0) else (la0, Some(r.value))
      ((la, lb), Option.when(!strict || (la.isDefined && lb.isDefined))(
        ZipLatestOut(key, r.tsUs, la, lb)))
    }

  /**
   * Streaming Switch (`ops/combine.py:104-139`) over N live sources
   * (source index = position): events pass only from the
   * currently-active one; a source's FIRST emission steals activity,
   * and the displaced source is removed permanently. Same reduction as
   * the batch [[graft.engine.EventStream.switch]]: "src was never seen"
   * ⇔ "this emission un-removes it", so state per key is just the
   * active source id plus the ever-seen set — O(#sources), independent
   * of event count.
   */
  def switchStream(sources: Seq[Dataset[Ev]]): Dataset[TaggedEv] =
    scanRows(tagged(sources), "switch", (Long.MinValue, Seq.empty[Int]))(_.user_id, tsSrc) {
      case (_, (active, seen), r) =>
        val unseen = !seen.contains(r.src)
        if (r.src == active || unseen)
          ((r.src.toLong, if (unseen) seen :+ r.src else seen), Some(r))
        else ((active, seen), None)
    }

  /**
   * Streaming Concat (`ops/combine.py:142-174`) over N live sources
   * (source index = position): when a later source emits its first
   * event, every earlier source is disconnected permanently. Live form
   * of the batch kill-boundary encoding
   * ([[graft.engine.EventStream.concat]]): state per key is the
   * first-emission event time of each source seen so far (bounded by
   * the source count, not history), and a row of source i passes iff
   * `ts <= kill(i)` where kill(i) = min first-emission time over
   * sources j > i — the SAME rule the batch operator evaluates, so an
   * event-time-earlier row of a lower source arriving in a LATER
   * micro-batch than its killer still passes (a row at the kill
   * instant passes too, identical to the batch tie rule). The one
   * residual append-mode divergence: rows already emitted cannot be
   * retracted if a killer's true first emission itself arrives late
   * with a smaller event time than anything seen before.
   */
  def concatStream(sources: Seq[Dataset[Ev]]): Dataset[TaggedEv] =
    scanRows(tagged(sources), "concat", Seq.empty[(Int, Long)])(_.user_id, tsSrc) {
      (_, firsts, r) =>
        val kill = firsts.collect { case (s, t) if s > r.src => t }
        (firstAt(firsts, r.src, r.tsUs), Option.when(kill.isEmpty || r.tsUs <= kill.min)(r))
    }

  /** `firsts` with `id`'s first-emission time lowered to `ts`, or `id`
    * appended when unseen. */
  private def firstAt[A](firsts: Seq[(A, Long)], id: A, ts: Long): Seq[(A, Long)] =
    firsts.indexWhere(_._1 == id) match {
      case -1 => firsts :+ (id -> ts)
      case i => firsts.updated(i, id -> math.min(firsts(i)._2, ts))
    }

  case class SpawnedEv(user_id: Long, tsUs: Long, pseq: Long, j: Long, c: String)
  case class MergedChild(user_id: Long, tsUs: Long, pseq: Long, c: String,
      outseq: Long)

  // ================= streaming higher-order (emap family) =================
  // Each live parent row spawns a bounded child sequence on the executor
  // (`flatMap` — fully parallel, stateless, the live analogue of the
  // batch explode); a keyed small-state scan then applies the family's
  // join rule (`ops/transform.py:291-346`). Per-key event-time-ordered
  // delivery across micro-batches is assumed (as for [[concatStream]])
  // — append mode cannot retract already-emitted children.

  /**
   * Streaming Mergemap (`ops/transform.py:321-325`): children of all
   * parents interleave in child event-time order — the same
   * (child_ts, parent_seq) rule the batch
   * [[graft.engine.EventStream.emapMerge]] window evaluates. State per
   * key is ONE counter.
   */
  def mergemapStream(parents: Dataset[Ev],
      spawn: Ev => Seq[SpawnedEv]): Dataset[MergedChild] =
    spawnSeq(parents, spawn, r => (r.tsUs, r.pseq, r.j))

  /**
   * Streaming Chainmap (`ops/transform.py:328-332`): child stream i is
   * drained fully before i+1 — batch order (parent_seq, child_idx)
   * ([[graft.engine.EventStream.emapChain]]). With bounded spawns a
   * parent's children all arrive with it, so the chain order is exact
   * whenever parents arrive in creation order.
   */
  def chainmapStream(parents: Dataset[Ev],
      spawn: Ev => Seq[SpawnedEv]): Dataset[MergedChild] =
    spawnSeq(parents, spawn, r => (r.pseq, r.j, r.tsUs))

  /**
   * Streaming Concatmap (`ops/transform.py:335-339`): child k is
   * disconnected at the first emission of ANY later child — a row
   * passes iff `ts <= kill(k)` where kill(k) = min first-child-emission
   * time over parents q > k, the batch
   * [[graft.engine.EventStream.emapConcat]] rule (a row at the kill
   * instant passes). State per key: four longs ([[spawnKill]]).
   */
  def concatmapStream(parents: Dataset[Ev],
      spawn: Ev => Seq[SpawnedEv]): Dataset[MergedChild] =
    spawnKill(parents, spawn)

  /**
   * Streaming Switchmap (`ops/transform.py:342-346`): the batch
   * encoding ([[graft.engine.EventStream.emapSwitch]]) — child k is
   * truncated at the NEXT parent's first child emission (`ts <= nxt`
   * passes; valid when children first emit at creation, the reference's
   * shape). In that shape first emissions rise with the parent seq, so
   * the next parent's first emission IS the min over all later ones and
   * the live operator is [[concatmapStream]]'s. Divergence note shared
   * with batch: a parent that spawns NOTHING leaves the previous child
   * untruncated in the batch encoding; live, an empty spawn simply
   * never registers, so the kill falls through to the next spawning
   * parent — avoid empty spawns.
   */
  def switchmapStream(parents: Dataset[Ev],
      spawn: Ev => Seq[SpawnedEv]): Dataset[MergedChild] =
    spawnKill(parents, spawn)

  /** Keyed running output counter over `order`-sorted spawned children
    * — the sequencing half shared by merge/chain. */
  private def spawnSeq(parents: Dataset[Ev], spawn: Ev => Seq[SpawnedEv],
      order: SpawnedEv => (Long, Long, Long)): Dataset[MergedChild] =
    scanRows(parents.flatMap(spawn(_))(enc[SpawnedEv]), "spawnseq", 0L)(_.user_id, order) {
      (_, n, r) => (n + 1, Some(MergedChild(r.user_id, r.tsUs, r.pseq, r.c, n + 1)))
    }

  /** Kill-boundary filter + output counter for concatmap/switchmap.
    * Rows arrive per key in (ts, pseq, j) order, so every registered
    * first emission is at or before the frontier (the latest event
    * time seen), and a parent below one that emitted BEFORE the
    * frontier is dead for good. A row of parent p therefore passes iff
    * no higher parent emitted before the frontier and, unless the row
    * sits at the frontier (the batch `<=` tie rule), none emitted at it
    * either. State: (largest pseq seen before the frontier, frontier
    * ts, largest pseq seen at it, output counter) — flat in the number
    * of parents. A late row (ts below the frontier) is judged as if at
    * the frontier. */
  private def spawnKill(parents: Dataset[Ev],
      spawn: Ev => Seq[SpawnedEv]): Dataset[MergedChild] =
    scanRows(parents.flatMap(spawn(_))(enc[SpawnedEv]), "killfront",
        (Long.MinValue, Long.MinValue, Long.MinValue, 0L))(_.user_id, r => (r.tsUs, r.pseq, r.j)) {
      case (_, (before, front, atFront, n), r) =>
        val (b, f, a) =
          if (r.tsUs > front) (math.max(before, atFront), r.tsUs, r.pseq)
          else if (r.tsUs == front) (before, front, math.max(atFront, r.pseq))
          else (math.max(before, r.pseq), front, atFront)
        if (before <= r.pseq && (r.tsUs <= front || atFront <= r.pseq))
          ((b, f, a, n + 1), Some(MergedChild(r.user_id, r.tsUs, r.pseq, r.c, n + 1)))
        else ((b, f, a, n), None)
    }

  case class AsofOut(user_id: Long, tsUs: Long, value: Double,
      asof_ts: Option[Long], asof_value: Option[Double])

  /**
   * Streaming as-of join ([[graft.engine.AsofJoin]] live form): stamp
   * each event of a query stream with the most recent value of a
   * slowly-changing reference stream for the same key and
   * `ref.ts <= event.ts` (inclusive, LEFT semantics — no reference yet
   * ⇒ None). The training-pipeline join at serving time: events stamped
   * with the prevailing model version / config / quote.
   *
   * State per key is the reference history pruned to what future events
   * can still need: after stamping an event at time t, every reference
   * row strictly older than the match is discarded (per-key event-time
   * ordered delivery across micro-batches is assumed, as for a
   * changelog; within a batch rows are sorted, reference-before-event
   * at equal timestamps). So state holds the lag between the two
   * streams, not history.
   */
  def asofStream(events: Dataset[Ev], refs: Dataset[Ev]): Dataset[AsofOut] =
    // history sorted ascending by ts; src 0 = reference, src 1 = query
    scanRows(tagged(Seq(refs, events)), "refs", Seq.empty[(Long, Double)])(_.user_id, tsSrc) {
      case (_, hist, r) if r.src == 0 =>
        // stable ordered insert: a tie lands after the rows already held
        val (lo, hi) = hist.span(_._1 <= r.tsUs)
        (lo ++ ((r.tsUs, r.value) +: hi), None)
      case (key, hist, r) =>
        val m = hist.filter(_._1 <= r.tsUs).lastOption
        // older references can never match a later (ordered) event
        (m.fold(hist)(hit => hist.dropWhile(_._1 < hit._1)),
          Some(AsofOut(key, r.tsUs, r.value, m.map(_._1), m.map(_._2))))
    }

  /**
   * Streaming exact dedup: drop rows whose `keyCols` were already seen
   * within the watermark horizon — the streaming form of the dedup
   * family (q_dedup_exact), e.g. suppressing re-crawled documents by
   * content hash. `dropDuplicatesWithinWatermark` keys RocksDB state by
   * the dedup columns and EVICTS entries older than the watermark, so
   * state is bounded by the horizon (a bare dropDuplicates would grow
   * forever on an unbounded stream).
   */
  def dedupStream(events: DataFrame, keyCols: Seq[String], tsCol: String,
      watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /**
   * Streaming sessionization — the live form of `q_sessionize`:
   * `session_window(ts, gap)` merges events whose gaps stay under
   * `gap` into one growing window per key; the watermark closes (and
   * evicts) sessions once event time passes their end, so state is
   * bounded by the number of OPEN sessions, not history.
   */
  def sessionize(events: DataFrame, gap: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  case class DocEv(doc_id: Long, text: String)
  case class CandPair(a: Long, b: Long)

  /**
   * Streaming MinHash near-dup candidates — the live form of
   * `q_dedup_minhash`: the batch band rows
   * ([[graft.text.TextOps.lshBandsArr]] over
   * [[graft.text.TextOps.minhashSigArray]], the same codegen kernels)
   * self-joined on `(band, key)` with `a < b` — a stream-stream join
   * over signature buckets, so a pair emits in the micro-batch where
   * its second document lands. The join state holds every band row
   * seen (no eviction). A pair colliding in more than one band, or a
   * doc id delivered twice, emits more than once: a downstream
   * `dropDuplicates` dedups pairs, like the batch path's distinct.
   */
  def minhashCandStream(docs: Dataset[DocEv], k: Int, numHashes: Int,
      numBands: Int, rowsPerBand: Int): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.text.TextOps
    val bands = TextOps.lshBandsArr(
      TextOps.minhashSigArray(docs.toDF(), "doc_id", "text", k, numHashes),
      "doc_id", numBands, rowsPerBand)
    val b = bands.select(col("doc_id").as("b"), col("band").as("b_band"), col("key").as("b_key"))
    bands.join(b, col("band") === col("b_band") && col("key") === col("b_key") &&
        col("doc_id") < col("b"))
      .select(col("doc_id").as("a"), col("b"))
      .as[CandPair]
  }

  /**
   * Streaming IVF serving + drift monitoring — the LIVE half of the
   * index lifecycle that [[graft.ml.Similarity.kmeansCentroids]]
   * (train, sampled) / `ivfAssignFromCentroids` (batch assign) /
   * `ivfIncremental` (batch append) cover offline. Incoming vectors
   * are assigned to their nearest trained cell in a STATELESS
   * broadcast-centroid projection (streams as-is, no state), carrying
   * the integer squared residual norm against the training-time cell
   * mean — so a downstream windowed aggregate is a live drift monitor
   * (mean residual norm per cell per window rising above the
   * training-time baseline = retrain alarm), and the assignment rows
   * themselves are the live posting updates an index sink appends.
   *
   * `cents` and `mu` are COLLECTED index artifacts (nCells rows) —
   * the same constant-size tables the batch paths ship; they ride
   * into the stream as driver-resident structures, exactly like the
   * ADC tables ([[graft.functions.AdcLookup]]).
   *
   * @param vecs  streaming (idCol, vecCol: array<float>, ts)
   * @param cents trained centroids (cid, cq) — BATCH frame, collected
   * @param mu    training-time floor-integer cell means (cell, mu) —
   *              BATCH frame, collected
   * @param keepVec when true the output also carries `vecCol` — the
   *                shape a postings SINK appends (serving needs the
   *                vector next to its cell); the default drops it (a
   *                drift monitor needs only the residual)
   * @return streaming (idCol, ts, cell, rsq[, vecCol]) — home-cell
   *         assignment + integer squared residual norm vs the
   *         training mean
   */
  def ivfAssignStream(vecs: DataFrame, idCol: String, vecCol: String,
      tsCol: String, cents: DataFrame, mu: DataFrame,
      keepVec: Boolean = false): DataFrame = {
    import graft.ml.Similarity
    val centRows = cents.select(col("cid"), col("cq")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    // complete the mean map with the centroid fallback (the
    // [[graft.ml.Similarity.ivfCellMeans]] contract) so a live vector
    // landing in a memberless cell still carries a real residual —
    // out-of-distribution rows are exactly the drift evidence a
    // monitor must count, not NULL silently out of the window average
    val muMember = mu.select(col("cell"), col("mu")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val muLit = typedlit(centRows.map { case (cid, cq) =>
      cid -> muMember.getOrElse(cid, cq) }.toMap)
    val q = Similarity.quantize(col(vecCol))
    // nearest cell by the same score/tie-break as the batch assigner:
    // dot(q, cq)/||cq|| DESC, cid ASC — the shared array-backed matrix
    // kernel ([[graft.functions.NearestCells]]), stateless per row.
    // The centroid matrix and its precomputed norms ride OUTSIDE the
    // plan as driver-resident arrays (the AdcLookup reference-object
    // discipline): ONE plan node at any cell count, where the round-9
    // per-centroid fold built O(nCells) expression nodes and stopped
    // planning in bounded time past a few hundred cells. An all-zero
    // centroid scores 0 for every vector (kernel guard) instead of 0/0.
    val centArr = centRows.toSeq.map { case (cid, cq) =>
      cid -> cq.map(_.toDouble).toArray }
    val best = element_at(graft.functions.VectorFunctions
      .nearestCells(q, centArr, 1), 1)
    val keep = if (keepVec) Seq(col(vecCol)) else Nil
    vecs
      .select(Seq(col(idCol), col(tsCol), q.as("__q"), best.as("cell")) ++ keep: _*)
      .select(Seq(col(idCol), col(tsCol), col("cell"),
        aggregate(zip_with(col("__q"), element_at(muLit, col("cell")),
          (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x).as("rsq"))
        ++ keep: _*)
  }

  /** Live retrain alarm over [[ivfAssignStream]] output — the
    * streaming half of `ivfIncremental`'s drift metric: per-cell
    * windowed mean residual, alarmed when it exceeds `alarmFactor` ×
    * the cell's TRAINING-time base mean squared residual (`baseMsr` =
    * sq_base/n_base, the constant-size artifact the batch path
    * divides by — persisted with the centroids). A cell with no base
    * statistic alarms on ANY activity: live rows landing where the
    * training corpus had nothing are themselves drift evidence.
    * `tsCol` must be a timestamp; emits (window, cell, n, mean_rsq,
    * base_msr, alarm). */
  def ivfDriftMonitor(assigned: DataFrame, tsCol: String,
      windowDur: String, baseMsr: Map[Long, Double],
      alarmFactor: Double): DataFrame = {
    val baseLit = typedlit(baseMsr)
    assigned
      .withWatermark(tsCol, windowDur)
      .groupBy(window(col(tsCol), windowDur).as("w"), col("cell"))
      .agg(count(lit(1)).as("n"), avg(col("rsq")).as("mean_rsq"))
      .withColumn("base_msr", element_at(baseLit, col("cell")))
      .withColumn("alarm",
        coalesce(col("mean_rsq") > col("base_msr") * alarmFactor, lit(true)))
  }

  case class SketchIn(group: String, sid: Long)
  case class HllReg(group: String, idx: Long, mrho: Int)
  case class CmsUpd(r: Int, b: Long, wt: Long)

  /**
   * Live HyperLogLog register maintenance — the streaming form of
   * [[graft.text.Sketches.hllRegisters]]. The stream is keyed by
   * (group, register), so state per key is ONE integer (the max rho);
   * registers only ever grow, and an update-mode row is emitted only
   * when a register actually moves — after the initial ramp, a
   * near-duplicate-heavy stream goes quiet on its own. This is the
   * merge law run incrementally: every micro-batch is "merge the
   * batch's partial register file into the standing one", which
   * PropertySpec proves equals recomputing over history. State is
   * bounded by groups × 64 forever — no watermark needed, nothing to
   * evict. The rho arithmetic is the same mix-hash / binary-length
   * sequence as the batch Column kernel (parity-tested).
   */
  def hllRegisterStream(rows: Dataset[SketchIn]): Dataset[HllReg] = {
    val regs = rows.map { x =>
      val h = (x.sid * 2654435761L + 104729L) & 0xFFFFFFFFL
      val sfx = h >> 6
      val rho =
        if (sfx == 0L) 27 else 27 - java.lang.Long.toBinaryString(sfx).length
      HllReg(x.group, h % 64, rho)
    }(enc[HllReg])
    scan(regs, "mrho", Int.MinValue, OutputMode.Update())(r => (r.group, r.idx)) {
      case ((group, idx), cur, batch) =>
        val merged = math.max(cur, batch.map(_.mrho).max)
        (merged, Option.when(merged > cur)(HllReg(group, idx, merged)))
    }
  }

  /**
   * Live count-min grid maintenance — the streaming form of
   * [[graft.text.Sketches.cmsGrid]]. Each fingerprint fans out to its
   * D (row, bucket) cells executor-side; the stream is keyed by CELL,
   * so state per key is one counter and the hottest token only ever
   * heats D counters, not a key group. Update mode emits the new cell
   * value each time it moves; the latest row per cell IS the grid
   * (cell-wise-sum merge law, run incrementally).
   */
  def cmsCellStream(fps: Dataset[(Long, Long)], w: Int,
      a: Seq[Long], b: Seq[Long]): Dataset[CmsUpd] = {
    val cells = fps.flatMap { case (fp, wt) =>
      a.indices.map(j => CmsUpd(j, (fp * a(j) + b(j)) % 1000003L % w, wt))
    }(enc[CmsUpd])
    scan(cells, "cell", 0L, OutputMode.Update())(c => (c.r, c.b)) {
      case ((r, b), cur, batch) =>
        val total = cur + batch.map(_.wt).sum
        (total, Some(CmsUpd(r, b, total)))
    }
  }

  case class DayCount(event_type: String, day: Long, n: Long)
  case class DayFlag(event_type: String, day: Long, n: Long, is_anomaly: Boolean)

  /**
   * Live daily-volume anomaly monitor — the streaming form of
   * `q_anomaly_days`, with the SAME cross-multiplied integer 2-sigma
   * test ((x·D − S)² > 4·(D·Q − S²), no division or sqrt). Semantics
   * are PREQUENTIAL by design: each day is judged against the stats of
   * days seen SO FAR (including itself, matching the batch formula's
   * treatment of the flagged cell), because a live monitor cannot see
   * the future — whereas the batch query re-judges every day against
   * full history. State per event type is three integers (count, sum,
   * sum of squares); days are processed in day order within a batch,
   * and per-key in-order delivery across batches is assumed, like the
   * other keyed scans here.
   */
  def anomalyStream(days: Dataset[DayCount]): Dataset[DayFlag] =
    scanRows(days, "volstats", (0L, 0L, 0L))(_.event_type, _.day) {
      case (key, (nd0, sv0, qv0), r) =>
        val (nd, sv, qv) = (nd0 + 1, sv0 + r.n, qv0 + r.n * r.n)
        val dev = r.n * nd - sv
        ((nd, sv, qv), Some(DayFlag(key, r.day, r.n, dev * dev > 4L * (nd * qv - sv * sv))))
    }

  case class WindowJoinOut(user_id: Long, l_tsUs: Long, l_value: Double,
      r_tsUs: Option[Long], r_value: Option[Double])

  /**
   * Live time-bounded stream-stream join — the streaming form of the
   * batch point-in-interval join (graft.engine.IntervalJoin /
   * q_join_interval) and the ad-tech attribution shape: every `right`
   * row landing within `[left.ts, left.ts + horizonSec]` of a same-key
   * `left` row emits a pair. This is Spark's NATIVE stream-stream
   * equi-join with an event-time range condition — no custom state:
   * the range bound plus the watermark lets Spark evict left rows once
   * the watermark passes ts + horizon and right rows at the watermark,
   * so state is bounded by the horizon, not history. Inner-join
   * emission itself never waits on the watermark, so pairs straddling
   * micro-batches appear as soon as both sides have arrived.
   *
   * `joinType = "left_outer"` adds the attribution "no conversion"
   * rows: a left row whose horizon closes with no match emits once,
   * null-padded, when the watermark passes ts + horizon (outer rows
   * MUST wait for the watermark — that is what proves no match can
   * still arrive).
   */
  def windowJoinStream(left: Dataset[Ev], right: Dataset[Ev],
      horizonSec: Long, watermark: String,
      joinType: String = "inner"): Dataset[WindowJoinOut] = {
    val spark = left.sparkSession
    import spark.implicits._
    val l = left.select(col("user_id"),
        timestamp_micros(col("tsUs")).as("l_ts"), col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_uid"),
        timestamp_micros(col("tsUs")).as("r_ts"), col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r, col("user_id") === col("r_uid") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizonSec SECOND"),
        joinType)
      .select(col("user_id"), unix_micros(col("l_ts")).as("l_tsUs"), col("l_value"),
        unix_micros(col("r_ts")).as("r_tsUs"), col("r_value"))
      .as[WindowJoinOut]
  }

  /**
   * Streaming Errors (`ops/misc.py:5-14`): split a stream carrying an
   * error side-channel into a MAIN output and a DEAD-LETTER output with
   * ONE pass per micro-batch — the foreachBatch analogue of the
   * reference's `error_event` tap and of the batch `q_errors`
   * dead-letter filter. The batch is persisted so the two filters scan
   * it once each from cache, not twice from source.
   *
   * Every input row lands in EXACTLY one output: a NULL predicate
   * (e.g. a nullable error column) routes to `main` — `filter(p)` and
   * `filter(!p)` both exclude NULL-predicate rows, so splitting on the
   * raw predicate would silently drop them from both sinks.
   *
   * @param isError    predicate marking dead-letter rows (NULL = not
   *                   an error)
   * @param main       sink for non-error rows (per micro-batch)
   * @param deadLetter sink for error rows (per micro-batch)
   */
  def errorSplit(events: DataFrame, isError: org.apache.spark.sql.Column,
      main: DataFrame => Unit, deadLetter: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val err = coalesce(isError, lit(false))
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF().persist()
        try {
          deadLetter(b.filter(err))
          main(b.filter(!err))
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /**
   * Streaming EndOnError (`ops/misc.py:17-27`): pass rows through until
   * the FIRST error row (in `seqCol` order), emit nothing afterwards,
   * and surface the trip so the caller can stop the query — the
   * reference disconnects from its source and re-emits the error; a
   * structured stream cannot stop itself from inside foreachBatch, so
   * the returned latch is the `error_event`.
   *
   * Within the tripping micro-batch, rows strictly before the first
   * error pass (same cut as the batch `takeWhile` encoding); later
   * micro-batches are dropped entirely.
   *
   * @return (query, tripped) — `tripped` flips exactly once, on the
   *         batch containing the first error
   */
  def endOnError(events: DataFrame, isError: org.apache.spark.sql.Column, seqCol: String,
      main: DataFrame => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         java.util.concurrent.atomic.AtomicBoolean) = {
    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!tripped.get()) {
          val b = batch.toDF().persist()
          try {
            val firstErr = b.filter(isError)
              .agg(min(col(seqCol))).head().get(0)
            firstErr match {
              case null => main(b)
              case s =>
                main(b.filter(col(seqCol) < lit(s)))
                tripped.set(true)
            }
          } finally { b.unpersist(); () }
        }
      }
      .start()
    (q, tripped)
  }

  /** Drive a streaming DataFrame to completion into an in-memory table
    * and return the result — the batch-parity harness used in tests. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }
}
