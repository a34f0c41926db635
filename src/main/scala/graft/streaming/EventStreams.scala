package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  ListState, MapState, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming mode over event tables — the north-star extension
  * the reference never had (its "streaming" was repeated batch over a
  * growing log, SURVEY.md §1.1): true event-time windows with watermarks,
  * and stateful sessionization.
  *
  * Late-data policy (documented per SURVEY.md §7 "what's hard"): events
  * later than the watermark are DROPPED by the windowed aggregations
  * (Spark's semantics); the watermark delay is the knob. At 100 TB-scale
  * ingest these are shuffle-on-(window,key) plans whose state store is
  * bounded by the watermark horizon.
  */
object EventStreams {

  /** Tumbling (or sliding, when `slide` is given) windowed counts/sums per
    * event_type. Works identically over batch and streaming frames.
    */
  def windowedStats(events: DataFrame, tsCol: String, watermark: String,
                    windowDur: String, slide: Option[String] = None): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(
        window(col(tsCol), windowDur, slide.getOrElse(windowDur)),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Built-in gap-based session windows per user. */
  def sessionStats(events: DataFrame, tsCol: String, watermark: String,
                   gap: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"))

  /** Streaming exact dedup on business key within the watermark horizon —
    * the streaming face of the dedup family (state is bounded by the
    * watermark, unlike plain dropDuplicates whose state grows forever).
    */
  def dedupedStream(events: DataFrame, tsCol: String, watermark: String,
                    keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream inner join with event-time bounds: each click joined to
    * the same user's errors within `windowSec` BEFORE it. Both sides'
    * state stores are bounded by watermark + the time-range condition.
    */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame, watermark: String,
                     windowSec: Long): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("click_ts"))
    val e = errors.withWatermark("ts", watermark)
      .select(col("user_id").as("e_user"), col("ts").as("err_ts"))
    c.join(e,
      col("user_id") === col("e_user")
        && col("err_ts") >= col("click_ts") - expr(s"INTERVAL $windowSec SECONDS")
        && col("err_ts") <= col("click_ts"))
      .select(col("user_id"), col("click_ts"), col("err_ts"))
  }

  final case class Event(user_id: Long, event_type: String, ts: Timestamp, value: Double)

  final case class Session(
      user_id: Long, start: Timestamp, end: Timestamp, n_events: Long, total_value: Double)

  /** State buffer for [[sessionize]] (public: the state encoder's generated
    * code must reach the constructor and accessors).
    */
  final case class SessionBuf(startMs: Long, lastMs: Long, n: Long, total: Double)

  /** Custom stateful sessionization via `flatMapGroupsWithState` with
    * event-time timeout: a session closes `gapMs` after its last event
    * (by watermark), then emits exactly once (Append mode). This is the
    * KeyValueGroupedDataset state API the built-in `session_window` can't
    * express custom per-session aggregates through.
    *
    * Known limitation (Append-mode trade-off): past sessions emit as soon
    * as the batch that completes them is processed, so a very-late burst
    * SPLIT ACROSS batches (events above the watermark, each within a gap of
    * an already-emitted past session) can emit as multiple fragments. Only
    * the single open session per key is retained in state; holding all
    * sessions until the watermark passes would fix this at the cost of a
    * list-state model. The watermark bounds how late such events can be.
    */
  def sessionize(events: Dataset[Event], gapMs: Long, watermark: String = "10 seconds")
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionBuf]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.startMs),
              new Timestamp(s.lastMs), s.n, s.total))
          } else {
            // 1. sessionize this batch's (sorted) events on their own
            val built = scala.collection.mutable.ArrayBuffer.empty[SessionBuf]
            evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              built.lastOption match {
                case Some(b) if t - b.lastMs <= gapMs =>
                  built(built.length - 1) =
                    b.copy(lastMs = t, n = b.n + 1, total = b.total + e.value)
                case _ => built += SessionBuf(t, t, 1, e.value)
              }
            }
            // 2. merge the carried open session and the batch sessions as
            // gap-separated intervals (sorted by start, so late events above
            // the watermark extend sessions downward instead of fragmenting
            // them); the LATEST merged interval stays open — it may still
            // grow — and every earlier one is complete and emits now
            val merged = scala.collection.mutable.ArrayBuffer.empty[SessionBuf]
            (state.getOption.toSeq ++ built).sortBy(s => (s.startMs, s.lastMs)).foreach { s =>
              merged.lastOption match {
                case Some(b) if s.startMs <= b.lastMs + gapMs =>
                  merged(merged.length - 1) = SessionBuf(
                    math.min(b.startMs, s.startMs), math.max(b.lastMs, s.lastMs),
                    b.n + s.n, b.total + s.total)
                case _ => merged += s
              }
            }
            val open = merged.last
            state.update(open)
            state.setTimeoutTimestamp(open.lastMs + gapMs)
            merged.init.iterator.map(s => Session(userId,
              new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n, s.total))
          }
      }
  }

  /** [[sessionize]] re-expressed on Spark 4's state-v2 API
    * (`transformWithState` + [[SessionProcessor]]): same semantics, same
    * oracle — but the state lives in named RocksDB column families with
    * EXPLICIT event-time timers instead of the single implicit fMGWS
    * timeout. The v2 API is the production path at 100 TB state: RocksDB
    * spills state off-heap (fMGWS's HDFS-backed store is JVM-heap-bound),
    * changelog checkpointing ships per-batch deltas instead of full
    * snapshots, and a processor can compose several typed state variables
    * (value/list/map, optional TTL) per key where fMGWS forces one blob.
    */
  def sessionizeV2(events: Dataset[Event], gapMs: Long, watermark: String = "10 seconds")
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** State-v2 sessionization processor. The per-batch merge logic is the
    * same as [[sessionize]]'s (and shares its append-mode fragment
    * caveat); the lifecycle differs: the open session is a named
    * `ValueState`, and closure is an explicit event-time timer at
    * `lastMs + gapMs` that we re-arm on every extending batch —
    * `handleExpiredTimer` then emits exactly once and clears the state.
    */
  /** Shared by [[SessionProcessor]] and [[SessionProcessorSeeded]]: fold a
    * batch's events into gap-sessions, then merge with the carried open
    * session as gap-separated sorted intervals (late-above-watermark
    * events extend sessions instead of fragmenting them). The LAST merged
    * interval is still open; every earlier one is complete.
    */
  private def foldAndMerge(carried: Seq[SessionBuf], rows: Iterator[Event],
                           gapMs: Long): scala.collection.mutable.ArrayBuffer[SessionBuf] = {
    val built = scala.collection.mutable.ArrayBuffer.empty[SessionBuf]
    rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      built.lastOption match {
        case Some(b) if t - b.lastMs <= gapMs =>
          built(built.length - 1) =
            b.copy(lastMs = t, n = b.n + 1, total = b.total + e.value)
        case _ => built += SessionBuf(t, t, 1, e.value)
      }
    }
    val merged = scala.collection.mutable.ArrayBuffer.empty[SessionBuf]
    (carried ++ built).sortBy(s => (s.startMs, s.lastMs)).foreach { s =>
      merged.lastOption match {
        case Some(b) if s.startMs <= b.lastMs + gapMs =>
          merged(merged.length - 1) = SessionBuf(
            math.min(b.startMs, s.startMs), math.max(b.lastMs, s.lastMs),
            b.n + s.n, b.total + s.total)
        case _ => merged += s
      }
    }
    merged
  }

  final class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var open: ValueState[SessionBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessionBuf](
        "open", Encoders.product[SessionBuf], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[Session] = {
      val carried = if (open.exists()) Seq(open.get()) else Seq.empty
      val merged = foldAndMerge(carried, rows, gapMs)
      val stillOpen = merged.last
      open.update(stillOpen)
      // one armed timer per key: re-arm to the open session's new horizon
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(stillOpen.lastMs + gapMs)
      merged.init.iterator.map(s => Session(userId,
        new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n, s.total))
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      if (!open.exists()) Iterator.empty
      else {
        val s = open.get()
        open.clear()
        Iterator.single(Session(userId, new Timestamp(s.startMs),
          new Timestamp(s.lastMs), s.n, s.total))
      }
    }
  }

  /** [[SessionProcessor]] with WARM-STARTED state
    * (`StatefulProcessorWithInitialState`): before any input,
    * `handleInitialState` seeds each key's open session from a
    * batch-computed dataset and arms its eviction timer — the production
    * bootstrap/migration path (start a streaming job mid-history with
    * state computed by a batch backfill, instead of replaying the entire
    * log through the stream). Identical semantics after the seed.
    */
  final class SessionProcessorSeeded(gapMs: Long)
      extends StatefulProcessorWithInitialState[Long, Event, Session, SessionBuf] {
    @transient private var open: ValueState[SessionBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessionBuf](
        "open", Encoders.product[SessionBuf], TTLConfig.NONE)

    override def handleInitialState(userId: Long, initial: SessionBuf,
                                    timerValues: TimerValues): Unit = {
      open.update(initial)
      getHandle.registerTimer(initial.lastMs + gapMs)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[Session] = {
      val carried = if (open.exists()) Seq(open.get()) else Seq.empty
      val merged = foldAndMerge(carried, rows, gapMs)
      val stillOpen = merged.last
      open.update(stillOpen)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(stillOpen.lastMs + gapMs)
      merged.init.iterator.map(s => Session(userId,
        new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n, s.total))
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      if (!open.exists()) Iterator.empty
      else {
        val s = open.get()
        open.clear()
        Iterator.single(Session(userId, new Timestamp(s.startMs),
          new Timestamp(s.lastMs), s.n, s.total))
      }
    }
  }

  /** [[sessionizeV2]] warm-started from batch-computed per-key open
    * sessions. Emits ONLY stream-side sessions; the caller unions the
    * batch-closed ones.
    */
  def sessionizeV2Seeded(events: Dataset[Event],
                         initial: org.apache.spark.sql.KeyValueGroupedDataset[Long, SessionBuf],
                         gapMs: Long, watermark: String): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessorSeeded(gapMs),
        TimeMode.EventTime(), OutputMode.Append(), initial)
  }

  /** Per-window aggregate buffer for [[WindowedMapStateProcessor]]. */
  final case class WinAgg(n: Long, maxV: Double)

  /** One closed per-user window emitted by [[WindowedMapStateProcessor]]. */
  final case class UserWindow(
      user_id: Long, w_start: Timestamp, n_events: Long, max_value: Double)

  /** Custom tumbling windows on the state-v2 MAP state: each key holds a
    * `MapState[windowStart → (n, max)]` — one entry per OPEN window — with
    * one event-time timer armed per window END; expiry emits that window
    * and removes its entry. This is the idiom for window semantics the
    * built-in `window()` can't express (per-window custom finalization,
    * dynamic per-key window sets): state is O(open windows per key), every
    * update is a point lookup and every timer is armed at window CREATION
    * — no per-batch scan of the map or of armed timers (see
    * handleInputRows for why creation-time arming is exactly-once) — and
    * eviction is driven by timers, not by re-reading state. The aggregates
    * are order-insensitive (count, max) so incremental merge order can't
    * affect the result.
    */
  final class WindowedMapStateProcessor(windowMs: Long)
      extends StatefulProcessor[Long, Event, UserWindow] {
    @transient private var wins: MapState[Long, WinAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      wins = getHandle.getMapState[Long, WinAgg](
        "wins", Encoders.scalaLong, Encoders.product[WinAgg], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserWindow] = {
      rows.foreach { e =>
        val w = Math.floorDiv(e.ts.getTime, windowMs) * windowMs
        if (wins.containsKey(w)) {
          val cur = wins.getValue(w)
          wins.updateValue(w, WinAgg(cur.n + 1, math.max(cur.maxV, e.value)))
        } else {
          // Window created by THIS row → arm its end timer here, exactly
          // once. Arming-on-creation is sufficient AND unique: a window
          // cannot be re-created after its timer fired, because any row
          // that would re-create it has ts < windowEnd <= watermark and
          // is dropped as late upstream (EventTime mode). This replaced
          // the original per-batch `listTimers() + wins.keys()` sweep —
          // O(armed timers + open windows) PER KEY PER TRIGGER, the q91
          // mechanism class (work ∝ state size, not batch size), which
          // the 100× streaming gate caught at 116 s/trigger scanning
          // 7.7 M map entries; per-row point ops only now.
          wins.updateValue(w, WinAgg(1L, e.value))
          getHandle.registerTimer(w + windowMs)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[UserWindow] = {
      val w = expiredTimerInfo.getExpiryTimeInMs() - windowMs
      if (!wins.containsKey(w)) Iterator.empty
      else {
        val a = wins.getValue(w)
        wins.removeKey(w)
        Iterator.single(UserWindow(userId, new Timestamp(w), a.n, a.maxV))
      }
    }
  }

  /** Tumbling per-user windows over [[WindowedMapStateProcessor]]. */
  def mapStateWindows(events: Dataset[Event], windowMs: Long, watermark: String)
      : Dataset[UserWindow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new WindowedMapStateProcessor(windowMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Input row for [[TopKProcessor]] — event_id is the deterministic
    * tie-break (fixture values have 2 decimals, so equal values across a
    * user's events are common).
    */
  final case class EventIdVal(user_id: Long, event_id: Long, value: Double)

  /** [[TopKProcessor]] emission: the key's CURRENT top-k after a batch,
    * with the cumulative row count. n_seen increases strictly between
    * emissions, so "row with max n_seen per key" is the final state
    * regardless of how the input was chunked into micro-batches.
    */
  final case class TopKSnapshot(user_id: Long, n_seen: Long,
      v1: java.lang.Double, v2: java.lang.Double, v3: java.lang.Double)

  /** Per-key bounded top-k on the state-v2 LIST state: the idiom for a
    * small ORDERED collection per key (leaderboards, best-n candidates,
    * recent-n buffers) where MapState's point-lookup shape doesn't fit.
    * State is exactly k entries per key — reading, merging a batch's rows,
    * and rewriting is O(k + batch rows per key) — and a ValueState carries
    * the cumulative count that makes snapshots ordered. No timers and no
    * watermark: the aggregate is monotone (inserting a row never invalidates
    * a previous top-k's correctness for its prefix), so Update mode emits
    * each key's refined snapshot per batch and the LAST snapshot is the
    * batch answer.
    */
  final class TopKProcessor(k: Int)
      extends StatefulProcessor[Long, EventIdVal, TopKSnapshot] {
    @transient private var best: ListState[TopEntry] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      best = getHandle.getListState[TopEntry](
        "best", Encoders.product[TopEntry], TTLConfig.NONE)
      seen = getHandle.getValueState[Long](
        "seen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[EventIdVal],
                                 timerValues: TimerValues): Iterator[TopKSnapshot] = {
      val incoming = rows.map(e => TopEntry(e.value, e.event_id)).toArray
      if (incoming.isEmpty) return Iterator.empty
      val cur = best.get().toArray
      // value DESC, event_id ASC — the same total order the oracle ranks by
      val merged = (cur ++ incoming)
        .sortBy(t => (-t.value, t.event_id)).take(k)
      best.put(merged)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.length
      seen.update(n)
      def at(i: Int): java.lang.Double =
        if (i < merged.length) java.lang.Double.valueOf(merged(i).value) else null
      Iterator.single(TopKSnapshot(userId, n, at(0), at(1), at(2)))
    }
  }

  /** Ordered entry in [[TopKProcessor]]'s list state. */
  final case class TopEntry(value: Double, event_id: Long)

  /** Per-user top-3 event values via [[TopKProcessor]]. */
  def listStateTopK(events: Dataset[EventIdVal]): Dataset[TopKSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new TopKProcessor(3),
        TimeMode.None(), OutputMode.Update())
  }
}
