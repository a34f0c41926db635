package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, KeyValueGroupedDataset, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState,
  OutputMode, StatefulProcessor, StatefulProcessorHandle,
  StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, Trigger,
  ValueState}

import scala.collection.mutable
import scala.util.Random

/** Differential STREAMING fuzzer (verdict r10 #4, extended r12 per verdict
  * r11 #1): generate randomized stateful micro-batch topologies — window
  * type × watermark delay × key × dedup × restart point, PLUS stream-stream
  * joins (inner/left-outer with both-side watermarks, the
  * `symmetricHashJoin` mechanism: s04/s14/s27/s32 shapes) and custom
  * `transformWithState` processors (randomized per-key tumbling windows on
  * MapState with creation-armed event-time timers, the s17/s18 shapes — the
  * mechanism class where r11's O(state)-per-trigger bug lived and which the
  * original grammar could never generate) — run each as a real Structured
  * Streaming query over the range-staged events chunks (one time-slice per
  * micro-batch, so watermarks advance and state evicts INCREMENTALLY), and
  * compare the union of appended emissions bit-exactly against a
  * batch-replay twin of the same plan. This does for the s-family's
  * mechanism space what tools/fuzz_oracle.py's 19 grammar families do for
  * batch SQL: the 35 hand-written topologies pin specific shapes; the
  * fuzzer samples the combinatorial neighborhood around them every week.
  * The first eight plans of every run are pinned to the r12/r13/r14/r15
  * mechanism families (E-inner, E-outer, F, F-restart, G ListState-top-k,
  * H ValueState-sessions, I seeded-bootstrap, I-thin sub-gap-geometry
  * bootstrap) so every gate invocation exercises all the custom-state
  * classes regardless of how the seed lands; later plans draw uniformly
  * over all the families. Family G
  * (r13, verdict r12 #1) randomizes the s23 shape — ListState bounded
  * top-k + ValueState counter, TimeMode.None, Update mode — and compares
  * the per-key LAST monotone snapshot against a batch rank twin (no
  * watermark threshold at all; event_ids are unique BIGINTs so the order
  * is total). Family H (r13) randomizes the s17 shape — ValueState
  * gap-session buffers with one re-armed event-time timer per key —
  * against the batch lag/cumsum sessionization twin, thresholding each
  * key's LAST session by the timer-vs-final-watermark rule (both
  * closures). Family I (r14, verdict r13 #1) randomizes the s19 shape —
  * `StatefulProcessorWithInitialState` bootstrap: a random cut splits the
  * staged chunks, the pre-cut half is batch-sessionized into seeds (open
  * sessions become initial state, closed ones join the comparison
  * driver-side), an optional churn drops a user subset's post-cut events
  * from stream AND twin so the seed-timer eviction path has occupancy,
  * and the post-cut stream must reproduce the FULL-history twin. Four
  * deliberate seam mutations (SPARK_GRAFT_FUZZ_MUTATE = seed_halfgap /
  * seed_double_emit / seed_no_timer / seed_stale_timer) are wired for
  * kill-evidence runs; family I fails under the first three at any
  * geometry (SCALING.md r14), and the r15 I-THIN variant — post-cut
  * chunks re-staged so the first gap-width band after the cut is sliced
  * THINNER than the gap — makes the fourth (the stale timer HORIZON,
  * armed off startMs instead of lastMs) observable too: with sub-gap
  * chunks the watermark steps land BETWEEN startMs+gap and lastMs+gap,
  * so a mis-armed seed timer fires before the seed's mergeable post-cut
  * continuation arrives and fragments the session the twin merges
  * (SCALING.md r15; FzSessionProcessorSeeded's scaladoc has the full
  * observability argument).
  *
  * Determinism rules (same discipline as the batch fuzzer):
  *  - exact aggregates only (counts + BIGINT sums/min/max of key columns;
  *    never a double);
  *  - dedup keys are exactly the grouping columns, so every aggregate is a
  *    function of the surviving key, never of an arbitrary survivor row;
  *  - chunks are staged by ts RANGE (QueriesStreaming.stagedDir), so no
  *    fixture row is ever late — eviction timing varies with the chunking,
  *    the final emitted set cannot;
  *  - the append-mode twin filters to windows the final watermark closed,
  *    computed exactly as Spark does: watermarkMs = floor(maxEventTimeUs /
  *    1000) − delayMs (EventTimeStats tracks max event time in MILLIS; the
  *    eviction compare is then watermarkMs × 1000 against the window end
  *    in µs). A window whose end lands EXACTLY on the watermark is
  *    boundary-ambiguous across Spark versions' <=/<, so a plan passes if
  *    it matches either closure of the threshold — the two twins differ
  *    only on measure-zero exact-equality windows. The same two-closure
  *    rule covers transformWithState timer expiry (timer vs watermark).
  *  - stream-stream INNER joins are exact with NO threshold: chunks arrive
  *    in event-time order, so a buffered row is never evicted before a row
  *    it must match arrives (when a batch at min-ts T is processed, the
  *    watermark is maxTs(previous chunks) − delay < T, and any needed
  *    partner has partner_ts + span ≥ T > watermark — the s04 argument).
  *  - stream-stream OUTER joins pin the DETERMINISTIC region only (the s14
  *    discipline): null-padded rows are guaranteed flushed for left rows
  *    at or below wm_final − span, ambiguous in the band above it (both
  *    behaviors observed across Spark versions/scales at the terminal
  *    batch), so BOTH the stream's emissions and the twin are filtered to
  *    matched-or-below-cutoff before comparing; wm_final uses the MIN over
  *    the two sides' own max event times (each side's watermark tracks
  *    only its own rows — the s14 lesson).
  *
  * Usage: runMain graft.StreamFuzz [sfDir] [nPlans] [seed]
  * Prints one PASS/FAIL line per plan and a final summary; exit 1 on any
  * failure. Driver-style harness code (collect on tiny emitted sets is
  * fine here — this is a gate main, not an operator).
  */
object StreamFuzz {

  private def fmt(v: Any): String = v match {
    case null => "NULL"
    case t: java.sql.Timestamp => t.getTime.toString + "ms"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  private def rowSet(rows: Seq[Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(i => fmt(r.get(i))).mkString("|")).sorted

  /** How a plan's append-mode emissions relate to its batch twin. */
  private sealed trait Emit
  /** complete mode: last snapshot equals the batch result, no threshold. */
  private case object EComplete extends Emit
  /** append windows/sessions: grouping struct's `end` vs final watermark,
    * both closures (families A/B/D). */
  private case object EWindowStruct extends Emit
  /** transformWithState tumbling windows: row's `w_start` (epoch ms, col 1)
    * + windowMs vs final watermark ms, both closures (family F). */
  private final case class EWindowMs(windowMs: Long) extends Emit
  /** stream-stream inner join: exact, no threshold (family E). */
  private case object EExact extends Emit
  /** stream-stream left-outer join: matched rows exact; null rows compared
    * only at or below wm_final − span, with wm_final from the min over the
    * two sides' (typeA, typeB) own max event times AFTER the event_id
    * thinning filter — the stream's watermark tracks only surviving rows
    * (family E). */
  private final case class EOuterBand(spanMs: Long, typeA: String,
                                      typeB: String, thin: Long) extends Emit
  /** update-mode monotone snapshots (ListState top-k, family G): each
    * emission carries a per-key strictly-increasing n_seen (col 1), so the
    * LAST snapshot per key (col 0) equals the batch answer regardless of
    * chunking — the sift keeps only that row per key, no threshold. */
  private case object ELastSnapshot extends Emit
  /** state-v2 ValueState gap-sessions (families H and I): non-last
    * sessions per key are emitted by the merge itself (a successor event
    * supersedes them), so they are exact; the key's LAST session is
    * emitted only if its eviction timer (lastMs + gap) fired against the
    * final watermark — both closures accepted, the same timer-boundary
    * rule as EWindowMs. Twin rows are thresholded driver-side per key
    * (col 2 = end ms). For family I, runStream unions the batch-closed
    * pre-cut seed sessions into the stream's emissions before the
    * comparison (they are exact by construction — Boot's scaladoc). */
  private final case class ESessionV2(gapMs: Long) extends Emit

  /** Family I bootstrap spec: stage `Plan.chunks` time-slices, split the
    * (name-sorted = time-sorted) file list at `cutIdx`, compute per-key
    * gap-sessions over the pre-cut half with the batch lag/cumsum plan,
    * seed the stream's initial state with the sessions still OPEN at the
    * cut (`ems + gap >= cut` — only the LAST session per key can qualify,
    * since every earlier one has a pre-cut successor event more than a
    * gap away), collect the CLOSED ones driver-side (exact by
    * construction: no post-cut event can be within a gap of a session
    * that closed before `cut - gap`), and stream ONLY the post-cut files.
    * `stream` builds the seeded topology once runStream has computed the
    * seeds; for boot plans `Plan.stream` is unused.
    *
    * `thinMod > 0` adds CHURN: post-cut events of users with
    * `user_id % thinMod == 0` are dropped from the stream input AND from
    * the twin (consistently, so the comparison is still exact). Without
    * churn these fixtures give every key post-cut input, whose first
    * merge deletes and re-arms the seed's timer — the timer-EVICTION
    * path of seeded state (a key bootstrapped open that never returns)
    * would have zero occupancy and a forgotten/mis-armed seed timer
    * would be invisible. Churned users' seeds can only ever emit through
    * their seed-armed timer, which is exactly the path mutation M3
    * removes. (When `bucket != 0` the grouping key is `user_id % bucket`
    * while churn drops `user_id % thinMod == 0` — both sides see the
    * identical event set either way, so correctness is unaffected, but if
    * thinMod divides bucket the churned users concentrate in the key
    * residues ≡ 0 mod thinMod and the OTHER buckets carry no
    * eviction-path occupancy; the occupancy argument is per-key exact
    * only for bucket = 0 or thinMod coprime to bucket.)
    *
    * `bandSlices > 0` selects the r15 I-THIN geometry (verdict r14 #1):
    * bootSplit re-stages the post-cut files into a gap-wide band
    * `[cut, cut + gapMs)` range-sliced into `bandSlices` chunks (each
    * THINNER than the gap) followed by `tailSlices` coarse chunks for the
    * rest — the geometry under which the stale-timer-horizon mutation M4
    * becomes observable. Event-time order across chunks is preserved
    * (band ranges all precede tail ranges), so every determinism argument
    * of the legacy geometry carries over unchanged.
    */
  private final case class Boot(cutIdx: Int, gapMs: Long, bucket: Int,
      thinMod: Int,
      stream: (DataFrame, KeyValueGroupedDataset[Long, FzSess]) => DataFrame,
      bandSlices: Int = 0, tailSlices: Int = 0)

  /** One generated plan: how to build the streaming frame from the staged
    * event stream and the batch twin over the full events table; `emit`
    * says how the two are compared (see the Emit cases). `boot` marks a
    * family-I initial-state plan (see [[Boot]]).
    */
  private case class Plan(desc: String, delayMin: Int,
                          stream: DataFrame => DataFrame,
                          twin: DataFrame => DataFrame,
                          chunks: Int, restartAt: Int,
                          emit: Emit,
                          provider: Option[String] = None,
                          boot: Option[Boot] = None)

  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Input row for [[FzWindowProcessor]]. */
  final case class FzEvent(user_id: Long, event_id: Long, ts: Timestamp)

  /** Per-window aggregate buffer in [[FzWindowProcessor]]'s map state. */
  final case class FzAgg(n: Long, se: Long, mn: Long, mx: Long)

  /** One closed window emitted by [[FzWindowProcessor]] (w_start epoch ms). */
  final case class FzWin(k: Long, w_start: Long, n: Long, se: Long,
                         mn: Long, mx: Long)

  /** Randomized-parameter clone of the s18 mechanism
    * (EventStreams.WindowedMapStateProcessor): per-key tumbling windows in
    * `MapState[windowStart → agg]`, one event-time timer armed per window
    * at window CREATION (exactly once — a row that would re-create an
    * expired window is watermark-late and dropped upstream), expiry emits
    * the window and removes its entry. Per-row POINT ops only: no
    * `listTimers()` / `keys()` sweep — the exact per-trigger O(state)
    * anti-pattern r11's gate caught is what this family exists to catch
    * if it is ever reintroduced. Aggregates are order-insensitive BIGINTs
    * (count / sum / min / max of event_id), so micro-batch merge order
    * cannot move the result.
    */
  final class FzWindowProcessor(windowMs: Long)
      extends StatefulProcessor[Long, FzEvent, FzWin] {
    @transient private var wins: MapState[Long, FzAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      wins = getHandle.getMapState[Long, FzAgg](
        "wins", Encoders.scalaLong, Encoders.product[FzAgg], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FzEvent],
                                 timerValues: TimerValues): Iterator[FzWin] = {
      rows.foreach { e =>
        val w = Math.floorDiv(e.ts.getTime, windowMs) * windowMs
        if (wins.containsKey(w)) {
          val c = wins.getValue(w)
          wins.updateValue(w, FzAgg(c.n + 1, c.se + e.event_id,
            math.min(c.mn, e.event_id), math.max(c.mx, e.event_id)))
        } else {
          wins.updateValue(w, FzAgg(1L, e.event_id, e.event_id, e.event_id))
          getHandle.registerTimer(w + windowMs)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[FzWin] = {
      val w = expiredTimerInfo.getExpiryTimeInMs() - windowMs
      if (!wins.containsKey(w)) Iterator.empty
      else {
        val a = wins.getValue(w)
        wins.removeKey(w)
        Iterator.single(FzWin(key, w, a.n, a.se, a.mn, a.mx))
      }
    }
  }

  /** Per-(key, batch) snapshot emitted by [[FzTopKProcessor]]: the key's
    * current top-k event_ids (slots beyond k stay null) plus the
    * cumulative row count — n_seen increases strictly between a key's
    * emissions, so its max-n_seen row is the final state under ANY
    * chunking (the s23 monotone-snapshot argument).
    */
  final case class FzTopK(k: Long, n_seen: Long,
      v1: java.lang.Long, v2: java.lang.Long, v3: java.lang.Long,
      v4: java.lang.Long)

  /** Randomized-k clone of the s23 mechanism (EventStreams.TopKProcessor):
    * per-key bounded top-k of event_id on the state-v2 LIST state plus a
    * ValueState cumulative counter, TimeMode.None / Update mode, no
    * watermark (the aggregate is monotone — inserting a row never
    * invalidates a previous snapshot's correctness for its prefix). State
    * per key is EXACTLY k entries: read, merge a batch's rows, rewrite —
    * O(k + batch rows per key), the bounded-collection discipline the
    * trigger-regime gate measures and this family fuzzes against a batch
    * rank twin. event_ids are globally unique BIGINTs, so the order is
    * total and ties cannot exist (the determinism rule: never a double).
    */
  final class FzTopKProcessor(k: Int)
      extends StatefulProcessor[Long, FzEvent, FzTopK] {
    @transient private var best: ListState[Long] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      best = getHandle.getListState[Long](
        "best", Encoders.scalaLong, TTLConfig.NONE)
      seen = getHandle.getValueState[Long](
        "seen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[FzEvent],
                                 timerValues: TimerValues): Iterator[FzTopK] = {
      val incoming = rows.map(_.event_id).toArray
      if (incoming.isEmpty) return Iterator.empty
      val merged = (best.get().toArray ++ incoming).sortBy(-_).take(k)
      best.put(merged)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.length
      seen.update(n)
      def at(i: Int): java.lang.Long =
        if (i < merged.length) java.lang.Long.valueOf(merged(i)) else null
      Iterator.single(FzTopK(key, n, at(0), at(1), at(2), at(3)))
    }
  }

  /** Per-key open-session buffer in [[FzSessionProcessor]]'s value state. */
  final case class FzSess(startMs: Long, lastMs: Long, n: Long, se: Long)

  /** One closed session emitted by [[FzSessionProcessor]] (epoch ms). */
  final case class FzSessOut(k: Long, s: Long, e: Long, n: Long, se: Long)

  /** Randomized-gap clone of the s17 mechanism
    * (EventStreams.SessionProcessor): per-key gap-merged sessions in a
    * single ValueState buffer with ONE re-armed event-time timer per key;
    * sessions superseded within a batch emit from the merge, the open one
    * emits from handleExpiredTimer when the watermark passes lastMs + gap.
    * Aggregates are order-insensitive BIGINTs (count / sum of event_id —
    * the determinism rule: never a double). Per-key batch work is
    * O(batch rows + 1 carried buffer); `listTimers()` is scoped to the
    * grouping key and holds at most one armed timer.
    */
  /** Per-batch merge + timer expiry shared by [[FzSessionProcessor]] and
    * [[FzSessionProcessorSeeded]] — identical semantics, only the seeding
    * lifecycle differs between the two classes (the same split as
    * EventStreams.SessionProcessor vs SessionProcessorSeeded).
    */
  private object FzSessOps {
    def mergeBatch(key: Long, open: ValueState[FzSess], rows: Iterator[FzEvent],
                   gapMs: Long, handle: StatefulProcessorHandle): Iterator[FzSessOut] = {
      val built = mutable.ArrayBuffer.empty[FzSess]
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        built.lastOption match {
          case Some(b) if t - b.lastMs <= gapMs =>
            built(built.length - 1) =
              FzSess(b.startMs, math.max(b.lastMs, t), b.n + 1, b.se + e.event_id)
          case _ => built += FzSess(t, t, 1, e.event_id)
        }
      }
      val carried = if (open.exists()) Seq(open.get()) else Seq.empty
      val merged = mutable.ArrayBuffer.empty[FzSess]
      (carried ++ built).sortBy(s => (s.startMs, s.lastMs)).foreach { s =>
        merged.lastOption match {
          case Some(b) if s.startMs <= b.lastMs + gapMs =>
            merged(merged.length - 1) = FzSess(
              math.min(b.startMs, s.startMs), math.max(b.lastMs, s.lastMs),
              b.n + s.n, b.se + s.se)
          case _ => merged += s
        }
      }
      open.update(merged.last)
      handle.listTimers().foreach(handle.deleteTimer)
      handle.registerTimer(merged.last.lastMs + gapMs)
      merged.init.iterator.map(s => FzSessOut(key, s.startMs, s.lastMs, s.n, s.se))
    }

    def expire(key: Long, open: ValueState[FzSess]): Iterator[FzSessOut] =
      if (!open.exists()) Iterator.empty
      else {
        val s = open.get()
        open.clear()
        Iterator.single(FzSessOut(key, s.startMs, s.lastMs, s.n, s.se))
      }
  }

  final class FzSessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, FzEvent, FzSessOut] {
    @transient private var open: ValueState[FzSess] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[FzSess](
        "open", Encoders.product[FzSess], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FzEvent],
                                 timerValues: TimerValues): Iterator[FzSessOut] =
      FzSessOps.mergeBatch(key, open, rows, gapMs, getHandle)

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[FzSessOut] =
      FzSessOps.expire(key, open)
  }

  /** [[FzSessionProcessor]] warm-started through
    * `StatefulProcessorWithInitialState` — family I's mechanism, the s19
    * class (EventStreams.SessionProcessorSeeded): before any input,
    * `handleInitialState` seeds each key's open-session buffer from the
    * batch-computed pre-cut sessions and arms its eviction timer; the
    * post-cut stream then merges into the warm buffer. `noTimer` is the
    * deliberate family-I mutation M3 (SPARK_GRAFT_FUZZ_MUTATE=
    * seed_no_timer): the seed's eviction timer is never armed, orphaning
    * the open buffer of every key the stream never touches again.
    * `staleTimer` is mutation M4 (seed_stale_timer, r15): the timer is
    * armed off the STALE horizon `startMs + gapMs` instead of
    * `lastMs + gapMs` — the other member of the seed-timer-lifecycle bug
    * class. M4's observability depends on the chunk GEOMETRY: under the
    * legacy staging the first post-cut chunk spans days while gaps span
    * minutes-to-hours, so by the first watermark step EVERY seed timer,
    * skewed or not, is already past due and fires in the same batch with
    * identical state content, and a key with post-cut input deletes and
    * re-arms its timer on first merge — the skew cannot move the
    * comparison. Under the I-THIN geometry ([[Boot]].bandSlices) the
    * post-cut band is sliced thinner than the gap, so for a seed whose
    * session LENGTH exceeds chunk-width + delay there are watermark
    * steps in (startMs+gap, lastMs+gap): the mis-armed timer fires
    * there, evicts the still-open seed, and its mergeable continuation
    * (an event at t ≤ lastMs+gap arriving in a later chunk) then starts
    * a fresh session — fragmenting what the batch twin merges. The
    * correct timer can NEVER fire before such a continuation: the
    * continuation's batch runs with watermark < t − delay ≤ lastMs+gap
    * (chunks arrive in event-time order), which is also why the base
    * thin-geometry run stays bit-exact.
    */
  final class FzSessionProcessorSeeded(gapMs: Long, noTimer: Boolean,
      staleTimer: Boolean = false)
      extends StatefulProcessorWithInitialState[Long, FzEvent, FzSessOut, FzSess] {
    @transient private var open: ValueState[FzSess] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[FzSess](
        "open", Encoders.product[FzSess], TTLConfig.NONE)

    override def handleInitialState(key: Long, initial: FzSess,
                                    timerValues: TimerValues): Unit = {
      open.update(initial)
      val horizon = (if (staleTimer) initial.startMs else initial.lastMs) + gapMs
      if (!noTimer) getHandle.registerTimer(horizon)
    }

    override def handleInputRows(key: Long, rows: Iterator[FzEvent],
                                 timerValues: TimerValues): Iterator[FzSessOut] =
      FzSessOps.mergeBatch(key, open, rows, gapMs, getHandle)

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[FzSessOut] =
      FzSessOps.expire(key, open)
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Batch gap-sessionization twin shared by families H and I: the lag/
    * cumsum plan over the (full or pre-cut) events frame, keyed like the
    * stream — columns (k, s, e, n, se), all BIGINT (the determinism rule).
    */
  private def sessTwin(gapMs: Long, bucket: Int)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kcol = if (bucket == 0) col("user_id") else col("user_id") % bucket
    val w = Window.partitionBy(col("k")).orderBy(col("ms"))
    df.select(kcol.as("k"), unix_millis(col("ts")).as("ms"), col("event_id"))
      .withColumn("new_s", when(lag(col("ms"), 1).over(w).isNull
        || col("ms") - lag(col("ms"), 1).over(w) > gapMs, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("sid"))
      .agg(min(col("ms")).as("s"), max(col("ms")).as("e"),
        count(lit(1)).as("n"), sum(col("event_id")).as("se"))
      .select(col("k"), col("s"), col("e"), col("n"), col("se"))
  }

  /** Family I's seeded streaming side, shared by the legacy and I-thin
    * geometries: churn filter → watermark → keyed
    * `transformWithState(FzSessionProcessorSeeded, …, seeds)`. The
    * mutation knob routes M3 (seed_no_timer) and M4 (seed_stale_timer)
    * into the processor; M1/M2 live in runStream's seed computation.
    */
  private def seededStream(gapMs: Long, bucket: Int, thinMod: Int,
      delayMin: Int)
      : (DataFrame, KeyValueGroupedDataset[Long, FzSess]) => DataFrame =
    (df0, seeds) => {
      val sp = df0.sparkSession
      import sp.implicits._
      val mut = sys.env.getOrElse("SPARK_GRAFT_FUZZ_MUTATE", "")
      // churn BEFORE the watermark so the tracker sees only surviving
      // rows (the s14/E-family lesson); every post-file row has
      // ts >= cut, so a plain user predicate is the churn filter here
      val df = if (thinMod == 0) df0
               else df0.filter(col("user_id") % thinMod =!= 0)
      df.withWatermark("ts", s"$delayMin minutes")
        .select(col("user_id"), col("event_id"), col("ts"))
        .as[FzEvent]
        .groupByKey(e => if (bucket == 0) e.user_id else e.user_id % bucket)
        .transformWithState(
          new FzSessionProcessorSeeded(gapMs, mut == "seed_no_timer",
            mut == "seed_stale_timer"),
          TimeMode.EventTime(), OutputMode.Append(), seeds)
        .toDF()
    }

  private def gen(rng: Random, i: Int): Plan = {
    val chunks = 3 + rng.nextInt(4) // 3..6 micro-batches
    val delay = Seq(10, 25, 45, 90)(rng.nextInt(4))
    val keyPick = rng.nextInt(3) // 0: event_type, 1: user bucket, 2: both
    val m = Seq(7, 23, 50)(rng.nextInt(3))
    val keyCols = keyPick match {
      case 0 => Seq(col("event_type"))
      case 1 => Seq((col("user_id") % m).as("ub"))
      case _ => Seq(col("event_type"), (col("user_id") % m).as("ub"))
    }
    // first eight plans pinned to the r12/r13/r14/r15 mechanism classes
    // (join inner/outer, transformWithState MapState, MapState+restart,
    // ListState top-k, ValueState sessions, seeded bootstrap, sub-gap
    // thin-geometry bootstrap) so every gate run samples them; beyond
    // that, uniform over all the families
    val fam = if (i < 8) Seq(10, 11, 12, 13, 14, 16, 18, 20)(i)
              else rng.nextInt(21)
    if (fam < 4) {
      // A: tumbling/hopping windowed aggregation, append mode
      val w = Seq(30, 60, 90, 240)(rng.nextInt(4))
      val slide = rng.nextInt(3) match {
        case 0 => None
        case 1 => Some(w / 2)
        case _ => Some(w / 3)
      }
      val win = slide.map(sl => window(col("ts"), s"$w minutes", s"$sl minutes"))
        .getOrElse(window(col("ts"), s"$w minutes"))
      def agg(df: DataFrame) = df
        .groupBy(win +: keyCols: _*)
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
      val restart = if (rng.nextInt(3) == 0) 1 + rng.nextInt(chunks - 1) else 0
      Plan(s"p$i agg w=${w}m slide=${slide.fold("-")(s => s"${s}m")} key=$keyPick " +
           s"delay=${delay}m chunks=$chunks restart=$restart",
        delay,
        df => agg(df.withWatermark("ts", s"$delay minutes")),
        agg, chunks, restart, EWindowStruct)
    } else if (fam < 6) {
      // B: session windows (gap-merge), append mode
      val gap = Seq(20, 45, 90)(rng.nextInt(3))
      def agg(df: DataFrame) = df
        .groupBy(session_window(col("ts"), s"$gap minutes") +: keyCols: _*)
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"))
      val restart = if (rng.nextInt(3) == 0) 1 + rng.nextInt(chunks - 1) else 0
      Plan(s"p$i session gap=${gap}m key=$keyPick delay=${delay}m " +
           s"chunks=$chunks restart=$restart",
        delay,
        df => agg(df.withWatermark("ts", s"$delay minutes")),
        agg, chunks, restart, EWindowStruct)
    } else if (fam < 8) {
      // C: streaming dedup → aggregation chain (two stateful operators),
      // complete mode: every aggregate is a function of the dedup key set
      val dedupKeys =
        if (rng.nextBoolean()) Seq("event_type", "user_id")
        else Seq("event_type", "ubk")
      def pre(df: DataFrame) =
        df.withColumn("ubk", col("user_id") % m)
      def agg(df: DataFrame) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col(dedupKeys.last match {
            case "user_id" => "user_id"; case _ => "ubk" })).as("sk"))
      Plan(s"p$i dedup keys=${dedupKeys.mkString("+")} m=$m chunks=$chunks",
        delay,
        df => agg(pre(df).withWatermark("ts", s"$delay minutes")
          .dropDuplicates(dedupKeys)),
        df => agg(pre(df).dropDuplicates(dedupKeys)),
        chunks, 0, EComplete)
    } else if (fam < 10) {
      // D: tumbling agg with a mid-stream checkpoint restart (always)
      val w = Seq(60, 120, 240)(rng.nextInt(3))
      def agg(df: DataFrame) = df
        .groupBy(window(col("ts"), s"$w minutes") +: keyCols: _*)
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"))
      val restart = 1 + rng.nextInt(chunks - 1)
      Plan(s"p$i restart-agg w=${w}m key=$keyPick delay=${delay}m " +
           s"chunks=$chunks restart=$restart",
        delay,
        df => agg(df.withWatermark("ts", s"$delay minutes")),
        agg, chunks, restart, EWindowStruct)
    } else if (fam < 12) {
      // E: stream-stream join (fam 10 → inner, fam 11 → left outer) with
      // an event-time range condition — the symmetricHashJoin mechanism.
      // Side B events within `span` BEFORE each side-A event, equality on
      // user_id (or a coarser bucket, which multiplies match fan-out and
      // therefore buffered-state pressure). Output (a_us, a_eid, b_eid):
      // event_ids make every pair row unique, a_us drives the outer band
      // sift. Watermark is applied ONCE before the event-type split; the
      // optimizer pushes each filter below the watermark node so each
      // side tracks only its own rows (the s14 lesson — wm_final below
      // uses the min over sides accordingly).
      val outer = fam == 11
      val ai = rng.nextInt(eventTypes.size)
      val bi = (ai + 1 + rng.nextInt(eventTypes.size - 1)) % eventTypes.size
      val (ta, tb) = (eventTypes(ai), eventTypes(bi))
      val spanMin = Seq(30, 60, 120)(rng.nextInt(3))
      val bucket = rng.nextInt(3) match { case 0 => 0; case 1 => 7; case _ => 23 }
      // deterministic side thinning (event_id % thin == 0, both sides,
      // stream AND twin): a bucketed time-range join's output grows as
      // fixture²/bucket — at the 10× gate an unthinned plan collected
      // 1.2M pair rows per run and the next plan blew the completion
      // budget. Thinning by 3-5 per side cuts output ~an order of
      // magnitude while exercising the identical join machinery.
      val thin = Seq(3L, 4L, 5L)(rng.nextInt(3))
      val restart = if (rng.nextInt(3) == 0) 1 + rng.nextInt(chunks - 1) else 0
      def joined(df0: DataFrame, wm: Boolean): DataFrame = {
        val df1 = df0.filter(col("event_id") % thin === 0)
        val df = if (wm) df1.withWatermark("ts", s"$delay minutes") else df1
        val keyed = df.withColumn("jk",
          if (bucket == 0) col("user_id") else col("user_id") % bucket)
        val a = keyed.filter(col("event_type") === ta)
          .select(col("jk"), col("event_id").as("a_eid"), col("ts").as("a_ts"))
        val b = keyed.filter(col("event_type") === tb)
          .select(col("jk").as("b_jk"), col("event_id").as("b_eid"),
            col("ts").as("b_ts"))
        a.join(b, col("jk") === col("b_jk")
            && col("b_ts") >= col("a_ts") - expr(s"INTERVAL $spanMin MINUTES")
            && col("b_ts") <= col("a_ts"),
          if (outer) "left_outer" else "inner")
          .select(unix_micros(col("a_ts")).as("a_us"), col("a_eid"),
            col("b_eid"))
      }
      Plan(s"p$i ${if (outer) "outer" else "inner"}-join $ta⋈$tb " +
           s"span=${spanMin}m bucket=$bucket thin=$thin delay=${delay}m " +
           s"chunks=$chunks restart=$restart",
        delay,
        df => joined(df, wm = true),
        df => joined(df, wm = false),
        chunks, restart,
        if (outer) EOuterBand(spanMin * 60000L, ta, tb, thin) else EExact)
    } else if (fam < 14) {
      // F: transformWithState MapState tumbling windows with
      // creation-armed event-time timers (fam 13 forces a mid-stream
      // checkpoint restart — timers and map entries must ride the
      // checkpoint). RocksDB provider: the only provider the state-v2
      // API supports, same pin as s17-s19/s23.
      val wMin = Seq(60, 120, 360, 720)(rng.nextInt(4))
      val windowMs = wMin * 60000L
      val bucket = if (rng.nextBoolean()) 0 else m
      val restart =
        if (fam == 13 || rng.nextInt(3) == 0) 1 + rng.nextInt(chunks - 1) else 0
      def streamF(df: DataFrame): DataFrame = {
        val sp = df.sparkSession
        import sp.implicits._
        df.withWatermark("ts", s"$delay minutes")
          .select(col("user_id"), col("event_id"), col("ts"))
          .as[FzEvent]
          .groupByKey(e => if (bucket == 0) e.user_id else e.user_id % bucket)
          .transformWithState(new FzWindowProcessor(windowMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF()
      }
      def twinF(df: DataFrame): DataFrame = {
        val k = if (bucket == 0) col("user_id") else col("user_id") % bucket
        df.groupBy(k.as("k"),
            expr(s"(unix_millis(ts) div $windowMs) * $windowMs").as("w_start"))
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("se"),
            min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
      }
      Plan(s"p$i tws-mapstate w=${wMin}m bucket=$bucket delay=${delay}m " +
           s"chunks=$chunks restart=$restart",
        delay, streamF, twinF, chunks, restart, EWindowMs(windowMs),
        provider = Some(rocksProvider))
    } else if (fam < 16) {
      // G: transformWithState ListState bounded top-k + ValueState counter
      // (the s23 mechanism class, verdict r12 #1), TimeMode.None / Update
      // mode — no watermark, no timers; the monotone-snapshot comparison
      // (ELastSnapshot) needs no threshold at all. fam 15 forces a
      // mid-stream restart: the list contents and the counter must ride
      // the checkpoint and keep refining afterwards.
      val kTop = 2 + rng.nextInt(3) // top-2..top-4 (4 output slots)
      val bucket = if (rng.nextBoolean()) 0 else m
      val restart =
        if (fam == 15 || rng.nextInt(3) == 0) 1 + rng.nextInt(chunks - 1) else 0
      def streamG(df: DataFrame): DataFrame = {
        val sp = df.sparkSession
        import sp.implicits._
        df.select(col("user_id"), col("event_id"), col("ts"))
          .as[FzEvent]
          .groupByKey(e => if (bucket == 0) e.user_id else e.user_id % bucket)
          .transformWithState(new FzTopKProcessor(kTop),
            TimeMode.None(), OutputMode.Update())
          .toDF()
      }
      def twinG(df: DataFrame): DataFrame = {
        import org.apache.spark.sql.expressions.Window
        val kcol = if (bucket == 0) col("user_id") else col("user_id") % bucket
        val ranked = df.select(kcol.as("k"), col("event_id"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("k")).orderBy(col("event_id").desc)))
        val slots = (1 to 4).map { j =>
          (if (j <= kTop) max(when(col("rk") === j, col("event_id")))
           else lit(null).cast("long")).as(s"v$j")
        }
        ranked.groupBy(col("k")).agg(count(lit(1)).as("n_seen"), slots: _*)
      }
      Plan(s"p$i tws-liststate-topk k=$kTop bucket=$bucket " +
           s"chunks=$chunks restart=$restart",
        delay, streamG, twinG, chunks, restart, ELastSnapshot,
        provider = Some(rocksProvider))
    } else if (fam < 18) {
      // H: state-v2 ValueState gap-sessions with a re-armed event-time
      // timer per key (the s17 mechanism class; fam 17 forces a
      // mid-stream restart — the open buffer and the armed timer must
      // ride the checkpoint). Twin = the batch lag/cumsum
      // sessionization; each key's LAST session is thresholded by the
      // timer-vs-final-watermark rule in ESessionV2.
      val gapMin = Seq(20, 45, 90, 240)(rng.nextInt(4))
      val gapMs = gapMin * 60000L
      val bucket = if (rng.nextBoolean()) 0 else m
      val restart =
        if (fam == 17 || rng.nextInt(3) == 0) 1 + rng.nextInt(chunks - 1) else 0
      def streamH(df: DataFrame): DataFrame = {
        val sp = df.sparkSession
        import sp.implicits._
        df.withWatermark("ts", s"$delay minutes")
          .select(col("user_id"), col("event_id"), col("ts"))
          .as[FzEvent]
          .groupByKey(e => if (bucket == 0) e.user_id else e.user_id % bucket)
          .transformWithState(new FzSessionProcessor(gapMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF()
      }
      Plan(s"p$i tws-valuestate-sessions gap=${gapMin}m bucket=$bucket " +
           s"delay=${delay}m chunks=$chunks restart=$restart",
        delay, streamH, sessTwin(gapMs, bucket), chunks, restart,
        ESessionV2(gapMs), provider = Some(rocksProvider))
    } else if (fam < 20) {
      // I: initial-state bootstrap (the s19 mechanism class, verdict r13
      // #1) — the seed/cut seam no other family reaches. Stage 2x the
      // chunks, split at a RANDOM cut, compute per-key open sessions at
      // the cut with the batch lag/cumsum plan, seed
      // FzSessionProcessorSeeded with them, stream only the post-cut
      // files, and compare (closed-seed rows ∪ stream emissions) against
      // the FULL-history batch twin under the same ESessionV2
      // thresholding as family H. The bugs that live exactly here: a
      // session wrongly CLOSED at the cut fragments away from its
      // post-cut continuation (the open-session filter's boundary — note
      // the literal >=/> off-by-one is measure-zero on µs timestamps, so
      // the wired mutation M1 shrinks the horizon by HALF A GAP, the
      // same bug class with non-zero occupancy); a seed emitted both as
      // a closed row and again from the stream (M2 double-emit); the
      // seed's eviction timer never armed (M3, in the processor —
      // occupancy comes from the churn variant, see Boot.thinMod); the
      // seed's timer armed off the STALE horizon (M4, in the processor —
      // observable only under the fam-20 thin geometry). All four are
      // wired behind SPARK_GRAFT_FUZZ_MUTATE (seed_halfgap /
      // seed_double_emit / seed_no_timer / seed_stale_timer) and family
      // I must FAIL under each at a geometry that can see it — the
      // recorded kill runs are this gate's evidence that it can see the
      // seam at all (verdict r13 #1 "shown to fail"). fam 19 forces a
      // mid-stream restart: seeded state applies at batch 0 only, so the
      // restart must neither re-seed nor lose the warm buffers and their
      // timers.
      val gapMin = Seq(20, 45, 90, 240)(rng.nextInt(4))
      val gapMs = gapMin * 60000L
      // the PINNED family-I plan (i == 6) forces churn AND per-user keys:
      // without churn, ~1/3 of gate runs drew a churn-free bootstrap in
      // which every seed's timer is deleted and re-armed on first merge,
      // leaving the seed-timer EVICTION path unexercised by the one plan
      // that exists to guarantee coverage (verdict r14 "what's wrong"
      // #1); and with bucket != 0 churn alone is NOT enough — a bucketed
      // key mixes churned and unchurned users, and unless every user in
      // a key is churned the key still gets post-cut input and re-arms
      // (measured: bucket=50 churn=3 puts users k, k+50, k+100 in key k,
      // whose residues mod 3 are all distinct, so NO key is fully
      // churned and an M3 kill run sailed through the pinned plan).
      // Uniform draws keep the churn-free and bucketed variants in
      // rotation.
      val bucket = if (i == 6) 0 else if (rng.nextBoolean()) 0 else m
      val thinMod = if (i == 6) Seq(3, 5)(rng.nextInt(2))
                    else Seq(0, 3, 5)(rng.nextInt(3)) // 0 = no churn
      val total = chunks * 2 // pre-cut staging + post-cut data triggers
      val cutIdx = math.max(1, math.min(total - 2,
        math.round(Seq(0.3, 0.5, 0.7)(rng.nextInt(3)) * total).toInt))
      val postN = total - cutIdx
      val restart =
        if (fam == 19 || rng.nextInt(3) == 0) 1 + rng.nextInt(postN - 1) else 0
      Plan(s"p$i tws-seeded-bootstrap gap=${gapMin}m bucket=$bucket " +
           s"churn=$thinMod cut=$cutIdx/$total delay=${delay}m restart=$restart",
        delay, identity, sessTwin(gapMs, bucket), total, restart,
        ESessionV2(gapMs), provider = Some(rocksProvider),
        boot = Some(Boot(cutIdx, gapMs, bucket, thinMod,
          seededStream(gapMs, bucket, thinMod, delay))))
    } else {
      // I-THIN (r15, verdict r14 #1): family I re-run at SUB-GAP
      // post-cut chunk geometry — the one member of the seed-timer-
      // lifecycle class the legacy geometry provably cannot see (M4, the
      // stale timer horizon) becomes observable here, and the base run
      // stays bit-exact (FzSessionProcessorSeeded's scaladoc has both
      // arguments). Knobs are FIXED for occupancy, not drawn:
      //  - gap=240m, the widest: gap-merged chains are long, so seeds
      //    with session length > chunkWidth + delay (M4's fire
      //    condition) are common, and the mergeable post-cut window
      //    (cut, lastMs+gap] spans many thin chunks;
      //  - delay=10m, the smallest, for the same fire condition;
      //  - bucket=0, per-user keys: a bucketed key merges many users'
      //    events into near-continuous chains whose next event lands in
      //    the first post-cut chunks and re-arms the timer before any
      //    mis-armed horizon can fire.
      // bandSlices thin chunks cover [cut, cut+gap) — 15-20m each, under
      // the 240m gap — then 3 coarse chunks carry the tail (no seed is
      // mergeable beyond cut+gap, so the tail needs no thinness).
      val gapMs = 240 * 60000L
      val bandSlices = Seq(12, 16)(rng.nextInt(2))
      val thinMod = Seq(0, 3, 5)(rng.nextInt(3))
      val total = 6
      val cutIdx = Seq(2, 3, 4)(rng.nextInt(3))
      val restart = if (rng.nextInt(3) == 0) 1 + rng.nextInt(bandSlices) else 0
      Plan(s"p$i tws-seeded-boot-thin gap=240m band=${bandSlices}x" +
           s"${240 / bandSlices}m churn=$thinMod cut=$cutIdx/$total " +
           s"delay=10m restart=$restart",
        10, identity, sessTwin(gapMs, 0), total, restart,
        ESessionV2(gapMs), provider = Some(rocksProvider),
        boot = Some(Boot(cutIdx, gapMs, 0, thinMod,
          seededStream(gapMs, 0, thinMod, 10),
          bandSlices = bandSlices, tailSlices = 3)))
    }
  }

  /** I-thin re-staged post-cut file lists, keyed by the staging geometry
    * (one restage per (fixture, geometry) per JVM, like
    * QueriesStreaming.stagedDirs); dirs are deleted at JVM exit.
    */
  private val thinStaged = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Int, Long), Seq[String]]()
  private val thinDirs =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.nio.file.Path]())
  sys.addShutdownHook {
    thinDirs.forEach(p => graft.util.Fs.deleteRecursively(p))
  }

  /** Pre/post split of a boot plan's staged chunk files, plus the exact
    * cut time (min event ms of the post half — range staging puts every
    * row of a ts value in one chunk, so the boundary is exact). Shared by
    * runStream (seed computation) and runTwin (churn filter): both sides
    * must agree on the cut to the microsecond.
    *
    * For I-thin plans (`bt.bandSlices > 0`) the post half is RE-STAGED:
    * events in the gap-wide band `[cut, cut + gapMs)` are range-sliced
    * into `bandSlices` sub-gap chunks and the rest into `tailSlices`
    * coarse chunks, written with the ORIGINAL staged schema (the raw
    * column types — the streaming reader's schema comes from the coarse
    * staging, so the re-stage must not normalize columns). Band ranges
    * all precede tail ranges and `Fs.listDir` sorts within each dir, so
    * the concatenated list is still in event-time order and the cut time
    * (min ts of the post half) is unchanged.
    */
  private def bootSplit(s: SparkSession, dir: String, plan: Plan, bt: Boot)
      : (Seq[String], Seq[String], Long) = {
    val stage = QueriesStreaming.stagedDir(s, dir, plan.chunks)
    val files = graft.util.Fs.listDir(stage)(
      _.filter(_.toString.endsWith(".parquet")).map(_.toString))
    val (pre, post0) = files.splitAt(bt.cutIdx)
    val cutMs = Tables.normalizeTs(s.read.parquet(post0: _*), "ts")
      .agg(min(unix_millis(col("ts").cast("timestamp")))).first().getLong(0)
    val post =
      if (bt.bandSlices == 0) post0
      else thinStaged.computeIfAbsent(
        (dir, plan.chunks, bt.cutIdx, bt.bandSlices, bt.gapMs), { _ =>
          val d = java.nio.file.Files.createTempDirectory("graft_fuzz_thin_")
          thinDirs.add(d)
          val raw = s.read.parquet(post0: _*)
          // raw ts is LONG nanos (the fixture's physical type under
          // nanosAsLong) or a native timestamp — derive epoch-ms the same
          // way normalizeTs + unix_millis would, WITHOUT changing the
          // column (the written schema must match the coarse staging)
          val tsMs = raw.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
            case _ => unix_millis(col("ts").cast("timestamp"))
          }
          val bandEndMs = cutMs + bt.gapMs
          raw.filter(tsMs < bandEndMs)
            .repartitionByRange(bt.bandSlices, col("ts"))
            .write.parquet(d.resolve("band").toString)
          raw.filter(tsMs >= bandEndMs)
            .repartitionByRange(math.max(bt.tailSlices, 1), col("ts"))
            .write.parquet(d.resolve("tail").toString)
          def part(sub: String) = graft.util.Fs.listDir(d.resolve(sub))(
            _.filter(_.toString.endsWith(".parquet")).map(_.toString))
          part("band") ++ part("tail")
        })
    (pre, post, cutMs)
  }

  /** Run the plan's streaming side to completion and return the union of
    * all emitted rows. restartAt > 0 exercises checkpoint recovery: stage
    * the first `restartAt` chunk files into a private live dir, run
    * AvailableNow to termination, add the remaining chunks, re-start the
    * SAME query on the SAME checkpoint. foreachBatch collects per batchId
    * with last-write-wins, so a replayed post-restart batch stays
    * idempotent (the s30/s33 overwrite-sink discipline).
    */
  private def runStream(s: SparkSession, dir: String, plan: Plan): Seq[Row] = {
    val stage = QueriesStreaming.stagedDir(s, dir, plan.chunks)
    val schema = s.read.parquet(stage.toString).schema
    val complete = plan.emit == EComplete
    val mode = plan.emit match {
      case EComplete => "complete"
      case ELastSnapshot => "update" // monotone snapshots refine per batch
      case _ => "append"
    }
    val collected = mutable.LinkedHashMap.empty[Long, Array[Row]]
    def run(src: String, cp: String,
            mk: DataFrame => DataFrame = plan.stream): Unit = {
      // watermarks require TIMESTAMP, the fixture ships TIMESTAMP_NTZ —
      // value-preserving cast under the engine's fixed UTC session TZ
      val ev = Tables.normalizeTs(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src), "ts")
        .withColumn("ts", col("ts").cast("timestamp"))
      val out = mk(ev)
      val q = out.writeStream
        .outputMode(mode)
        .option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, id: Long) =>
          val rows = df.collect()
          collected.synchronized {
            if (complete) { collected.clear(); collected(id) = rows }
            else collected(id) = rows
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      try require(q.awaitTermination(sys.env.get("SPARK_GRAFT_STREAM_TIMEOUT_MS")
        .map(_.toLong).getOrElse(600000L)), s"stream did not finish: ${plan.desc}")
      finally q.stop()
    }
    // capture-and-restore with unset (not a hardcoded default literal):
    // if the key was never set, pinning today's default would drift
    // silently if Spark's default provider ever changes (r12 ADVICE; the
    // same discipline as StreamTriggerRegime.withConf)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val provPrev = s.conf.getOption(provKey)
    plan.provider.foreach(p => s.conf.set(provKey, p))
    val cp = java.nio.file.Files.createTempDirectory("graft_fuzz_cp_")
    try {
      val files = graft.util.Fs.listDir(stage)(
        _.filter(_.toString.endsWith(".parquet")).map(_.toString))
      // copy `srcFiles` progressively into `live` with staggered mtimes
      // (FileStreamSource orders by modification time — stagedDir's note)
      def copyUpTo(live: java.nio.file.Path, srcFiles: Seq[String])(n: Int): Unit =
        srcFiles.take(n).zipWithIndex.foreach { case (f, i) =>
          val src = java.nio.file.Paths.get(f)
          val dst = live.resolve(src.getFileName)
          if (!java.nio.file.Files.exists(dst)) {
            java.nio.file.Files.copy(src, dst)
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(
                1000000000000L + i * 60000L))
          }
        }
      val extra: Seq[Row] = plan.boot match {
        case None =>
          if (plan.restartAt == 0) run(stage.toString, cp.toString)
          else {
            val live = java.nio.file.Files.createTempDirectory("graft_fuzz_live_")
            try {
              val arm = copyUpTo(live, files) _
              arm(plan.restartAt)
              run(live.toString, cp.toString)
              arm(files.size)
              run(live.toString, cp.toString)
            } finally graft.util.Fs.deleteRecursively(live)
          }
          Nil
        case Some(bt) =>
          // family I: batch-compute the pre-cut sessions, seed the open
          // ones, stream the post-cut files only; the CLOSED pre-cut
          // sessions join the stream's emissions driver-side (exact by
          // construction — see Boot's scaladoc). SPARK_GRAFT_FUZZ_MUTATE
          // wires the deliberate seam mutations: M1 seed_halfgap shrinks
          // the openness horizon to gap/2 (a truly-open spanning session
          // is wrongly closed and fragments away from its post-cut
          // continuation), M2 seed_double_emit emits every seeded-open
          // session ALSO as a closed row; M3 seed_no_timer and M4
          // seed_stale_timer are handled in the processor (seededStream
          // routes them). The knob must only ever be set for kill runs,
          // never in the standing gate; main() rejects unknown values up
          // front (r14 ADVICE — a typo'd knob silently ran unmutated and
          // read as "mutation not killed").
          import s.implicits._
          val (pre, post, cutMs) = bootSplit(s, dir, plan, bt)
          val preDf = Tables.normalizeTs(s.read.parquet(pre: _*), "ts")
            .withColumn("ts", col("ts").cast("timestamp"))
          val mutate = sys.env.getOrElse("SPARK_GRAFT_FUZZ_MUTATE", "")
          val horizonMs = if (mutate == "seed_halfgap") bt.gapMs / 2 else bt.gapMs
          val sess = sessTwin(bt.gapMs, bt.bucket)(preDf)
          val openCond = col("e") + horizonMs >= cutMs
          val closedRows =
            (if (mutate == "seed_double_emit") sess else sess.filter(!openCond))
              .collect().toIndexedSeq
          val seeds = sess.filter(openCond)
            .as[(Long, Long, Long, Long, Long)]
            .map { case (k, st, en, n, se) => (k, FzSess(st, en, n, se)) }
            .groupByKey(_._1).mapValues(_._2)
          val live = java.nio.file.Files.createTempDirectory("graft_fuzz_boot_")
          try {
            val arm = copyUpTo(live, post) _
            val mk: DataFrame => DataFrame = ev => bt.stream(ev, seeds)
            if (plan.restartAt == 0) {
              arm(post.size)
              run(live.toString, cp.toString, mk)
            } else {
              arm(plan.restartAt)
              run(live.toString, cp.toString, mk)
              arm(post.size)
              run(live.toString, cp.toString, mk)
            }
          } finally graft.util.Fs.deleteRecursively(live)
          closedRows
      }
      extra ++ collected.synchronized(collected.values.flatten.toSeq)
    } finally {
      // stop state-store maintenance and close providers BEFORE deleting
      // the checkpoint dir — same post-stop compaction race as the
      // trigger-regime gate (verdict r13 #3)
      org.apache.spark.sql.execution.streaming.state
        .GraftStateStoreHygiene.quiesce()
      graft.util.Fs.deleteRecursively(cp)
      if (plan.provider.isDefined) provPrev match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
  }

  /** Batch twin(s) plus the sift applied to the STREAM's emissions before
    * comparing (identity except for the outer-join deterministic-region
    * filter). Append plans get TWO twins — the <= and < closures of the
    * final-watermark threshold (see the object scaladoc) — complete/exact
    * plans one.
    *
    * Threshold filters run DRIVER-SIDE over the collected aggregate, NOT
    * as `.filter` on the frame: a predicate referencing only grouping
    * columns is pushed below the Aggregate by Catalyst, and for
    * `session_window` the pre-aggregation column is the per-event
    * PROTO-session `[ts, ts+gap)` — gap-merging happens inside the
    * aggregate — so a pushed end-filter drops events whose proto-session
    * crosses the threshold and silently reshapes the merged sessions
    * (caught by this fuzzer's first session plan, seed 303: three
    * one-event "sessions" the stream had correctly merged away). Tumbling
    * `window()` is immune — its pre-agg value IS the final window — which
    * is why only the session family tripped. That hazard is now pinned by
    * SessionWindowGuardSpec and guarded at analysis time by
    * plans.SessionWindowEndFilterGuard (r12).
    *
    * Returns None when the plan's comparison is undefined on this fixture:
    * an outer-join side left EMPTY by the event_id thinning would make
    * wm_final track only the surviving side (or NPE with both empty),
    * overstating the cutoff vs the stream's genuinely stalled watermark —
    * a spurious FAIL, not a defect (r12 ADVICE). The caller SKIPs such
    * plans; on the real sf0.01/10× fixtures every type has rows at every
    * thinning, so skips only ever fire on degenerate inputs.
    */
  private def runTwin(s: SparkSession, dir: String, plan: Plan)
      : Option[(Seq[Seq[String]], Seq[Row] => Seq[Row])] = {
    val events0 = Tables.load(s, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
    // a churned boot plan drops the same post-cut rows from the twin (and
    // from the final-watermark base below) that the stream never ingests —
    // both sides see the identical event set, so the comparison stays exact
    val events = plan.boot.filter(_.thinMod > 0) match {
      case Some(bt) =>
        val (_, _, cutMs) = bootSplit(s, dir, plan, bt)
        events0.filter(!(unix_millis(col("ts")) >= cutMs
          && col("user_id") % bt.thinMod === 0))
      case None => events0
    }
    val full = plan.twin(events)
    val keep = identity[Seq[Row]] _
    def globalMaxUs: Long =
      events.agg(max(unix_micros(col("ts")))).first().getLong(0)
    plan.emit match {
      case EComplete | EExact =>
        Some((Seq(rowSet(full.collect().toIndexedSeq)), keep))
      case ELastSnapshot =>
        // per key (col 0), keep the stream's max-n_seen (col 1) snapshot —
        // n_seen is strictly increasing per key, so that row IS the final
        // state; the twin is the exact batch answer, no threshold
        val lastPerKey: Seq[Row] => Seq[Row] = rows =>
          rows.groupBy(_.getLong(0)).values.map(_.maxBy(_.getLong(1))).toSeq
        Some((Seq(rowSet(full.collect().toIndexedSeq)), lastPerKey))
      case ESessionV2(g) =>
        // every non-last session per key is emitted by the merge itself
        // (range-staged chunks arrive in event-time order, so any session
        // with a successor event is superseded and flushed); the key's
        // LAST session (max end ms, col 2) emits only if its timer
        // lastMs + gap cleared the final watermark — both closures
        val thresholdMs = globalMaxUs / 1000L - plan.delayMin * 60000L
        val all = full.collect().toIndexedSeq
        val lastEnd: Map[Long, Long] = all.groupBy(_.getLong(0))
          .map { case (k, rs) => k -> rs.map(_.getLong(2)).max }
        def keepW(cmp: (Long, Long) => Boolean)(r: Row): Boolean =
          r.getLong(2) < lastEnd(r.getLong(0)) || cmp(r.getLong(2) + g, thresholdMs)
        Some((Seq(rowSet(all.filter(keepW(_ <= _))),
          rowSet(all.filter(keepW(_ < _)))), keep))
      case EWindowStruct =>
        val thresholdUs = (globalMaxUs / 1000L - plan.delayMin * 60000L) * 1000L
        // grouping puts the window/session struct first; end µs from the
        // struct's `end` field (epoch seconds × 1e6 + µs-of-second)
        def endUs(r: Row): Long = {
          val ts = r.getStruct(0).getAs[java.sql.Timestamp]("end")
          java.lang.Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
        }
        val all = full.collect().toIndexedSeq
        Some((Seq(rowSet(all.filter(r => endUs(r) <= thresholdUs)),
          rowSet(all.filter(r => endUs(r) < thresholdUs))), keep))
      case EWindowMs(w) =>
        // timers fire when the watermark passes the window end; w_start is
        // column 1 (epoch ms) in both the processor output and the twin
        val thresholdMs = globalMaxUs / 1000L - plan.delayMin * 60000L
        val all = full.collect().toIndexedSeq
        Some((Seq(rowSet(all.filter(r => r.getLong(1) + w <= thresholdMs)),
          rowSet(all.filter(r => r.getLong(1) + w < thresholdMs))), keep))
      case EOuterBand(spanMs, ta, tb, thin) =>
        // wm_final from the MIN over the two sides' own max event times
        // (each side's watermark tracks only its own — THINNED — rows);
        // null rows are deterministic only at or below wm_final − span,
        // so BOTH the twin and the stream emissions are cut there
        // (matched rows kept unconditionally — those are exact). BOTH
        // sides must survive the thinning or the band is undefined —
        // exactly two per-side max rows, else skip (r12 ADVICE).
        val sideMax = events
          .filter(col("event_type").isin(ta, tb) && col("event_id") % thin === 0)
          .groupBy(col("event_type")).agg(max(unix_micros(col("ts"))).as("mx"))
          .collect()
        if (sideMax.length != 2) None
        else {
          val sideMaxUs = sideMax.map(_.getLong(1)).min
          val cutoffUs =
            (sideMaxUs / 1000L - plan.delayMin * 60000L - spanMs) * 1000L
          def keepRow(r: Row): Boolean = !r.isNullAt(2) || r.getLong(0) <= cutoffUs
          val all = full.collect().toIndexedSeq
          Some((Seq(rowSet(all.filter(keepRow))), rows => rows.filter(keepRow)))
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val n = if (args.length > 1) args(1).toInt else 10
    val seed = if (args.length > 2) args(2).toLong else 42L
    // fail fast on a typo'd mutation knob (r14 ADVICE): an unrecognized
    // value used to run family I UNMUTATED, and the kill-evidence run
    // then read as "mutation not killed"
    val knownMutations =
      Set("seed_halfgap", "seed_double_emit", "seed_no_timer",
        "seed_stale_timer")
    sys.env.get("SPARK_GRAFT_FUZZ_MUTATE").foreach { mv =>
      require(knownMutations(mv),
        s"unknown SPARK_GRAFT_FUZZ_MUTATE '$mv' - known mutations: " +
          knownMutations.toSeq.sorted.mkString(", "))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      // 4 state partitions: the s-family's measured sweet spot for this
      // key cardinality (QueriesStreaming.withStatePartitions scaladoc)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[streamfuzz] dir=$dir plans=$n seed=$seed")
    val rng = new Random(seed)
    var failed = 0
    (0 until n).foreach { i =>
      val plan = gen(rng, i)
      runTwin(spark, dir, plan) match {
        case None =>
          // outer-band comparison undefined on this fixture (a join side
          // empty after thinning) — a fixture-shape skip, not a failure
          println(s"[streamfuzz] SKIP ${plan.desc}: join side empty after " +
            "thinning, outer band undefined")
        case Some((want, sift)) =>
          val got = rowSet(sift(runStream(spark, dir, plan)))
          if (want.exists(_ == got)) println(s"[streamfuzz] PASS ${plan.desc} (${got.size} rows)")
          else {
            failed += 1
            val w = want.head
            println(s"[streamfuzz] FAIL ${plan.desc}: stream=${got.size} rows, " +
              s"twin=${w.size} rows")
            (got.toSet -- w.toSet).take(3).foreach(r => println(s"  stream-only: $r"))
            (w.toSet -- got.toSet).take(3).foreach(r => println(s"  twin-only:   $r"))
          }
      }
    }
    println(s"[streamfuzz] ${n - failed}/$n plans pass (seed $seed, $dir)")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
