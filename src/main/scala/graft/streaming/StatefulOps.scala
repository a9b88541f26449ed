package graft.streaming

import graft.operators.KmvSketch
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{
  MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Arbitrary-state streaming on Spark 4's `transformWithState` — the
  * successor API to `mapGroupsWithState` (which the engine still uses in
  * [[StreamOps]] for the CDC snapshot and last-touch attribution, SURVEY.md
  * §2C streaming row). What the new API adds, and what this operator
  * exercises deliberately:
  *
  *   - MULTIPLE named state variables per key with independent lifecycles
  *     (a ValueState for the running totals, a MapState for per-type
  *     counts) instead of one monolithic state object rewritten per
  *     trigger — on RocksDB, the MapState's per-entry layout means a
  *     trigger touching one event type rewrites ONE store entry, not the
  *     whole user blob. At 100 TB/day with millions of live users that is
  *     the difference between O(touched entries) and O(state size) write
  *     amplification per trigger.
  *   - First-class per-variable TTL (TTLConfig) and timers; totals here
  *     use TTLConfig.NONE explicitly — the eviction contract for bounded
  *     state lives in the watermark/session specs (StateSoakSpec).
  *
  * Semantics: per user, a running (event count, exact-cents value total,
  * distinct event-type count) emitted in Update mode once per trigger the
  * user appears in. Deterministic regardless of row order within a
  * trigger (the fold is commutative), so parity with the batch groupBy
  * aggregate is exact — TransformWithStateSpec pins it, plus
  * trigger-split invariance and the store-entry shape.
  *
  * Requires the RocksDB state store provider (the API's only supported
  * backend), set by callers/specs via
  * `spark.sql.streaming.stateStore.providerClass`.
  */
object StatefulOps {

  final case class UserTotals(userId: Long, nEvents: Long, cents: Long, nTypes: Long)

  /** Per-user running profile processor. Keyed state:
    * `totals: ValueState[(n, cents)]`, `perType: MapState[type, n]`.
    */
  final class UserTotalsProcessor
      extends StatefulProcessor[Long, StreamOps.UserEvent, UserTotals] {
    @transient private var totals: ValueState[(Long, Long)] = _
    @transient private var perType: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState[(Long, Long)](
        "totals", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
      perType = getHandle.getMapState[String, Long](
        "perType", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        userId: Long,
        rows: Iterator[StreamOps.UserEvent],
        timerValues: TimerValues): Iterator[UserTotals] = {
      var (n, c) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { r =>
        n += 1
        c += r.cents
        val cur = if (perType.containsKey(r.eventType)) perType.getValue(r.eventType) else 0L
        perType.updateValue(r.eventType, cur + 1L)
      }
      totals.update((n, c))
      Iterator.single(UserTotals(userId, n, c, perType.keys().size.toLong))
    }
  }

  /** Wire the processor over a stream of user events; Update-mode rows of
    * the latest per-user running profile.
    */
  def runningUserTotals(events: Dataset[StreamOps.UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new UserTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** An event on the timed-session stream (real timestamp column so the
    * watermark — and therefore the event-time timers — have something to
    * advance on). */
  final case class TimedEvent(
    ts: java.sql.Timestamp, userId: Long, eventId: Long, cents: Long)

  final case class SessionSummary(
    userId: Long, startMs: Long, endMs: Long, nEvents: Long, cents: Long)

  /** Session closing by EVENT-TIME TIMER — what transformWithState adds
    * over both `session_window` (fixed aggregate shape only) and
    * `mapGroupsWithState` (whose processing-time timeouts make tests and
    * replays nondeterministic). Close time is a pure function of event
    * time, so replaying the same input gives the same output — wall-clock
    * never enters the semantics.
    *
    * State model (r12 verdict task 3 — the bounded multi-fragment
    * variant): per user, a SORTED LIST of up to `maxFragments` open
    * session fragments `(start, last, n, cents)`, pairwise separated by
    * more than `gapMs`. Every arriving event — in-order, late-in-batch,
    * or a cross-batch straggler — merge-inserts into that list: it lands
    * in the (at most two, since fragments are gap-separated) fragments
    * within `gapMs` of it, bridging them into one, or opens a new
    * fragment. This closes the residual the single-session + in-batch
    * pending accumulator carried through r11/r12: stragglers arriving in
    * DIFFERENT batches within gap of each other now fold into one
    * session, because the earlier fragment is still open in state rather
    * than already emitted at its batch boundary.
    *
    * Bounds, stated plainly: state is O(maxFragments) per live user —
    * fixed-size, watermark-evicted — and each fragment closes exactly
    * when the WATERMARK passes its `last + gap` (one live event-time
    * timer per user, armed at the EARLIEST open fragment's close time,
    * re-armed for the next on expiry). If a pathological arrival order
    * needs more than `maxFragments` concurrent open fragments, the
    * EARLIEST fragments are emitted at the END of the trigger —
    * emit-separately, the pre-r13 behavior, now the overflow fallback
    * instead of the only behavior (semantics strictly better, state
    * still fixed; trimming at batch end rather than per event keeps
    * in-batch straggler runs foldable even under overflow, at the cost
    * of the WORKING list briefly exceeding K within a trigger, bounded
    * by the batch's own size).
    */
  /** Merge-insert event (t, cents) into a gap-separated sorted fragment
    * list `(start, last, n, cents)`: fragments wholly more than gap
    * BEFORE t stay, the ≤2 fragments within gap of t fuse with it (an
    * event can bridge its two neighbors), fragments wholly more than gap
    * AFTER t stay. Keeps both invariants (sorted by start AND by last —
    * gap-separated fragments cannot interleave) by construction. Shared
    * by the O(maxFragments)-state [[SessionProcessor]] and the
    * buffered-exact [[BufferedSessionProcessor]] so the two siblings can
    * never diverge on the merge rule itself.
    */
  private[streaming] def mergeInsertFragment(
      fs: Vector[(Long, Long, Long, Long)], gapMs: Long, t: Long,
      cents: Long): Vector[(Long, Long, Long, Long)] = {
    val (before, rest) = fs.span { case (_, l, _, _) => l + gapMs < t }
    val (touch, after) = rest.span { case (s, _, _, _) => s - gapMs <= t }
    val fused: (Long, Long, Long, Long) =
      if (touch.isEmpty) (t, t, 1L, cents)
      else (math.min(touch.head._1, t), math.max(touch.last._2, t),
        touch.map(_._3).sum + 1L, touch.map(_._4).sum + cents)
    (before :+ fused) ++ after
  }

  /** One buffered-session fold step: [[mergeInsertFragment]] semantics
    * with a TAIL fast path. The general merge-insert re-scans the whole
    * fragment vector per event, which would make one settle cohort of k
    * gap-separated events O(k²) (a heartbeat key at the depth cap would
    * wedge a task for hours inside the memory guard). The fold invariant
    * makes the scan unnecessary: every due event's ts is strictly
    * greater than every previously FOLDED event's ts (a buffered event
    * survived past fold boundaries ⇔ its ts exceeds them), so it can
    * only extend/join the LAST fragment or open a new one after it —
    * and within a cohort events fold in ascending (ts, eventId) order,
    * preserving that property step by step. Anything t ≥ the tail's
    * start is provably single-touch (the previous fragment's
    * `last + gap < tailStart ≤ t` by gap separation), so only
    * t < tailStart falls back to the general path. Result equality with
    * pure merge-insert is property-pinned for arbitrary (not just
    * ascending) inputs by SessionFoldSpec.
    */
  private[streaming] def sessionFoldStep(
      fs: Vector[(Long, Long, Long, Long)], gapMs: Long, t: Long,
      cents: Long): Vector[(Long, Long, Long, Long)] =
    if (fs.isEmpty) Vector((t, t, 1L, cents))
    else {
      val (st0, l0, n0, c0) = fs.last
      if (t > l0 + gapMs) fs :+ ((t, t, 1L, cents))
      else if (t >= st0)
        fs.init :+ ((st0, math.max(l0, t), n0 + 1L, c0 + cents))
      else mergeInsertFragment(fs, gapMs, t, cents)
    }

  final class SessionProcessor(gapMs: Long, maxFragments: Int = 8)
      extends StatefulProcessor[Long, TimedEvent, SessionSummary] {
    require(maxFragments >= 1, s"maxFragments must be >= 1, got $maxFragments")
    private type Frag = (Long, Long, Long, Long) // (start, last, n, cents)
    @transient private var frags: ValueState[Seq[Frag]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      frags = getHandle.getValueState[Seq[Frag]](
        "fragments",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Frag]](),
        TTLConfig.NONE)
    }

    /** Merge-insert — see [[mergeInsertFragment]] (shared with the
      * buffered-exact sibling, [[BufferedSessionProcessor]]).
      */
    private def insert(fs: Vector[Frag], t: Long, cents: Long): Vector[Frag] =
      mergeInsertFragment(fs, gapMs, t, cents)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[SessionSummary] = {
      val out = Vector.newBuilder[SessionSummary]
      var fs: Vector[Frag] =
        if (frags.exists()) frags.get().toVector else Vector.empty
      rows.toVector.sortBy(r => (r.ts.getTime, r.eventId)).foreach { r =>
        fs = insert(fs, r.ts.getTime, r.cents)
      }
      // K-overflow fallback at END of batch (not per event — a per-event
      // eviction could emit a straggler's fragment out from under the
      // NEXT in-batch straggler within gap of it, splitting a session the
      // pre-r13 pending accumulator would have folded; within a batch the
      // fragment list may exceed K, bounded by the batch's own size):
      // emit the EARLIEST fragments (the most settled — every open
      // fragment after them starts later) so STATE stays fixed at
      // maxFragments entries
      while (fs.size > maxFragments) {
        val (s, l, n, c) = fs.head
        out += SessionSummary(userId, s, l, n, c)
        fs = fs.tail
      }
      frags.update(fs)
      // one live timer per user: the earliest open fragment's close time
      // (fragment lasts are ascending, so that is the head's)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(fs.head._2 + gapMs)
      out.result().iterator
    }

    override def handleExpiredTimer(
        userId: Long,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionSummary] = {
      // the watermark has passed the earliest close time; emit every
      // fragment whose gap the watermark has now exceeded (often just the
      // head, but a far watermark jump can close several at once), keep
      // the rest, and re-arm for the next-earliest close
      val wm = math.max(expiredTimerInfo.getExpiryTimeInMs(),
        timerValues.getCurrentWatermarkInMs())
      val fs: Vector[Frag] =
        if (frags.exists()) frags.get().toVector else Vector.empty
      val (due, live) = fs.partition { case (_, l, _, _) => l + gapMs <= wm }
      if (live.isEmpty) frags.clear()
      else {
        frags.update(live)
        getHandle.registerTimer(live.head._2 + gapMs)
      }
      due.iterator.map { case (s, l, n, c) => SessionSummary(userId, s, l, n, c) }
    }
  }

  /** Timer-closed sessionization over a watermarked event stream (the
    * caller declares `withWatermark("ts", delay)`); at most `maxFragments`
    * open fragments per user (see [[SessionProcessor]]).
    */
  def timedSessions(events: Dataset[TimedEvent], gapMs: Long,
      maxFragments: Int = 8): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    StreamOps.requireWatermark(events, "ts", "timedSessions")
    events
      .groupByKey(_.userId)
      .transformWithState(new SessionProcessor(gapMs, maxFragments),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class PatternCount(userId: Long, nEvents: Long, nMatches: Long)

  /** One step of the vc*p DFA (see [[PatternProcessor]]) over the state
    * `(inPrefix, nEvents, nMatches)`. Shared by [[PatternProcessor]] and
    * [[BufferedPatternProcessor]] so the two siblings can never diverge
    * on the transition table.
    */
  private[streaming] def patternStep(s: (Long, Long, Long),
      eventType: String): (Long, Long, Long) = {
    val (inPrefix, n, matches) = s
    eventType.headOption match {
      case Some('v') => (1L, n + 1, matches)
      case Some('c') => (inPrefix, n + 1, matches) // sustains an open prefix, never opens one
      case Some('p') =>
        if (inPrefix == 1L) (0L, n + 1, matches + 1) else (inPrefix, n + 1, matches)
      case _ => (0L, n + 1, matches)
    }
  }

  /** Streaming CEP — the incremental twin of q_events_pattern_match: the
    * regex scan "view, any clicks, purchase" (vc*p, non-overlapping,
    * left-to-right) compiled to a 2-state DFA folded over each user's
    * event stream. The batch query rebuilds the whole symbol string per
    * run; this processor holds THREE longs per user (prefix flag, event
    * count, match count) — state is O(live users), independent of history
    * length, which is what makes CEP viable on an unbounded stream (the
    * same reason Flink CEP compiles patterns to NFA state rather than
    * buffering events). DFA transitions mirror the regex scanner exactly:
    * 'v' (re)opens the prefix — including from inside an open prefix,
    * matching the scanner's restart-at-this-v behavior on "vvp" —
    * 'c' sustains it, 'p' completes a match and closes it, anything else
    * abandons it.
    *
    * Ordering contract: rows are sorted (ts, eventId) WITHIN a trigger;
    * parity with the batch regex count holds when triggers split the
    * per-user stream in event-time order (PatternMatchStreamSpec pins
    * single-trigger parity and ordered-split invariance). A cross-batch
    * late event is folded at arrival position — exact out-of-order CEP
    * needs watermark-bounded buffering (the timedSessions timer pattern),
    * traded away here for the fixed-size state;
    * [[patternMatchCountsExact]] is the opt-in buffered sibling that
    * makes the opposite trade (PARITY.md row 19).
    */
  final class PatternProcessor
      extends StatefulProcessor[Long, StreamOps.UserEvent, PatternCount] {
    @transient private var st: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[(Long, Long, Long)](
        "dfa",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    }

    override def handleInputRows(
        userId: Long,
        rows: Iterator[StreamOps.UserEvent],
        timerValues: TimerValues): Iterator[PatternCount] = {
      var s = if (st.exists()) st.get() else (0L, 0L, 0L)
      rows.toVector.sortBy(r => (r.tsUs, r.eventId)).foreach { r =>
        s = patternStep(s, r.eventType)
      }
      st.update(s)
      Iterator.single(PatternCount(userId, s._2, s._3))
    }
  }

  /** Wire the CEP DFA over a stream of user events; Update-mode rows of
    * the latest per-user (events seen, pattern matches) counters.
    */
  def patternMatchCounts(events: Dataset[StreamOps.UserEvent]): Dataset[PatternCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new PatternProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class CusumState(userId: Long, nEvents: Long, cusum: Long,
    firstAlarmEventId: Long) // -1 while no alarm

  /** One step of the CUSUM recursion (see [[CusumProcessor]]) over the
    * state `(nEvents, cusum, firstAlarmEventId)`. Shared by
    * [[CusumProcessor]] and [[BufferedCusumProcessor]] so the two
    * siblings can never diverge on the recursion or the alarm latch.
    */
  private[streaming] def cusumStep(s: (Long, Long, Long), eventId: Long,
      cents: Long, target: Long, threshold: Long): (Long, Long, Long) = {
    val (n, acc, alarm) = s
    val next = math.max(0L, acc + (cents - target))
    (n + 1, next, if (next > threshold && alarm < 0) eventId else alarm)
  }

  /** Streaming CUSUM drift monitor — the incremental twin of q_ts_cusum:
    * the batch query needs the prefix-min identity because window frames
    * can't express the recursion, but the RECURSION ITSELF is exactly
    * one long of streaming state: S ← max(0, S + (cents − target)).
    * Deviations are against a FIXED target (the deployed-monitor reality:
    * the baseline is calibrated offline, the monitor compares against
    * it), the alarm fires when S crosses `threshold`, and the first
    * alarming event id is latched so a replay reports the same detection
    * point. Rows fold in (tsUs, eventId) order within a trigger; ordered
    * trigger splits are invariant (state carries), pinned by
    * CusumStreamSpec against a sequential replay. A cross-batch late
    * event folds at arrival position; [[cusumMonitorExact]] is the
    * opt-in watermark-buffered sibling that folds in event-time order
    * instead (PARITY.md row 20).
    */
  final class CusumProcessor(target: Long, threshold: Long)
      extends StatefulProcessor[Long, StreamOps.UserEvent, CusumState] {
    @transient private var st: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[(Long, Long, Long)](
        "cusum",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    }

    override def handleInputRows(
        userId: Long,
        rows: Iterator[StreamOps.UserEvent],
        timerValues: TimerValues): Iterator[CusumState] = {
      var s = if (st.exists()) st.get() else (0L, 0L, -1L)
      rows.toVector.sortBy(r => (r.tsUs, r.eventId)).foreach { r =>
        s = cusumStep(s, r.eventId, r.cents, target, threshold)
      }
      st.update(s)
      Iterator.single(CusumState(userId, s._1, s._2, s._3))
    }
  }

  /** Wire the CUSUM monitor; Update-mode rows of the latest per-user
    * (events, statistic, first-alarm event id) state.
    */
  def cusumMonitor(events: Dataset[StreamOps.UserEvent], target: Long,
      threshold: Long): Dataset[CusumState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new CusumProcessor(target, threshold),
        TimeMode.None(), OutputMode.Update())
  }

  /** A pre-hashed observation on the sketch stream (callers hash with
    * `xxhash64(...)` in the plan so the processor stays value-agnostic).
    */
  final case class HashedValue(key: String, h: Long)

  /** The latest per-key sketch row: rows folded so far, the distinct
    * estimate, and the sketch array itself (exposed so parity against the
    * batch sketch can be asserted bit-for-bit, and so a downstream consumer
    * can keep merging — the sketch IS the mergeable summary).
    */
  final case class KmvSketchRow(key: String, nRows: Long, est: Long, sketch: Seq[Long])

  /** Streaming twin of the KMV distinct sketch (q_agg_kmv_set_ops /
    * [[graft.operators.KmvAggregator]]): per key, running bottom-k of the
    * distinct hashes seen so far.
    *
    * Why a sketch is THE streaming cardinality shape at 100 TB: exact
    * running COUNT(DISTINCT) state grows with the distinct count itself
    * (unbounded — the state store eventually holds every value ever seen),
    * while this state is ≤ k longs per key, FOREVER, with the estimate's
    * error fixed by k. And because the KMV merge is exact and
    * order/partition-independent (bottomK(a ∪ b) associative +
    * commutative, KmvSpec), the streaming state after ANY trigger split or
    * arrival order is BIT-IDENTICAL to the batch sketch of the same rows —
    * not approximately equal, equal — which KmvStreamSpec pins directly on
    * the emitted arrays. Exactly-once replay of a trigger is likewise
    * absorbed free: re-folding the same hashes cannot change a bottom-k.
    *
    * Update-mode: one refreshed row per key per trigger it appears in.
    */
  final class KmvDistinctProcessor(k: Int, ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, HashedValue, KmvSketchRow] {
    @transient private var sketch: ValueState[Seq[Long]] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sketch = getHandle.getValueState[Seq[Long]]("sketch",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]](),
        ttl)
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, ttl)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[HashedValue],
        timerValues: TimerValues): Iterator[KmvSketchRow] = {
      val cur = if (sketch.exists()) sketch.get() else Seq.empty[Long]
      var n = if (seen.exists()) seen.get() else 0L
      val batch = rows.map { r => n += 1; r.h }.toSeq
      val merged = KmvSketch.bottomK(k, cur ++ batch)
      sketch.update(merged)
      seen.update(n)
      Iterator.single(KmvSketchRow(key, n,
        KmvSketch.estimateDistinct(k, merged), merged))
    }
  }

  /** Wire the per-key KMV sketch; Update-mode rows of the latest sketch.
    * Per-key state is <= k longs forever, but the KEY COUNT is unbounded —
    * pass a processing-time `ttl` to evict idle keys when the key space is
    * open-ended (user ids, session ids); NONE only suits enum-like keys.
    */
  def kmvDistinct(values: Dataset[HashedValue], k: Int,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[KmvSketchRow] = {
    import values.sparkSession.implicits._
    values
      .groupByKey(_.key)
      .transformWithState(new KmvDistinctProcessor(k, ttl),
        TimeMode.None(), OutputMode.Update())
  }

  /** The latest per-key CMS row: rows folded so far and the serialized
    * sketch (Spark's own `org.apache.spark.util.sketch.CountMinSketch`
    * wire format — deserializable, mergeable, probe-able downstream).
    */
  final case class CmsSketchRow(key: String, nRows: Long, sketch: Array[Byte])

  /** Streaming twin of the Count-Min frequency sketch
    * (q_agg_cms_heavy_hitters): per key, a running CMS of the hashes seen
    * so far — bounded state (depth×width counters, fixed by ε/confidence)
    * where exact running per-value counts would grow with the distinct
    * count.
    *
    * Parity contract (CmsStreamSpec): CMS counters ADD commutatively, so —
    * same seed — the streaming sketch bytes after any trigger split or
    * arrival order are BIT-IDENTICAL to the batch single-pass sketch.
    * The deliberate CONTRAST with [[KmvDistinctProcessor]]: a bottom-k is
    * idempotent (replays absorbed free), while CMS counters are NOT — an
    * at-least-once replay of a trigger double-counts its rows. Pipelines
    * needing replay-proof frequencies must dedup upstream of this
    * operator (the engine's streaming dedup-within-watermark) or accept
    * the CMS estimate's upward drift; the spec pins BOTH behaviors so the
    * contract is explicit rather than discovered in production.
    */
  final class CmsFreqProcessor(eps: Double, confidence: Double, seed: Int,
      ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, HashedValue, CmsSketchRow] {
    @transient private var sketch: ValueState[Array[Byte]] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sketch = getHandle.getValueState[Array[Byte]]("cms", Encoders.BINARY, ttl)
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, ttl)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[HashedValue],
        timerValues: TimerValues): Iterator[CmsSketchRow] = {
      import org.apache.spark.util.sketch.CountMinSketch
      val cms =
        if (sketch.exists()) CountMinSketch.readFrom(sketch.get())
        else CountMinSketch.create(eps, confidence, seed)
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { r => n += 1; cms.addLong(r.h) }
      val bytes = cms.toByteArray
      sketch.update(bytes)
      seen.update(n)
      Iterator.single(CmsSketchRow(key, n, bytes))
    }
  }

  /** Wire the per-key CMS; Update-mode rows of the latest sketch.
    * Same key-cardinality note as [[kmvDistinct]]: pass a `ttl` for
    * open-ended key spaces.
    */
  def cmsFrequency(values: Dataset[HashedValue], eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[CmsSketchRow] = {
    import values.sparkSession.implicits._
    values
      .groupByKey(_.key)
      .transformWithState(new CmsFreqProcessor(eps, confidence, seed, ttl),
        TimeMode.None(), OutputMode.Update())
  }

  /** A stamped observation for the replay-proof CMS composition. The
    * event id is the idempotency token and the event time bounds how long
    * the dedup must remember it: the caller declares
    * `withWatermark("ts", delay)`, drops redeliveries with
    * `dropDuplicatesWithinWatermark("key", "eventId")`, and maps the
    * survivors to [[HashedValue]] for [[cmsFrequency]], whose counters
    * are not idempotent (CmsStreamSpec pins both forms).
    *
    * Token contract: `eventId` need only be unique PER KEY among live
    * events inside the watermark horizon, because the dedup key is the
    * (key, eventId) pair; a key reusing an id for two different live
    * events loses the second. Cost: the dedup holds one state row per
    * event id inside the horizon, O(events in the delay window) where the
    * CMS fold alone is O(keys); a replay later than the horizon counts
    * again, so choose the delay to cover the source's redelivery window
    * (e.g. the Kafka transaction timeout).
    */
  final case class StampedValue(
    ts: java.sql.Timestamp, eventId: Long, key: String, h: Long)

  /** A raw observation on the quantile stream (values, not hashes — rank
    * queries need the actual magnitudes).
    */
  final case class Observation(key: String, v: Double)

  /** The latest per-key quantile row: rows folded so far and the running
    * p50/p95/p99 of everything seen.
    */
  final case class QuantileRow(key: String, nRows: Long,
      p50: Double, p95: Double, p99: Double)

  /** Streaming quantiles — the third member of the bounded-state sketch
    * family (KMV = cardinality, CMS = frequency, this = rank/percentile):
    * per key, a running Greenwald–Khanna summary (Spark's own
    * `QuantileSummaries`, the engine behind `approxQuantile`) answering
    * p50/p95/p99 over everything seen so far — the canonical streaming
    * latency-percentile monitor. State is O(1/ε · log(ε·n)) tuples
    * regardless of how many observations arrive; exact running
    * percentiles would require retaining every value forever.
    *
    * Contract honesty (QuantileStreamSpec pins all three family members'
    * DIFFERENT parity guarantees): KMV streaming state is bit-identical
    * to batch; CMS bytes are bit-identical but replays double-count; a GK
    * summary's internal structure depends on insertion/compression order,
    * so across trigger splits the summaries may DIFFER STRUCTURALLY while
    * every query keeps the rank guarantee — the spec therefore asserts
    * the ε·n rank envelope of each emitted percentile against the true
    * sorted ranks, per split shape, not byte equality.
    */
  final class QuantileProcessor(relativeError: Double,
      ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, Observation, QuantileRow] {
    @transient private var summary: ValueState[Array[Byte]] = _

    private def deserialize(b: Array[Byte]): org.apache.spark.sql.catalyst.util.QuantileSummaries = {
      val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
      try in.readObject().asInstanceOf[org.apache.spark.sql.catalyst.util.QuantileSummaries]
      finally in.close()
    }

    private def serialize(s: org.apache.spark.sql.catalyst.util.QuantileSummaries): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      try { out.writeObject(s); out.flush(); bos.toByteArray }
      finally out.close()
    }

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      summary = getHandle.getValueState[Array[Byte]]("gk", Encoders.BINARY, ttl)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[Observation],
        timerValues: TimerValues): Iterator[QuantileRow] = {
      import org.apache.spark.sql.catalyst.util.QuantileSummaries
      var s =
        if (summary.exists()) deserialize(summary.get())
        else new QuantileSummaries(
          QuantileSummaries.defaultCompressThreshold, relativeError)
      rows.foreach(r => s = s.insert(r.v))
      s = s.compress()
      summary.update(serialize(s))
      def q(phi: Double): Double = s.query(phi).getOrElse(Double.NaN)
      Iterator.single(QuantileRow(key, s.count, q(0.5), q(0.95), q(0.99)))
    }
  }

  /** Wire the per-key running percentiles; Update-mode rows of the latest
    * p50/p95/p99.
    */
  def runningQuantiles(values: Dataset[Observation],
      relativeError: Double = 0.01,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[QuantileRow] = {
    import values.sparkSession.implicits._
    values
      .groupByKey(_.key)
      .transformWithState(new QuantileProcessor(relativeError, ttl),
        TimeMode.None(), OutputMode.Update())
  }

  // =====================================================================
  // Watermark-buffered EXACT mode for the order-exact fold trio
  // (r13 verdict task 4; PARITY.md rows 9, 12, 13).
  //
  // The O(1)-state processors above (CEP DFA, CUSUM, last-touch
  // attribution in StreamOps) fold a cross-batch late event at ARRIVAL
  // position — the one guarantee-class residual left in the ledger. These
  // sibling entry points close it by buying exactness with bounded
  // buffering: per key, events are BUFFERED until the watermark passes
  // them, then folded in (event-time, eventId) order from an event-time
  // timer. Any arrival order the watermark admits — including an event
  // landing triggers AFTER later-timestamped events of the same key —
  // produces the fold of the globally sorted sequence, so the result is
  // bit-exact vs the batch fold over the watermark-admitted rows
  // (BufferedExactStreamSpec pins it under shuffled multi-trigger
  // arrival, per operator).
  //
  // The price, stated plainly (the same bound PARITY row 16 pays for
  // replay-proof CMS): state is O(events inside the watermark horizon)
  // per key, vs the defaults' O(1) longs — so the defaults REMAIN the
  // defaults, and this mode is for pipelines whose sources genuinely
  // deliver cross-batch out-of-order data and whose semantics cannot
  // tolerate arrival-position folds. Rows later than the watermark are
  // dropped by the operator's own late-record filter (the standard
  // event-time contract; choose the delay to cover the source's disorder
  // window). Replay behavior is unchanged from the underlying folds: a
  // redelivered event inside the horizon re-enters the buffer, so a
  // replay-proof pipeline puts `dropDuplicatesWithinWatermark("userId",
  // "eventId")` between the caller's `withWatermark("ts", delay)` and the
  // operator, exactly as row 16 does for the CMS; the dedup state is
  // O(events in horizon), the same class the buffer already pays.
  // =====================================================================

  /** Session conf capping buffered events per key in the buffered-exact
    * operators. The settle fold materializes and sorts a key's whole
    * backlog, so a key that exceeds the cap fails at INGEST with a named
    * error naming this conf — never an executor OOM at settle (the same
    * philosophy as [[graft.plans.IntervalJoinExec.MaxDepthKey]]).
    *
    * The default's cost AT the cap is measured, not guessed (r14 verdict
    * task 3; AbBench `buffered-capfold-1M`, RocksDB provider, one key
    * driven to exactly 1M buffered events): the full-backlog settle
    * trigger runs **1.9-2.0 s wall** (stable across 3 runs on a
    * co-tenant-loaded host) with a **~240-300 MB peak-used-heap delta**
    * over the pre-settle baseline (sampled at 10 ms; the boxed tuple
    * vector + its sort copy + the RocksDB list read ≈ 0.3 KB/event) —
    * comfortably inside a normal executor heap, so the fold stays the
    * simple one-pass materialize+sort. Raising the cap scales both
    * linearly: budget ~0.3 KB of task heap per buffered event.
    */
  val MaxBufferedEventsKey = "spark.graft.bufferedExact.maxEvents"
  val DefaultMaxBufferedEvents: Long = 1000000L

  private def bufferedCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get(MaxBufferedEventsKey, DefaultMaxBufferedEvents.toString).toLong

  /** An event on the buffered-exact streams: a real timestamp column for
    * the watermark, then the same (user, id, type, cents) surface the
    * unbuffered trio consumes.
    */
  final case class TimedUserEvent(
    ts: java.sql.Timestamp, userId: Long, eventId: Long, eventType: String, cents: Long)

  /** A purchase credited by the buffered-exact attribution; `tsMs` is the
    * purchase's event time in epoch millis (named for its unit — the
    * unbuffered twin's `tsUs` carries the long microsecond column of the
    * events table).
    */
  final case class AttributedPurchaseTs(
    userId: Long, purchaseEventId: Long, tsMs: Long, cents: Long, touchType: String)

  /** Shared skeleton of the buffered-exact trio: a per-key event buffer
    * (ListState of (tsMs, eventId, type, cents) tuples) plus the
    * operator's own small fold state `S`. Input rows only append to the
    * buffer and keep ONE event-time timer armed at the MINIMUM buffered
    * event's ts — the first watermark advance past that event fires it;
    * the timer callback folds exactly the buffered events with
    * `tsMs <= watermark`, in (tsMs, eventId) order, through `fold`,
    * emits whatever the fold produced plus a `snapshot` of the updated
    * state, and keeps the not-yet-due rest buffered (re-arming at the
    * remainder's minimum).
    *
    * Two layout decisions keep a T-trigger horizon at O(new events) per
    * trigger instead of O(buffered × T):
    *
    *  1. The buffer is a ListState, not a ValueState[Seq[...]]: RocksDB
    *     implements list appends as merge operations, so
    *     `handleInputRows` writes O(new events) bytes per touched key
    *     per trigger without reading or re-encoding what is already
    *     buffered.
    *  2. The timer is armed at the EARLIEST buffered event's ts (tracked
    *     in a tiny ValueState), not at `watermark + 1`: it fires only
    *     when that event has actually settled. A wm+1 timer fires on
    *     every watermark advance and its callback reads — and, for the
    *     live remainder, rewrites — the whole buffer even when nothing
    *     is due yet, which is a full-buffer pass per trigger for every
    *     key with a long-horizon backlog.
    *
    * AbBench measured both regimes end-to-end:
    * `cep-buffered-exact-600k` (~1.5-trigger horizon, buffers ~11
    * events) and `cep-buffered-longhorizon-600k` (8-trigger backlog,
    * buffers growing to 300 events before anything settles).
    *
    * Exactly-once-fold invariant, spelled out (the soundness hinge): a
    * fold pass at watermark W covers buffered events with ts <= W; the
    * operator's late filter admits an arriving event only when ts is
    * STRICTLY past the current watermark (ts == watermark drops —
    * pinned by the admission-boundary spec case), and the watermark is
    * monotone, so no admitted event's ts can be <= any PAST fold
    * boundary. Fold cohorts therefore partition the admitted stream
    * into disjoint ascending ts ranges — each event folds exactly once,
    * ties (same ts, different eventId) always land in one cohort and
    * sort by eventId inside it, and cross-cohort order is ts order.
    */
  abstract private[streaming] class WatermarkBufferedProcessor[S, O](
      maxBuffered: Long = DefaultMaxBufferedEvents)
      extends StatefulProcessor[Long, TimedUserEvent, O] {
    protected type BufEvent = (Long, Long, String, Long) // (tsMs, eventId, type, cents)

    protected def stateEncoder: org.apache.spark.sql.Encoder[S]
    protected def zero: S
    /** Fold one event (in global event-time order) into the state;
      * returns the new state and any rows to emit for THIS event
      * (append-style operators emit here, counter-style ones from
      * [[snapshot]]).
      */
    protected def fold(userId: Long, s: S, e: BufEvent): (S, Seq[O])
    /** Rows summarizing the state after a timer's fold pass (empty for
      * append-style operators).
      */
    protected def snapshot(userId: Long, s: S): Seq[O]

    // --- settle hooks (r15, for the sessionization sibling) -------------
    /** Post-fold pass over the state at watermark `wm`: return the state
      * to keep and the rows to emit. The trio's default keeps the state
      * and emits [[snapshot]]; sessionization overrides it to EXTRACT the
      * fragments the watermark has closed (emitting them) and keep the
      * open rest.
      */
    protected def settle(userId: Long, s: S, wm: Long): (S, Seq[O]) =
      (s, snapshot(userId, s))
    /** Run [[settle]] on a timer pass even when no buffered event was due
      * — sessionization needs it (a fragment's close time `last + gap`
      * lies BEYOND its last event, so the closing pass has an empty fold),
      * the trio does not (their timers only ever arm at buffered-event
      * timestamps, so a fire always has due events).
      */
    protected def settleOnEmptyFold: Boolean = false
    /** The state's own next wake-up (e.g. the earliest open fragment's
      * `last + gap`), independent of any buffered event. None for the
      * trio: their folded state never needs a timer of its own.
      */
    protected def nextTimerFromState(s: S): Option[Long] = None
    /** True when the settled state carries nothing — the key's folded
      * ValueState is cleared instead of updated, so a fully-drained key
      * leaves ZERO state behind. The trio keeps its per-user counters
      * forever (they are the result), so the default is false.
      */
    protected def stateIsEmpty(s: S): Boolean = false

    @transient private var buf: org.apache.spark.sql.streaming.ListState[BufEvent] = _
    @transient private var st: ValueState[S] = _
    // (expiry of the key's ONE live timer, buffered count). Since the r15
    // settle hooks the first element is NOT always a buffered event ts: it
    // is min(min buffered ts, the state's own next wake-up from
    // nextTimerFromState — e.g. the session rider's earliest open-fragment
    // close time). handleInputRows' `mn < cur` comparison relies on that
    // single-live-timer-expiry meaning, not on "min buffered ts". The
    // cache is deliberate — listTimers() is a RocksDB prefix scan per
    // call, this is one small ValueState read. The sync invariant (armed == the single
    // live timer's expiry, count == buffer length, or none exist) must
    // hold on all three write paths — input re-arm, fold re-arm, fold
    // drain — and survives restart with the rest of the state (pinned by
    // the checkpoint-restart spec). The count feeds the depth guard: the
    // fold materializes the whole backlog, so a pathological key must
    // fail with a NAMED error at ingest, not an executor OOM at settle
    // (same philosophy as IntervalJoinExec's maxDepth guard).
    @transient private var armed: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[BufEvent](
        "buffer",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[BufEvent](),
        TTLConfig.NONE)
      st = getHandle.getValueState[S]("folded", stateEncoder, TTLConfig.NONE)
      armed = getHandle.getValueState[(Long, Long)]("armedTs",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    }

    override def handleInputRows(
        userId: Long,
        rows: Iterator[TimedUserEvent],
        timerValues: TimerValues): Iterator[O] = {
      val added = rows.map(r => (r.ts.getTime, r.eventId, r.eventType, r.cents)).toArray
      if (added.nonEmpty) {
        // the guard runs BEFORE any state write (r14 ADVICE): the armed
        // count is one tiny ValueState read, so an over-cap batch rejects
        // without merging into the ListState — the named error then never
        // depends on the provider rolling back a failed task attempt, and
        // a retrying source does not re-append the same backlog each loop
        val prior = if (armed.exists()) Some(armed.get()) else None
        val n = prior.fold(0L)(_._2) + added.length
        guardDepth(userId, n)
        buf.appendList(added)
        var mn = Long.MaxValue
        added.foreach(e => if (e._1 < mn) mn = e._1)
        // keep one live timer per key at the earliest buffered ts. NOTE:
        // the late-event filter admits against the PREVIOUS batch's
        // watermark while getCurrentWatermarkInMs() here is the eviction
        // watermark, so mn may be <= the current watermark — Spark fires
        // a past-expiry timer in this same batch's timer phase, which is
        // exactly the fold timing we want; do not "optimize" by skipping
        // registration for past expiries
        prior match {
          case Some((cur, _)) =>
            if (mn < cur) {
              getHandle.deleteTimer(cur)
              getHandle.registerTimer(mn)
              armed.update((mn, n))
            } else armed.update((cur, n))
          case None =>
            getHandle.registerTimer(mn)
            armed.update((mn, n))
        }
      }
      Iterator.empty
    }

    private def guardDepth(userId: Long, n: Long): Unit =
      if (n > maxBuffered) throw new IllegalStateException(
        s"buffered-exact state for key $userId reached $n events inside the " +
          s"watermark horizon (cap $maxBuffered). The settle fold materializes " +
          s"the whole backlog, so this would risk an executor OOM; shorten the " +
          s"watermark delay, pre-aggregate the key, or raise " +
          s"$MaxBufferedEventsKey")

    override def handleExpiredTimer(
        userId: Long,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[O] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val cur: Seq[BufEvent] = if (buf.exists()) buf.get().toVector else Vector.empty
      val (due, live) = cur.partition(_._1 <= wm)
      val out = Vector.newBuilder[O]
      // the state's own next wake-up after this pass (None for the trio)
      var stateTimer: Option[Long] = None
      if (due.nonEmpty || settleOnEmptyFold) {
        var s = if (st.exists()) st.get() else zero
        due.sortBy(e => (e._1, e._2)).foreach { e =>
          val (s2, os) = fold(userId, s, e)
          s = s2
          out ++= os
        }
        val (s3, settled) = settle(userId, s, wm)
        if (stateIsEmpty(s3)) st.clear() else st.update(s3)
        out ++= settled
        stateTimer = nextTimerFromState(s3)
      } else if (st.exists()) {
        stateTimer = nextTimerFromState(st.get())
      }
      if (live.isEmpty) buf.clear()
      else {
        // replace-in-full is the rare path (only rows past the watermark
        // survive a fold) and bounded by the live remainder, not history
        buf.put(live.toArray)
      }
      val bufTimer =
        if (live.isEmpty) None
        else Some(live.minBy(_._1)._1)
      (bufTimer.toSeq ++ stateTimer.toSeq).reduceOption(_ min _) match {
        case Some(t) =>
          // t > wm always: a buffered live event has ts > wm by the
          // partition above, and nextTimerFromState only returns closes
          // the settle pass left OPEN, i.e. beyond wm — so the new timer
          // never collides with the one that just fired
          getHandle.registerTimer(t)
          armed.update((t, live.size.toLong))
        case None => armed.clear()
      }
      out.result().iterator
    }
  }

  /** Buffered-exact CEP: same vc*p DFA as [[PatternProcessor]], folded in
    * event-time order once the watermark settles each event — bit-exact
    * vs the batch regex scan for any admitted arrival order.
    */
  final class BufferedPatternProcessor(maxBuffered: Long = DefaultMaxBufferedEvents)
      extends WatermarkBufferedProcessor[(Long, Long, Long), PatternCount](maxBuffered) {
    protected def stateEncoder =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    protected def zero = (0L, 0L, 0L)
    protected def fold(userId: Long, s: (Long, Long, Long), e: BufEvent) =
      (patternStep(s, e._3), Seq.empty)
    protected def snapshot(userId: Long, s: (Long, Long, Long)) =
      Seq(PatternCount(userId, s._2, s._3))
  }

  /** Buffered-exact CUSUM: the [[CusumProcessor]] recursion folded in
    * event-time order — the latched first-alarm event id is the batch
    * one regardless of arrival order.
    */
  final class BufferedCusumProcessor(target: Long, threshold: Long,
      maxBuffered: Long = DefaultMaxBufferedEvents)
      extends WatermarkBufferedProcessor[(Long, Long, Long), CusumState](maxBuffered) {
    protected def stateEncoder =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    protected def zero = (0L, 0L, -1L)
    protected def fold(userId: Long, s: (Long, Long, Long), e: BufEvent) =
      (cusumStep(s, e._2, e._4, target, threshold), Seq.empty)
    protected def snapshot(userId: Long, s: (Long, Long, Long)) =
      Seq(CusumState(userId, s._1, s._2, s._3))
  }

  /** Buffered-exact last-touch attribution: purchases emit (append) at
    * fold time with the best strictly-preceding touch by EVENT TIME — a
    * touch arriving a trigger after "its" purchase now claims it, the
    * exact residual PARITY row 9 documents for the unbuffered twin.
    */
  final class BufferedAttributionProcessor(maxBuffered: Long = DefaultMaxBufferedEvents)
      extends WatermarkBufferedProcessor[(Long, Long, String), AttributedPurchaseTs](maxBuffered) {
    protected def stateEncoder =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING)
    protected def zero = (-1L, -1L, "none")
    protected def fold(userId: Long, s: (Long, Long, String), e: BufEvent) =
      e._3 match {
        case "purchase" =>
          (s, Seq(AttributedPurchaseTs(userId, e._2, e._1, e._4, s._3)))
        case "click" | "view" =>
          // events fold in ascending (ts, eventId), so each touch is the
          // new best-so-far by construction
          ((e._1, e._2, e._3), Seq.empty)
        case _ => (s, Seq.empty)
      }
    protected def snapshot(userId: Long, s: (Long, Long, String)) = Seq.empty
  }

  /** Buffered-exact CEP counts (Update mode: one refreshed row per user
    * per timer pass that folded something). See the section scaladoc for
    * the guarantee/state trade vs [[patternMatchCounts]].
    */
  def patternMatchCountsExact(events: Dataset[TimedUserEvent]): Dataset[PatternCount] = {
    import events.sparkSession.implicits._
    StreamOps.requireWatermark(events, "ts", "patternMatchCountsExact")
    events
      .groupByKey(_.userId)
      .transformWithState(new BufferedPatternProcessor(bufferedCap(events.sparkSession)),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Buffered-exact CUSUM monitor (Update mode). */
  def cusumMonitorExact(events: Dataset[TimedUserEvent], target: Long,
      threshold: Long): Dataset[CusumState] = {
    import events.sparkSession.implicits._
    StreamOps.requireWatermark(events, "ts", "cusumMonitorExact")
    events
      .groupByKey(_.userId)
      .transformWithState(new BufferedCusumProcessor(target, threshold,
          bufferedCap(events.sparkSession)),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Buffered-exact last-touch attribution (Append mode: each purchase
    * emits exactly once, when the watermark settles it).
    */
  def lastTouchAttributionExact(events: Dataset[TimedUserEvent]): Dataset[AttributedPurchaseTs] = {
    import events.sparkSession.implicits._
    StreamOps.requireWatermark(events, "ts", "lastTouchAttributionExact")
    events
      .groupByKey(_.userId)
      .transformWithState(new BufferedAttributionProcessor(bufferedCap(events.sparkSession)),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Buffered-exact sessionization (r14 verdict task 4) — the fourth
    * rider on [[WatermarkBufferedProcessor]], closing PARITY row 11's
    * `maxFragments` overflow fallback: events buffer per user until the
    * watermark settles them, merge-insert into an UNBOUNDED gap-separated
    * fragment list (same [[mergeInsertFragment]] rule as the bounded
    * sibling), and a fragment emits exactly when the watermark passes its
    * `last + gapMs` — at which point NO admitted event can ever extend it
    * (an extending event needs ts ≤ last + gap ≤ watermark, which the
    * strict-> admission filter drops), so sessions are bit-exact vs the
    * batch gap-sessionization for ANY admitted arrival order and ANY
    * trigger split, with no overflow fallback.
    *
    * What it pays for that: state is O(open fragments + unsettled events)
    * per user instead of the sibling's fixed O(maxFragments) — the same
    * horizon-bounded class as rows 19-21, guarded by the same
    * [[MaxBufferedEventsKey]] ingest cap. Two hook overrides carry the
    * session shape through the shared skeleton: [[settle]] EXTRACTS
    * closed fragments from the folded state (the trio only snapshots it),
    * and [[nextTimerFromState]] keeps a wake-up armed at the earliest
    * open fragment's close time even when the event buffer is empty —
    * a fragment's close lies strictly beyond its last event, which is
    * also why `settleOnEmptyFold`: the closing timer pass has nothing
    * left to fold.
    */
  final class BufferedSessionProcessor(gapMs: Long,
      maxBuffered: Long = DefaultMaxBufferedEvents)
      extends WatermarkBufferedProcessor[Seq[(Long, Long, Long, Long)],
        SessionSummary](maxBuffered) {
    private type Frag = (Long, Long, Long, Long) // (start, last, n, cents)
    protected def stateEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Frag]]()
    protected def zero: Seq[Frag] = Vector.empty
    override protected def settleOnEmptyFold: Boolean = true
    override protected def stateIsEmpty(s: Seq[Frag]): Boolean = s.isEmpty
    // fragment lasts are ascending (gap-separated fragments cannot
    // interleave), so the earliest close is the head's
    override protected def nextTimerFromState(s: Seq[Frag]): Option[Long] =
      s.headOption.map(_._2 + gapMs)
    protected def fold(userId: Long, s: Seq[Frag], e: BufEvent): (Seq[Frag], Seq[SessionSummary]) =
      (sessionFoldStep(s.toVector, gapMs, e._1, e._4), Seq.empty)
    protected def snapshot(userId: Long, s: Seq[Frag]): Seq[SessionSummary] = Seq.empty
    override protected def settle(userId: Long, s: Seq[Frag],
        wm: Long): (Seq[Frag], Seq[SessionSummary]) = {
      val (due, live) = s.partition { case (_, l, _, _) => l + gapMs <= wm }
      (live, due.map { case (st, l, n, c) => SessionSummary(userId, st, l, n, c) })
    }
  }

  /** Re-shape timed-session events onto the buffered skeleton's event
    * surface. A projection, not a typed `map`: the map would re-serialize
    * the rows and drop the caller's watermark from `ts`.
    */
  private def asUserEvents(events: Dataset[TimedEvent]): Dataset[TimedUserEvent] = {
    import events.sparkSession.implicits._
    events.toDF().withColumn("eventType", lit("session")).as[TimedUserEvent]
  }

  /** Buffered-exact sessionization (Append mode: each session emits
    * exactly once, final, when the watermark passes its close). See
    * [[BufferedSessionProcessor]] for the guarantee/state trade vs
    * [[timedSessions]].
    */
  def timedSessionsExact(events: Dataset[TimedEvent], gapMs: Long): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    StreamOps.requireWatermark(events, "ts", "timedSessionsExact")
    asUserEvents(events)
      .groupByKey(_.userId)
      .transformWithState(new BufferedSessionProcessor(gapMs,
          bufferedCap(events.sparkSession)),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
