package graft.streaming

import graft.operators.KmvSketch
import org.apache.spark.sql.{Dataset, Encoders}
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

  /** Merge-insert event (t, cents) into a gap-separated sorted fragment
    * list `(start, last, n, cents)`: fragments wholly more than gap
    * BEFORE t stay, the ≤2 fragments within gap of t fuse with it (an
    * event can bridge its two neighbors), fragments wholly more than gap
    * AFTER t stay. Keeps both invariants (sorted by start AND by last —
    * gap-separated fragments cannot interleave) by construction.
    */
  private def mergeInsertFragment(
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
    * by the batch's own size). The residual: a later straggler within
    * gap of a fragment the overflow already emitted cannot merge into it
    * and emits as a session of its own (PARITY.md row 11).
    */
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

    override def handleInputRows(
        userId: Long,
        rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[SessionSummary] = {
      val out = Vector.newBuilder[SessionSummary]
      var fs: Vector[Frag] =
        if (frags.exists()) frags.get().toVector else Vector.empty
      rows.toVector.sortBy(r => (r.ts.getTime, r.eventId)).foreach { r =>
        fs = mergeInsertFragment(fs, gapMs, r.ts.getTime, r.cents)
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
    * `(inPrefix, nEvents, nMatches)`: the transition table, apart from
    * the processor's state handling.
    */
  private def patternStep(s: (Long, Long, Long),
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
    * single-trigger parity and ordered-split invariance). The residual:
    * a cross-batch late event is folded at arrival position, so it can
    * open, complete or break a match that the batch scan of the sorted
    * stream would not (PARITY.md row 12). Exact out-of-order CEP would
    * need per-user buffering up to the watermark, state that grows with
    * the events in the watermark horizon; three longs per user is the
    * trade taken here.
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
    * state `(nEvents, cusum, firstAlarmEventId)`: the recursion and the
    * alarm latch, apart from the processor's state handling.
    */
  private def cusumStep(s: (Long, Long, Long), eventId: Long,
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
    * CusumStreamSpec against a sequential replay. The residual: a
    * cross-batch late event folds at arrival position, so the statistic
    * and the latched alarm id can differ from the sequential replay of
    * the sorted stream (PARITY.md row 13).
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
}
