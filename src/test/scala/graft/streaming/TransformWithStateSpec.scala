package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** transformWithState (StatefulOps.runningUserTotals) — Spark 4's
  * arbitrary-state API with multiple named state variables (ValueState
  * totals + MapState per-type counts) on the RocksDB store. Pins:
  * batch-aggregate parity of the final per-user rows, trigger-split
  * invariance (the fold is commutative and state carries across
  * triggers), and Update-mode re-emission of refreshed keys only.
  */
class TransformWithStateSpec extends SparkSpec {
  import spark.implicits._
  import StreamOps.UserEvent
  import StatefulOps.UserTotals

  private val events = Seq(
    UserEvent(1L, 100L, 1L, "view", 0L),
    UserEvent(1L, 200L, 2L, "purchase", 999L),
    UserEvent(1L, 300L, 3L, "purchase", 500L),
    UserEvent(2L, 50L, 4L, "click", 0L),
    UserEvent(2L, 60L, 5L, "view", 0L),
    UserEvent(3L, 10L, 6L, "error", 7L))

  // batch truth: per-user (n, cents, distinct types)
  private val want = Map(
    1L -> UserTotals(1L, 3L, 1499L, 2L),
    2L -> UserTotals(2L, 2L, 0L, 2L),
    3L -> UserTotals(3L, 1L, 7L, 1L))

  /** transformWithState requires the RocksDB provider; scope it to one body
    * and restore whatever was set before (shared session — leaking the conf
    * would silently re-provider every later streaming test in the JVM).
    */
  private def run(batches: Seq[Seq[UserEvent]], name: String): Seq[UserTotals] =
    withRocksDBProvider {
      val in = MemoryStream[UserEvent](spark)
      val q = StatefulOps.runningUserTotals(in.toDS())
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName(name).start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[UserTotals].collect().toSeq
    }

  /** Latest emitted row per user = the running profile's final value. */
  private def latest(rows: Seq[UserTotals]): Map[Long, UserTotals] =
    rows.groupBy(_.userId).map { case (u, rs) => u -> rs.maxBy(_.nEvents) }

  test("single trigger matches the batch aggregate per user") {
    assert(latest(run(Seq(events), "tws_one")) == want)
  }

  test("state carries across triggers: split runs converge to the same totals") {
    assert(latest(run(events.grouped(2).toSeq, "tws_split")) == want)
    assert(latest(run(events.map(Seq(_)), "tws_rows")) == want)
  }

  test("event-time timers close sessions when the watermark passes the gap") {
    import StatefulOps.{SessionSummary, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val base = 1700000000000L
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000L)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_sessions").start()
      // user 1: two events 30s apart (one session); user 2: one event
      in.addData(
        TimedEvent(t(base), 1L, 1L, 100L),
        TimedEvent(t(base + 30000L), 1L, 2L, 200L),
        TimedEvent(t(base + 10000L), 2L, 3L, 50L))
      q.processAllAvailable()
      // watermark still at base+30s: no session may close yet
      assert(spark.table("tws_sessions").count() == 0L)
      // advance the watermark far past both gaps; timers must fire
      in.addData(TimedEvent(t(base + 10 * 60000L), 9L, 9L, 1L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 20 * 60000L), 9L, 10L, 1L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_sessions").as[SessionSummary].collect()
        .map(s => s.userId -> ((s.startMs, s.endMs, s.nEvents, s.cents))).toMap
      assert(got(1L) == ((base, base + 30000L, 2L, 300L)))
      assert(got(2L) == ((base + 10000L, base + 10000L, 1L, 50L)))
    }
  }

  test("a late-but-within-watermark event extends the session start backwards") {
    import StatefulOps.{SessionSummary, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val base = 1700000000000L
      val in = MemoryStream[TimedEvent](spark)
      // generous watermark delay so the cross-batch late event is NOT dropped
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "10 minutes"), gapMs = 60000L)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_late_start").start()
      in.addData(TimedEvent(t(base + 40000L), 1L, 1L, 100L))
      q.processAllAvailable()
      // arrives in a LATER batch but predates the stored session start
      in.addData(TimedEvent(t(base + 10000L), 1L, 2L, 50L))
      q.processAllAvailable()
      // push the watermark far past the gap so the timer closes the session
      in.addData(TimedEvent(t(base + 60 * 60000L), 9L, 9L, 1L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 120 * 60000L), 9L, 10L, 1L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_late_start").as[SessionSummary].collect()
        .filter(_.userId == 1L)
      assert(got.length == 1)
      // startMs must be the LATE event's earlier time, and it must be counted
      assert(got.head.startMs == base + 10000L && got.head.endMs == base + 40000L)
      assert(got.head.nEvents == 2L && got.head.cents == 150L)
    }
  }

  test("a late event more than gap before the session start closes as its own fragment") {
    import StatefulOps.{SessionSummary, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val base = 1700000000000L
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "10 minutes"), gapMs = 60000L)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_late_frag").start()
      in.addData(TimedEvent(t(base + 300000L), 1L, 1L, 100L))
      q.processAllAvailable()
      // later batch, 5 min BEFORE the stored start (gap is 1 min): must NOT
      // merge into a session whose internal gap would exceed the gap —
      // it closes immediately as its own singleton fragment
      in.addData(TimedEvent(t(base), 1L, 2L, 50L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 60 * 60000L), 9L, 9L, 1L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 120 * 60000L), 9L, 10L, 1L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_late_frag").as[SessionSummary].collect()
        .filter(_.userId == 1L).sortBy(_.startMs)
      assert(got.length == 2)
      assert(got(0).startMs == base && got(0).endMs == base &&
        got(0).nEvents == 1L && got(0).cents == 50L)
      assert(got(1).startMs == base + 300000L && got(1).endMs == base + 300000L &&
        got(1).nEvents == 1L && got(1).cents == 100L)
    }
  }

  test("same-batch stragglers within gap of each other merge into one fragment") {
    import StatefulOps.{SessionSummary, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val base = 1700000000000L
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "10 minutes"), gapMs = 60000L)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_frag_merge").start()
      in.addData(TimedEvent(t(base + 300000L), 1L, 1L, 100L))
      q.processAllAvailable()
      // one later batch with TWO stragglers, both > gap before the stored
      // start but within gap (30s) of EACH OTHER: they must fold into ONE
      // earlier fragment (the pending accumulator), not two singletons —
      // the in-batch half of the r10 ADVICE; the cross-batch residual
      // remains documented
      in.addData(
        TimedEvent(t(base), 1L, 2L, 50L),
        TimedEvent(t(base + 30000L), 1L, 3L, 25L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 60 * 60000L), 9L, 9L, 1L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 120 * 60000L), 9L, 10L, 1L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_frag_merge").as[SessionSummary].collect()
        .filter(_.userId == 1L).sortBy(_.startMs)
      assert(got.length == 2, s"expected merged fragment + main session, got ${got.toList}")
      assert(got(0).startMs == base && got(0).endMs == base + 30000L &&
        got(0).nEvents == 2L && got(0).cents == 75L)
      assert(got(1).startMs == base + 300000L && got(1).nEvents == 1L)
    }
  }

  test("a straggler fragment merges when in-batch events backward-extend the start to within gap") {
    import StatefulOps.{SessionSummary, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val base = 1700000000000L
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "10 minutes"), gapMs = 60000L)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_frag_backmerge").start()
      in.addData(TimedEvent(t(base + 300000L), 1L, 1L, 100L))
      q.processAllAvailable()
      // one later batch: a straggler at +195s (105s before the stored
      // start of +300s, > gap -> routed to pending) AND an event at +245s
      // (within gap of the stored start -> backward-extends it via
      // min(s,t) to +245s). The extended start is now 50s after the
      // fragment's end — INSIDE the gap — so end-of-batch must fold the
      // fragment into the session (r11 ADVICE: the in-batch residual),
      // yielding ONE session [195s, 300s] with every internal gap <= 60s,
      // not a split singleton + [245s, 300s].
      in.addData(
        TimedEvent(t(base + 195000L), 1L, 2L, 50L),
        TimedEvent(t(base + 245000L), 1L, 3L, 25L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 60 * 60000L), 9L, 9L, 1L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 120 * 60000L), 9L, 10L, 1L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_frag_backmerge").as[SessionSummary].collect()
        .filter(_.userId == 1L)
      assert(got.length == 1, s"expected one merged session, got ${got.toList}")
      assert(got.head.startMs == base + 195000L && got.head.endMs == base + 300000L)
      assert(got.head.nEvents == 3L && got.head.cents == 175L)
    }
  }

  test("the fragment merge also fires at an INLINE close later in the same batch") {
    import StatefulOps.{SessionSummary, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val base = 1700000000000L
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "10 minutes"), gapMs = 60000L)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_frag_inline").start()
      in.addData(TimedEvent(t(base + 300000L), 1L, 1L, 100L))
      q.processAllAvailable()
      // one batch: straggler +195s (pending), +245s (backward-extends the
      // stored start to within gap of the fragment), then +400s — beyond
      // the gap, so the session closes INLINE, not at end of batch. The
      // merge must fire at that close too: without it this emits a split
      // [195,195] + [245,300] even though every internal gap is <= 60s
      // (the code-review counterexample to the first end-of-batch-only fix)
      in.addData(
        TimedEvent(t(base + 195000L), 1L, 2L, 50L),
        TimedEvent(t(base + 245000L), 1L, 3L, 25L),
        TimedEvent(t(base + 400000L), 1L, 4L, 10L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 60 * 60000L), 9L, 9L, 1L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 120 * 60000L), 9L, 10L, 1L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_frag_inline").as[SessionSummary].collect()
        .filter(_.userId == 1L).sortBy(_.startMs)
      assert(got.length == 2, s"expected merged session + trailing session, got ${got.toList}")
      assert(got(0).startMs == base + 195000L && got(0).endMs == base + 300000L &&
        got(0).nEvents == 3L && got(0).cents == 175L)
      assert(got(1).startMs == base + 400000L && got(1).endMs == base + 400000L &&
        got(1).nEvents == 1L && got(1).cents == 10L)
    }
  }

  test("stragglers in DIFFERENT batches within gap of each other merge into one session") {
    // the r12 verdict task 3 residual, closed: pre-r13 the first
    // straggler's fragment was emitted at its batch boundary, so the
    // second straggler (next trigger, within gap of it) emitted as a
    // second singleton; the fragment list keeps it OPEN in state until
    // its own watermark-close, so the two fold into one session
    import StatefulOps.{SessionSummary, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val base = 1700000000000L
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "10 minutes"), gapMs = 60000L)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_xbatch_merge").start()
      in.addData(TimedEvent(t(base + 300000L), 1L, 1L, 100L))
      q.processAllAvailable()
      // straggler #1: > gap before the stored session -> its own fragment
      in.addData(TimedEvent(t(base), 1L, 2L, 50L))
      q.processAllAvailable()
      // straggler #2, in a LATER batch, 30s after straggler #1 (within
      // gap of it, still > gap before the +300s session)
      in.addData(TimedEvent(t(base + 30000L), 1L, 3L, 25L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 60 * 60000L), 9L, 9L, 1L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 120 * 60000L), 9L, 10L, 1L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_xbatch_merge").as[SessionSummary].collect()
        .filter(_.userId == 1L).sortBy(_.startMs)
      assert(got.length == 2, s"expected merged straggler pair + main session, got ${got.toList}")
      assert(got(0).startMs == base && got(0).endMs == base + 30000L &&
        got(0).nEvents == 2L && got(0).cents == 75L,
        s"cross-batch stragglers did not merge: ${got.toList}")
      assert(got(1).startMs == base + 300000L && got(1).nEvents == 1L)
    }
  }

  test("beyond maxFragments open fragments the earliest emits separately (overflow fallback)") {
    import StatefulOps.{SessionSummary, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val base = 1700000000000L
      val in = MemoryStream[TimedEvent](spark)
      // K = 2 open fragments; all events land in ONE batch so the
      // watermark never closes anything mid-test
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "10 minutes"), gapMs = 60000L,
        maxFragments = 2)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_overflow").start()
      // three mutually gap-separated singletons: the third insert
      // overflows K=2 and must emit the EARLIEST (base) immediately
      in.addData(
        TimedEvent(t(base + 600000L), 1L, 1L, 100L),
        TimedEvent(t(base + 300000L), 1L, 2L, 50L),
        TimedEvent(t(base), 1L, 3L, 25L))
      q.processAllAvailable()
      val early = spark.table("tws_overflow").as[SessionSummary].collect()
        .filter(_.userId == 1L)
      assert(early.length == 1 && early.head.startMs == base &&
        early.head.nEvents == 1L,
        s"overflow did not emit the earliest fragment: ${early.toList}")
      // a LATER straggler within gap of the evicted fragment cannot merge
      // with it (it already emitted) — the documented fallback: it opens
      // a fresh fragment and emits separately, exactly pre-r13 behavior
      in.addData(TimedEvent(t(base + 30000L), 1L, 4L, 10L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 60 * 60000L), 9L, 9L, 1L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 120 * 60000L), 9L, 10L, 1L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_overflow").as[SessionSummary].collect()
        .filter(_.userId == 1L).sortBy(s => (s.startMs, s.endMs))
      // four sessions total: evicted [base], fallback [base+30s],
      // [base+300s], [base+600s]
      assert(got.length == 4, s"expected 4 sessions, got ${got.toList}")
      assert(got(0).startMs == base && got(0).endMs == base)
      assert(got(1).startMs == base + 30000L && got(1).nEvents == 1L)
      assert(got(2).startMs == base + 300000L)
      assert(got(3).startMs == base + 600000L)
    }
  }

  test("overflow trims at END of batch: an in-batch straggler run folds before any eviction") {
    // the r13 code-review counterexample to per-event eviction: K=2 with
    // state already holding two far-future fragments; ONE batch delivers
    // two stragglers within gap of each other. Per-event overflow would
    // emit [base] out from under [base+30s] (two split singletons); the
    // end-of-batch trim lets them fold first, emitting ONE [base, +30s]
    // session with 2 events — the pre-r13 pending-accumulator fold.
    import StatefulOps.{SessionSummary, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val base = 1700000000000L
      val in = MemoryStream[TimedEvent](spark)
      // 30min delay: batch 1's max ts is base+10min, so the batch-2
      // straggler at ts=base stays safely inside the watermark
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "30 minutes"), gapMs = 60000L,
        maxFragments = 2)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_overflow_fold").start()
      in.addData(
        TimedEvent(t(base + 600000L), 1L, 1L, 100L),
        TimedEvent(t(base + 300000L), 1L, 2L, 50L))
      q.processAllAvailable()
      in.addData(
        TimedEvent(t(base), 1L, 3L, 25L),
        TimedEvent(t(base + 30000L), 1L, 4L, 10L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 60 * 60000L), 9L, 9L, 1L))
      q.processAllAvailable()
      in.addData(TimedEvent(t(base + 120 * 60000L), 9L, 10L, 1L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_overflow_fold").as[SessionSummary].collect()
        .filter(_.userId == 1L).sortBy(_.startMs)
      assert(got.length == 3, s"expected folded straggler pair + 2 sessions, got ${got.toList}")
      assert(got(0).startMs == base && got(0).endMs == base + 30000L &&
        got(0).nEvents == 2L && got(0).cents == 35L,
        s"in-batch straggler run split under overflow: ${got.toList}")
      assert(got(1).startMs == base + 300000L && got(2).startMs == base + 600000L)
    }
  }

  test("real-data parity: streaming sessions equal batch gap-sessionization under an out-of-order 3-way trigger split") {
    // the strongest pin on the r13 multi-fragment rewrite: REAL events
    // (sf0.001: 15 users, 1000 events, 30 days), dealt pseudo-randomly
    // across THREE triggers — so nearly every user sees cross-batch
    // stragglers in both directions — must still produce EXACTLY the
    // batch gap-sessionization of the sorted stream. Ground truth is the
    // definitional fold (sort per user, split on gap > gapMs), computed
    // in-process; maxFragments=64 sits above any user's session count so
    // the overflow fallback never engages (it has its own test).
    import StatefulOps.{SessionSummary, TimedEvent}
    import org.apache.spark.sql.functions.col
    withRocksDBProvider {
      val gapMs = 8L * 3600 * 1000
      val events = graft.Graft.table(spark, sf(), "events")
        .select(col("ts"), col("user_id"), col("event_id"))
        .collect()
        .map(r => TimedEvent(r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(2) % 997L))
        .toSeq
      assert(events.nonEmpty)
      val truth: Set[SessionSummary] = events.groupBy(_.userId).flatMap {
        case (u, es) =>
          es.sortBy(e => (e.ts.getTime, e.eventId))
            .foldLeft(Vector.empty[(Long, Long, Long, Long)]) { (acc, e) =>
              val t = e.ts.getTime
              acc.lastOption match {
                case Some((s, l, n, c)) if t - l <= gapMs =>
                  acc.init :+ ((s, t, n + 1L, c + e.cents))
                case _ => acc :+ ((t, t, 1L, e.cents))
              }
            }
            .map { case (s, l, n, c) => SessionSummary(u, s, l, n, c) }
      }.toSet
      // deterministic pseudo-random deal: Knuth-hash the event id into
      // one of three triggers — stragglers in BOTH directions, every run
      val batches = (0 until 3).map(i =>
        events.filter(e => math.floorMod(e.eventId * 2654435761L, 3L) == i))
      assert(batches.forall(_.nonEmpty))
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessions(in.toDS().withWatermark("ts", "35 days"), gapMs = gapMs,
        maxFragments = 64)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_real_parity").start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      // sentinel user pushes the watermark past every close time
      val maxTs = events.map(_.ts.getTime).max
      val sentinel = 999999999L
      in.addData(TimedEvent(new java.sql.Timestamp(maxTs + 40L * 86400000L),
        sentinel, 1L, 0L))
      q.processAllAvailable()
      in.addData(TimedEvent(new java.sql.Timestamp(maxTs + 80L * 86400000L),
        sentinel, 2L, 0L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_real_parity").as[SessionSummary].collect()
        .filter(_.userId != sentinel).toSet
      val missing = truth -- got
      val extra = got -- truth
      assert(missing.isEmpty && extra.isEmpty,
        s"streaming != batch sessionization: missing=${missing.take(3)} extra=${extra.take(3)} " +
          s"(|truth|=${truth.size}, |got|=${got.size})")
    }
  }

  test("un-watermarked input: Spark runs the timer operator, timedSessions fails by name") {
    import StatefulOps.{SessionProcessor, TimedEvent}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    withRocksDBProvider {
      val in = MemoryStream[TimedEvent](spark)
      // Spark itself starts event-time timers without a watermark; they
      // never fire, so no session closes and its state is never evicted
      val q = in.toDS().groupByKey(_.userId)
        .transformWithState(new SessionProcessor(60000L), TimeMode.EventTime(), OutputMode.Append())
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("tws_unwatermarked").start()
      in.addData(TimedEvent(t(1700000000000L), 1L, 1L, 100L)); q.processAllAvailable()
      in.addData(TimedEvent(t(1700000000000L + 3600000L), 9L, 2L, 1L)); q.processAllAvailable()
      in.addData(TimedEvent(t(1700000000000L + 7200000L), 9L, 3L, 1L)); q.processAllAvailable()
      q.stop()
      assert(spark.table("tws_unwatermarked").count() == 0L)
      val err = intercept[IllegalArgumentException](StatefulOps.timedSessions(in.toDS(), gapMs = 60000L))
      assert(err.getMessage.startsWith("timedSessions: column 'ts' carries no event-time watermark"),
        err.getMessage)
    }
  }

  test("update mode re-emits only keys refreshed in the trigger") {
    val out = run(Seq(
      Seq(UserEvent(7L, 1L, 1L, "view", 0L)),
      Seq(UserEvent(8L, 2L, 2L, "click", 0L))), "tws_update")
    // user 7 appears once (trigger 1) — not re-emitted by trigger 2
    assert(out.count(_.userId == 7L) == 1 && out.count(_.userId == 8L) == 1)
  }

  test("timedSessions restart: an open fragment and an armed timer survive a checkpoint restart") {
    sessionRestart("graft-tws-restart")
  }

  test("timedSessions restart exactness holds under RocksDB changelog checkpointing") {
    // Graft.session turns changelog checkpointing on: the restart must
    // rebuild the same fragments and timers from changelog replay as
    // from full snapshots. Both runs in changelog mode.
    sessionRestart("graft-tws-restart-cl",
      confRun1 = Map(ChangelogKey -> "true"),
      confRun2 = Map(ChangelogKey -> "true"))
  }

  test("a snapshot-mode timedSessions checkpoint restarts exactly under changelog checkpointing") {
    // the path a checkpoint written without the Graft.session default
    // takes: run 1 with changelog checkpointing off, run 2 with it on
    sessionRestart("graft-tws-restart-tog",
      confRun1 = Map(ChangelogKey -> "false"),
      confRun2 = Map(ChangelogKey -> "true"))
  }

  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** One stop/restart of `timedSessions` (gap 5s, delay 10s) on a file
    * source with a parquet sink; `confRun1`/`confRun2` are the session
    * confs of the run before and after the restart. Every pre-stop ts is
    * at most 24s, so the watermark at the stop is 14s:
    *  - u1's events at 10s and 12s form a fragment whose close (17s) is
    *    past that watermark, so it is open at the stop. A straggler at
    *    16.5s after the restart (admitted: > 14s) is within gap of it and
    *    must extend it, so the `fragments` state came back.
    *  - u2's one event at 24s arms a timer at 29s and gets no event after
    *    the restart, so only the recovered timer can close it. It must
    *    emit exactly once, after the restart.
    *  - u9 advances the watermark; its first session (1s) closes before
    *    the stop, which shows the pre-stop sink is readable and held no
    *    u1 or u2 row.
    */
  private def sessionRestart(dirPrefix: String,
      confRun1: Map[String, String] = Map.empty,
      confRun2: Map[String, String] = Map.empty): Unit = {
    import StatefulOps.{SessionSummary, TimedEvent}
    val in = newDir(s"$dirPrefix-in")
    val ckpt = newDir(s"$dirPrefix-ckpt")
    val out = newDir(s"$dirPrefix-out")
    def put(rows: String*): Unit = {
      val f = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(in), "part", ".json")
      java.nio.file.Files.writeString(f, rows.mkString("\n") + "\n")
      ()
    }
    def js(uid: Long, ms: Long, id: Long) =
      s"""{"tsMs":$ms,"userId":$uid,"eventId":$id,"cents":1}"""
    def src = spark.readStream
      .schema("tsMs bigint, userId bigint, eventId bigint, cents bigint")
      .json(in)
      .selectExpr("timestamp_millis(tsMs) as ts", "userId", "eventId", "cents")
      .as[TimedEvent]
    def startQuery() = withRocksDBProvider {
      StatefulOps.timedSessions(src.withWatermark("ts", "10 seconds"), gapMs = 5000L)
        .writeStream.outputMode(OutputMode.Append).format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
    }
    def emitted() = spark.read.parquet(out).as[SessionSummary].collect().toSeq
    // a streaming query reads these confs when it starts
    withConf(confRun1.toSeq: _*) {
      val q1 = startQuery()
      put(js(1L, 10000, 0), js(1L, 12000, 1), js(2L, 24000, 10),
        js(9L, 1000, 90), js(9L, 24000, 91))
      q1.processAllAvailable()
      put(js(9L, 23000, 92)) // a batch in which u9's 6s timer fires
      q1.processAllAvailable()
      q1.stop()
    }
    val before = emitted()
    assert(before == Seq(SessionSummary(9L, 1000L, 1000L, 1L, 1L)),
      s"before the restart only u9's first session may have closed: $before")
    withConf(confRun2.toSeq: _*) {
      val q2 = startQuery()
      put(js(1L, 16500, 2), js(9L, 40000, 93))
      q2.processAllAvailable()
      put(js(9L, 60000, 94)) // wm 50s: both sessions are past their close
      q2.processAllAvailable()
      put(js(9L, 70000, 95)) // backstop advance for any re-armed timer
      q2.processAllAvailable()
      q2.stop()
    }
    val rows = emitted().filter(_.userId <= 2L).sortBy(_.userId)
    assert(rows == Seq(
      SessionSummary(1L, 10000L, 16500L, 3L, 3L),
      SessionSummary(2L, 24000L, 24000L, 1L, 1L)),
      s"restart lost timedSessions fragments or timers: $rows")
    // the restarted run committed in the mode it was given
    val changelogs = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try files.filter(_.toString.endsWith(".changelog")).count()
      finally files.close()
    }
    assert((changelogs > 0) == confRun2.get(ChangelogKey).contains("true"),
      s"$changelogs changelog files under the checkpoint for $confRun2")
  }
}
