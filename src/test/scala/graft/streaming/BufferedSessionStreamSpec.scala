package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The watermark-buffered EXACT sessionization (r14 verdict task 4;
  * PARITY row 22) — the fourth rider on the buffered-exact skeleton.
  * Contract under test: sessions equal the BATCH gap-sessionization of
  * the globally (event-time, eventId)-sorted events for ANY admitted
  * arrival order and ANY trigger split — including the shape the bounded
  * sibling (PARITY row 11) documents as its residual: more than
  * `maxFragments` concurrently-open fragments, where the bounded form
  * emits the earliest early and a later straggler then SPLITS a session
  * the batch truth merges. Batch truth is an independent walk of the
  * sorted events, not the processor's own merge rule.
  */
class BufferedSessionStreamSpec extends SparkSpec {
  import spark.implicits._
  import StatefulOps.{SessionSummary, TimedEvent}

  private def t(ms: Long) = new java.sql.Timestamp(ms)
  private def ev(uid: Long, ms: Long, id: Long = 0L, cents: Long = 1L) =
    TimedEvent(t(ms), uid, ms / 100 + id, cents)

  /** Deliver `batches`, then two flush batches (second lets the first's
    * timer pass fire — the BufferedExactStreamSpec pattern), return the
    * sink rows for non-flush users.
    */
  private def run(batches: Seq[Seq[TimedEvent]], name: String,
      checkpoint: Option[String] = None)(
      wire: org.apache.spark.sql.Dataset[TimedEvent] => org.apache.spark.sql.Dataset[SessionSummary]): Seq[SessionSummary] =
    withRocksDBProvider {
      val in = MemoryStream[TimedEvent](spark)
      val w0 = wire(in.toDS())
        .writeStream.outputMode(OutputMode.Append).format("memory").queryName(name)
      val q = checkpoint.fold(w0)(c => w0.option("checkpointLocation", c)).start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      in.addData(ev(999L, 200000L)); q.processAllAvailable()
      in.addData(ev(999L, 260000L)); q.processAllAvailable()
      q.stop()
      spark.table(name).as[SessionSummary].collect().toSeq
        .filter(_.userId != 999L).sortBy(s => (s.userId, s.startMs))
    }

  /** Independent batch truth: walk the (ts, eventId)-sorted events, split
    * whenever the next event is more than `gap` past the session's last.
    */
  /** The replay-proof composition: the caller's one watermark, then
    * `dropDuplicatesWithinWatermark` on the (userId, eventId) pair
    * upstream of the buffered operator.
    */
  private def replayProof(ds: org.apache.spark.sql.Dataset[TimedEvent], delay: String) =
    ds.withWatermark("ts", delay).dropDuplicatesWithinWatermark("userId", "eventId")

  private def truth(evs: Seq[TimedEvent], gap: Long): Seq[SessionSummary] =
    evs.groupBy(_.userId).toSeq.flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e.ts.getTime, e.eventId))
      val out = Seq.newBuilder[SessionSummary]
      var cur: Option[SessionSummary] = None
      sorted.foreach { e =>
        val ts = e.ts.getTime
        cur match {
          case Some(s) if ts <= s.endMs + gap =>
            cur = Some(s.copy(endMs = math.max(s.endMs, ts),
              nEvents = s.nEvents + 1, cents = s.cents + e.cents))
          case Some(s) =>
            out += s
            cur = Some(SessionSummary(uid, ts, ts, 1L, e.cents))
          case None =>
            cur = Some(SessionSummary(uid, ts, ts, 1L, e.cents))
        }
      }
      cur.foreach(out += _)
      out.result()
    }.sortBy(s => (s.userId, s.startMs))

  test("cross-batch reversed arrival sessionizes bit-exactly vs the batch truth") {
    // u1: two sessions [10s..12s] and [30s..31s] (gap 5s); u2: one session
    // bridged by an event that arrives LAST but sits in the MIDDLE by
    // event time. Delivery is reversed: each user's latest events arrive
    // first; watermark delay 60s admits everything.
    val u1 = Seq(ev(1L, 10000, 1), ev(1L, 11500, 2), ev(1L, 12000, 3),
      ev(1L, 30000, 4), ev(1L, 31000, 5))
    val u2 = Seq(ev(2L, 20000, 1), ev(2L, 28000, 3), ev(2L, 24000, 2))
    val all = u1 ++ u2
    val got = run(Seq(Seq(u1(3), u1(4), u2(1)), Seq(u1(2), u2(2)),
      Seq(u1(0), u1(1), u2(0))), "bs_reversed")(
      ds => StatefulOps.timedSessionsExact(ds.withWatermark("ts", "60 seconds"), gapMs = 5000L))
    assert(got == truth(all, 5000L), s"got $got\nexpected ${truth(all, 5000L)}")
  }

  test("straggler beyond maxFragments merges - the bounded sibling's row-11 residual, closed") {
    // 10 gap-separated fragments open concurrently in batch 1 (the
    // bounded sibling at its default maxFragments=8 emits the 2 earliest
    // at batch end); the batch-2 straggler lands within gap of fragment
    // #1, so the batch truth merges them into ONE session. The exact form
    // must match the truth; the bounded form must show the split (that is
    // the residual this operator closes — if the bounded form stops
    // splitting, row 11's contract changed and BOTH rows need re-pinning).
    val gap = 2000L
    val frags = (0 until 10).map(i => ev(3L, 10000L + i * 10000L, 1))
    val straggler = ev(3L, 11500L, 2) // within gap of fragment #1 (10s..10s)
    val all = frags :+ straggler
    val exact = run(Seq(frags, Seq(straggler)), "bs_overflow")(
      ds => StatefulOps.timedSessionsExact(ds.withWatermark("ts", "120 seconds"), gapMs = gap))
    assert(exact == truth(all, gap), s"exact form: got $exact\nexpected ${truth(all, gap)}")
    assert(exact.count(_.userId == 3L) == 10L, "straggler must merge, not open an 11th session")
    val bounded = run(Seq(frags, Seq(straggler)), "bs_overflow_bounded")(
      ds => StatefulOps.timedSessions(ds.withWatermark("ts", "120 seconds"), gapMs = gap))
    assert(bounded.count(_.userId == 3L) == 11L,
      s"the bounded sibling should still split under K-overflow (residual contract): $bounded")
  }

  test("sessions emit exactly once and the key's state fully drains after close") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bs-drain").toString
    val evs = Seq(ev(4L, 10000, 1), ev(4L, 12000, 2), ev(4L, 40000, 3))
    val got = run(Seq(evs, Seq(ev(998L, 50000L))), "bs_drain", Some(ckpt))(
      ds => StatefulOps.timedSessionsExact(ds.withWatermark("ts", "10 seconds"), gapMs = 5000L))
      .filter(_.userId == 4L)
    assert(got == truth(evs, 5000L), s"got $got")
    // append finality: exactly one row per session even though the flush
    // batches kept advancing the watermark afterwards
    assert(got.size == got.distinct.size, s"duplicate session rows: $got")
    // drain: the closed user's buffer, fragments, and armed cache are all
    // gone from the store (read offline; flush user 999's state may live)
    withRocksDBProvider {
      Seq("buffer", "folded", "armedTs").foreach { v =>
        val live = spark.read.format("statestore").option("stateVarName", v)
          .load(ckpt).where("key.value = 4").count()
        assert(live == 0L, s"state var '$v' still holds rows for the drained key")
      }
    }
  }

  test("fuzz: random trigger assignments all sessionize to the batch truth") {
    // 12 events per seed spanning 3 gap-separated sessions for one user
    // plus an interleaved second user, randomly dealt into 3 triggers —
    // any admitted arrival order must reproduce the batch walk (the same
    // fuzz contract rows 19-21 carry)
    val gap = 3000L
    val evs = Seq(10000L, 11000L, 12500L, 20000L, 21000L, 30000L).zipWithIndex.flatMap {
      case (ms, i) => Seq(ev(6L, ms, i), ev(7L, ms + 500L, i))
    }
    Seq(11L, 23L, 47L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val batches = Seq.newBuilder[Seq[TimedEvent]]
      val dealt = evs.map(e => (rnd.nextInt(3), e))
      (0 until 3).foreach { b => batches += dealt.collect { case (`b`, e) => e } }
      val got = run(batches.result(), s"bs_fuzz_$seed")(
        ds => StatefulOps.timedSessionsExact(ds.withWatermark("ts", "60 seconds"), gapMs = gap))
      assert(got == truth(evs, gap), s"seed $seed: got $got\nexpected ${truth(evs, gap)}")
    }
  }

  test("checkpoint restart preserves fragments, buffer, and timers (row 22 across a WAL recovery)") {
    restartScenario("graft-bs")
  }

  test("restart exactness holds under RocksDB changelog checkpointing") {
    // r15 verdict task 5: at 100 TB-class state, per-trigger FULL-snapshot
    // uploads dominate streaming checkpoint cost;
    // `...rocksdb.changelogCheckpointing.enabled` is the public knob that
    // moves commits to O(trigger delta) changelog uploads. The knob only
    // earns a recommendation if recovery is EXACT under it — replaying
    // changelogs on top of the last snapshot must rebuild the same
    // fragments, buffer, and timers the full-snapshot path does. Same
    // scenario as the WAL-recovery test above, changelog mode on for both
    // the original run and the restart.
    withConf(ChangelogKey -> "true") {
      restartScenario("graft-bscl")
    }
  }

  test("an existing non-changelog checkpoint restarts exactly under the new changelog default") {
    // Graft.session now enables changelog checkpointing by default
    // (r16 measure-and-decide), so every user holding a checkpoint
    // written BEFORE the flip hits exactly this restart: snapshot-mode
    // checkpoint, changelog-mode resume. The decision's scaladoc claims
    // Spark supports the toggle across restarts — this pins the claim on
    // row 22's fragments/buffer/timers recovery scenario instead of
    // leaving it as a doc assertion (run 1 with the old default OFF,
    // run 2 with the new default ON).
    restartScenario("graft-bstog",
      confRun1 = Map(ChangelogKey -> "false"),
      confRun2 = Map(ChangelogKey -> "true"))
  }

  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** The row-22 stop/restart scenario, shared by the default-mode and
    * changelog-mode restart tests; `confRun1`/`confRun2` set per-phase
    * session confs (the toggle test runs the phases under DIFFERENT
    * checkpoint modes). Three facts across one stop/restart
    * (gap 5s, delay 10s; every pre-stop ts <= 24s so the stop-point
    * watermark is 14s — the open fragment's close at 17s and the buffered
    * 24s event both sit PAST it, and the 16.5s straggler is still
    * admissible after the restart):
    *  - u1's two events (10s, 12s) FOLD into an open fragment before
    *    the stop; the post-restart straggler at 16.5s (> wm 14s, within
    *    gap of the fragment's last 12s) must MERGE into it -> the
    *    fragment ValueState survived;
    *  - u2's 24s event is still BUFFERED (unfolded) at the stop and
    *    must fold with a post-restart 25s event into one session -> the
    *    ListState buffer survived;
    *  - both sessions emit exactly once, from timer passes after the
    *    restart -> the armed timers survived.
    */
  private def restartScenario(dirPrefix: String,
      confRun1: Map[String, String] = Map.empty,
      confRun2: Map[String, String] = Map.empty): Unit = {
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
      StatefulOps.timedSessionsExact(src.withWatermark("ts", "10 seconds"), gapMs = 5000L)
        .writeStream.outputMode(OutputMode.Append).format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
    }
    // per-phase conf: set before the phase's query starts, restored after
    // it stops (a streaming query reads these at start)
    withConf(confRun1.toSeq: _*) {
      val q1 = startQuery()
      put(js(1L, 10000, 0), js(1L, 12000, 1), js(2L, 24000, 10), js(9L, 24000, 90))
      q1.processAllAvailable()
      put(js(9L, 23000, 91)) // timer pass at wm 14s folds u1 into an open fragment
      q1.processAllAvailable()
      q1.stop()
    }
    withConf(confRun2.toSeq: _*) {
      val q2 = startQuery()
      put(js(1L, 16500, 2), js(2L, 25000, 11), js(9L, 40000, 92))
      q2.processAllAvailable()
      put(js(9L, 60000, 93)) // wm 30s: straggler merges + both sessions close
      q2.processAllAvailable()
      put(js(9L, 70000, 94)) // backstop advance for any re-armed timer
      q2.processAllAvailable()
      q2.stop()
    }
    val rows = spark.read.parquet(out).as[SessionSummary].collect()
      .filter(_.userId <= 2L).sortBy(_.userId).toSeq
    assert(rows == Seq(
      SessionSummary(1L, 10000L, 16500L, 3L, 3L),
      SessionSummary(2L, 24000L, 25000L, 2L, 2L)),
      s"restart broke buffered-exact session state: $rows")
  }

  test("the deduped composition absorbs a replayed trigger (row 16's recipe on row 22)") {
    // Rows 19-22's replay column said "dedup upstream" as advice;
    // the caller-side dedup composition ships it. A whole trigger is REDELIVERED
    // (same events, same ids — what at-least-once redelivery means):
    // the deduped form's sessions equal the batch truth of the original
    // events; the plain form double-counts the replayed rows into its
    // fragments — BOTH pinned, mirroring CmsStreamSpec's row-15/16
    // contrast so the caveat stays explicit rather than discovered.
    val gap = 5000L
    val evs = Seq(ev(8L, 10000, 1), ev(8L, 12000, 2), ev(8L, 13000, 3))
    val batches = Seq(evs, evs) // trigger 2 redelivers trigger 1 verbatim
    val deduped = run(batches, "bs_dedup_replay")(
      ds => StatefulOps.timedSessionsExact(replayProof(ds, "60 seconds"), gapMs = gap))
    assert(deduped == truth(evs, gap),
      s"replayed trigger leaked through the dedup: $deduped vs ${truth(evs, gap)}")
    val plain = run(batches, "bs_plain_replay")(
      ds => StatefulOps.timedSessionsExact(ds.withWatermark("ts", "60 seconds"), gapMs = gap))
    assert(plain.map(_.nEvents).sum == 2L * evs.size,
      s"the plain form's documented double-count contract changed: $plain")
  }

  test("dedup state survives a WAL restart: an event redelivered ACROSS the restart is absorbed") {
    // The row-21 cross-restart pin's row-22 twin: at-least-once sources
    // redeliver precisely at restart boundaries. u1's 16s event is
    // BUFFERED (not yet folded) at the stop and REDELIVERED verbatim
    // after the restart, while the watermark (14s) still admits ts 16s —
    // so only the dedup operator's RECOVERED checkpoint state can drop
    // it. If it leaked, the session would count the event twice
    // (nEvents 4, cents 4); the batch truth is 3/3.
    val in = newDir("graft-bsdd-in")
    val ckpt = newDir("graft-bsdd-ckpt")
    val out = newDir("graft-bsdd-out")
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
      StatefulOps.timedSessionsExact(replayProof(src, "10 seconds"), gapMs = 5000L)
        .writeStream.outputMode(OutputMode.Append).format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = startQuery()
    put(js(1L, 10000, 0), js(1L, 12000, 1), js(9L, 24000, 90))
    q1.processAllAvailable()
    // timer pass at wm 14s folds u1's pair into an OPEN fragment; the 16s
    // event arrives in this batch and stays BUFFERED (16s > wm 14s)
    put(js(1L, 16000, 2), js(9L, 23000, 91))
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQuery()
    // the redelivery, byte-identical, still inside the watermark horizon
    put(js(1L, 16000, 2), js(9L, 40000, 92))
    q2.processAllAvailable()
    put(js(9L, 60000, 93)) // wm 30s: the session closes
    q2.processAllAvailable()
    put(js(9L, 70000, 94)) // backstop advance for any re-armed timer
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out).as[SessionSummary].collect()
      .filter(_.userId == 1L).toSeq
    assert(rows == Seq(SessionSummary(1L, 10000L, 16000L, 3L, 3L)),
      s"cross-restart redelivery leaked into the session (dedup state lost?): $rows")
  }

  test("admission boundary: an event at exactly the watermark drops (strict >)") {
    // pusher moves wm to 20s; a boundary event at ts == 20s in the next
    // batch must DROP (strictly-late filter), one at 20.001s must fold —
    // same contract as the trio's bx_boundary case
    val pusher = ev(997L, 30000L)
    val boundary = ev(5L, 20000L, 1)
    val justIn = ev(5L, 20001L, 2)
    val got = run(Seq(Seq(pusher), Seq(boundary, justIn)), "bs_boundary")(
      ds => StatefulOps.timedSessionsExact(ds.withWatermark("ts", "10 seconds"), gapMs = 5000L))
      .filter(_.userId == 5L)
    assert(got == truth(Seq(justIn), 5000L),
      s"boundary event not dropped (or the admitted one lost): $got")
  }
}
