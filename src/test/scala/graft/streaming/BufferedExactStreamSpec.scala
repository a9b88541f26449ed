package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The watermark-buffered EXACT mode for the order-exact trio (r13
  * verdict task 4; PARITY.md rows 9, 12, 13): CEP, CUSUM, and last-touch
  * attribution must match the BATCH fold of the globally
  * (event-time, eventId)-sorted sequence under shuffled multi-trigger
  * arrival — including events landing a trigger AFTER later-timestamped
  * events of the same user, the exact residual the unbuffered processors
  * document. Batch truths are independent reimplementations (regex scan /
  * sequential fold / sorted scan), not the processors' own code.
  */
class BufferedExactStreamSpec extends SparkSpec {
  import spark.implicits._
  import StatefulOps.{AttributedPurchaseTs, CusumState, PatternCount, TimedUserEvent}

  private def t(ms: Long) = new java.sql.Timestamp(ms)
  private def ev(uid: Long, ms: Long, id: Long, typ: String, cents: Long = 0L) =
    TimedUserEvent(t(ms), uid, id, typ, cents)

  // ---- file-source scaffolding shared by the checkpoint tests ----

  private def putJson(dir: String)(rows: String*): Unit = {
    val f = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(dir), "part", ".json")
    java.nio.file.Files.writeString(f, rows.mkString("\n") + "\n")
    ()
  }

  private def js(uid: Long, ms: Long, id: Long, typ: String, cents: Long = 0L) =
    s"""{"tsMs":$ms,"userId":$uid,"eventId":$id,"eventType":"$typ","cents":$cents}"""

  /** The one place the json schema <-> TimedUserEvent mapping lives. */
  private def jsonEventSource(dir: String): org.apache.spark.sql.Dataset[TimedUserEvent] =
    spark.readStream
      .schema("tsMs bigint, userId bigint, eventId bigint, eventType string, cents bigint")
      .json(dir)
      .selectExpr("timestamp_millis(tsMs) as ts", "userId", "eventId", "eventType", "cents")
      .as[TimedUserEvent]

  /** Run `batches` through `wire`, then advance the watermark past every
    * real event with TWO flush batches (the second gives the first's
    * timer a batch to fire in — the TransformWithStateSpec pattern) and
    * return the sink rows.
    */
  private def run[O](batches: Seq[Seq[TimedUserEvent]], name: String,
      mode: OutputMode, flushMs: Long)(
      wire: org.apache.spark.sql.Dataset[TimedUserEvent] => org.apache.spark.sql.Dataset[O]): org.apache.spark.sql.DataFrame =
    withRocksDBProvider {
      val in = MemoryStream[TimedUserEvent](spark)
      val q = wire(in.toDS())
        .writeStream.outputMode(mode).format("memory").queryName(name).start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      in.addData(ev(999L, flushMs, 9001L, "s")); q.processAllAvailable()
      in.addData(ev(999L, flushMs + 60000L, 9002L, "s")); q.processAllAvailable()
      q.stop()
      spark.table(name)
    }

  /** The replay-proof composition: the caller's one watermark, then
    * `dropDuplicatesWithinWatermark` on the (userId, eventId) pair
    * upstream of the buffered operator.
    */
  private def replayProof(ds: org.apache.spark.sql.Dataset[TimedUserEvent], delay: String) =
    ds.withWatermark("ts", delay).dropDuplicatesWithinWatermark("userId", "eventId")

  // ---- batch truths (independent reimplementations) ----

  private def sortEvents(evs: Seq[TimedUserEvent]): Seq[TimedUserEvent] =
    evs.sortBy(e => (e.ts.getTime, e.eventId))

  private def cepTruth(evs: Seq[TimedUserEvent]): (Long, Long) = {
    val syms = sortEvents(evs).map(_.eventType.head).mkString
    (syms.length.toLong, "vc*p".r.findAllMatchIn(syms).length.toLong)
  }

  private def cusumTruth(evs: Seq[TimedUserEvent], target: Long,
      threshold: Long): CusumState = {
    var (n, s, alarm) = (0L, 0L, -1L)
    sortEvents(evs).foreach { e =>
      n += 1
      s = math.max(0L, s + (e.cents - target))
      if (s > threshold && alarm < 0) alarm = e.eventId
    }
    CusumState(evs.head.userId, n, s, alarm)
  }

  private def attributionTruth(evs: Seq[TimedUserEvent]): Seq[AttributedPurchaseTs] = {
    var best: Option[TimedUserEvent] = None
    val out = Seq.newBuilder[AttributedPurchaseTs]
    sortEvents(evs).foreach { e =>
      e.eventType match {
        case "purchase" => out += AttributedPurchaseTs(e.userId, e.eventId,
          e.ts.getTime, e.cents, best.map(_.eventType).getOrElse("none"))
        case "click" | "view" => best = Some(e)
        case _ => ()
      }
    }
    out.result()
  }

  // ---- the shared adversarial dataset ----
  //
  // All real events inside [10s, 40s); watermark delay 60s means no
  // real-event batch ever drops or folds anything (the first flush at
  // 200s settles everything at once) — so ANY assignment of events to
  // triggers is admissible, and the assignment below is chosen
  // adversarially: each user's LATEST events arrive in the EARLIEST
  // trigger, the cross-batch inversion the unbuffered trio folds wrong.
  private val users: Map[Long, Seq[TimedUserEvent]] = Map(
    // u1: batch order v,c,p = 1 match; ARRIVAL order p, then c, then v
    1L -> Seq(ev(1L, 10000, 0, "view"), ev(1L, 11000, 1, "click"),
      ev(1L, 12000, 2, "purchase")),
    // u2: vvp with the first v arriving last (restart-at-v must still hold)
    2L -> Seq(ev(2L, 20000, 0, "view"), ev(2L, 21000, 1, "view"),
      ev(2L, 22000, 2, "purchase")),
    // u3: the big deviation (cents) is the EARLIEST event but arrives in
    // the LAST trigger — the alarm latch must name the batch event id
    3L -> Seq(ev(3L, 15000, 0, "signup", 500L), ev(3L, 16000, 1, "signup", 10L),
      ev(3L, 17000, 2, "signup", 10L)),
    // u4: purchase arrives a trigger BEFORE the view that should claim it
    4L -> Seq(ev(4L, 30000, 0, "view", 0L), ev(4L, 31000, 1, "purchase", 700L)),
    // u5: two purchases bracketing a click; click arrives last
    5L -> Seq(ev(5L, 33000, 0, "purchase", 100L), ev(5L, 34000, 1, "click"),
      ev(5L, 35000, 2, "purchase", 200L)))

  /** Trigger assignment: per user, events in REVERSE event-time order
    * across the three triggers (latest first) — every adjacent pair is a
    * cross-batch inversion.
    */
  private val batches: Seq[Seq[TimedUserEvent]] = {
    val byPos = users.values.toSeq.map(evs => sortEvents(evs).reverse)
    (0 until 3).map(i => byPos.flatMap(_.drop(i).take(1)))
  }

  test("buffered CEP matches the batch regex scan under reversed cross-batch arrival") {
    val rows = run(batches, "bx_cep", OutputMode.Update, 200000L)(
      ds => StatefulOps.patternMatchCountsExact(ds.withWatermark("ts", "60 seconds")))
      .as[PatternCount].collect().toSeq
      .groupBy(_.userId).map { case (u, rs) => u -> rs.maxBy(_.nEvents) }
    users.foreach { case (u, evs) =>
      val (n, m) = cepTruth(evs)
      assert(rows(u).nEvents == n && rows(u).nMatches == m,
        s"user $u: got ${rows(u)}, batch truth ($n events, $m matches)")
    }
    // the headline inversion: u1 received p before v and still matched
    assert(rows(1L).nMatches == 1L)
  }

  test("buffered CUSUM latches the batch alarm id under reversed cross-batch arrival") {
    val (target, threshold) = (20L, 100L)
    val rows = run(batches, "bx_cusum", OutputMode.Update, 200000L)(
      ds => StatefulOps.cusumMonitorExact(ds.withWatermark("ts", "60 seconds"), target, threshold))
      .as[CusumState].collect().toSeq
      .groupBy(_.userId).map { case (u, rs) => u -> rs.maxBy(_.nEvents) }
    users.foreach { case (u, evs) =>
      val truth = cusumTruth(evs, target, threshold)
      assert(rows(u) == truth, s"user $u: got ${rows(u)}, batch truth $truth")
    }
    // u3's alarm must name event 0 (the earliest, which ARRIVED last);
    // an arrival-order fold would have latched a different id
    assert(rows(3L).firstAlarmEventId == 0L)
  }

  test("buffered attribution credits the touch that arrived after its purchase") {
    val rows = run(batches, "bx_attr", OutputMode.Append, 200000L)(
      ds => StatefulOps.lastTouchAttributionExact(ds.withWatermark("ts", "60 seconds")))
      .as[AttributedPurchaseTs].collect().toSeq
      .filter(_.userId != 999L).sortBy(r => (r.userId, r.purchaseEventId))
    val truth = users.values.toSeq.flatMap(attributionTruth)
      .sortBy(r => (r.userId, r.purchaseEventId))
    assert(rows == truth, s"got $rows\nbatch truth $truth")
    // the residual closed: u4's purchase (arrived first) is credited to
    // the view that arrived one trigger later — the unbuffered twin's
    // documented answer here is "none" (PARITY row 9)
    assert(rows.find(_.userId == 4L).get.touchType == "view")
    // and each purchase emitted exactly once (append finality)
    assert(rows.map(r => (r.userId, r.purchaseEventId)).distinct.size == rows.size)
  }

  test("un-watermarked input: Spark runs the buffered operator, every entry point fails by name") {
    import StatefulOps.TimedEvent
    withRocksDBProvider {
      val in = MemoryStream[TimedUserEvent](spark)
      // Spark itself starts the buffered processor without a watermark:
      // its settle timers never fire, so nothing folds and the buffer
      // keeps every event
      val q = in.toDS().groupByKey(_.userId)
        .transformWithState(new StatefulOps.BufferedPatternProcessor(),
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("bx_unwatermarked").start()
      in.addData(ev(1L, 10000L, 1L, "view")); q.processAllAvailable()
      in.addData(ev(9L, 200000L, 2L, "s")); q.processAllAvailable()
      in.addData(ev(9L, 400000L, 3L, "s")); q.processAllAvailable()
      q.stop()
      assert(spark.table("bx_unwatermarked").count() == 0L)
    }
    val events = MemoryStream[TimedUserEvent](spark).toDS()
    val sessions = MemoryStream[TimedEvent](spark).toDS()
    def named(op: String)(call: => Any): Unit = {
      val err = intercept[IllegalArgumentException](call)
      assert(err.getMessage.startsWith(s"$op: column 'ts' carries no event-time watermark"), err.getMessage)
    }
    named("patternMatchCountsExact")(StatefulOps.patternMatchCountsExact(events))
    named("cusumMonitorExact")(StatefulOps.cusumMonitorExact(events, 20L, 100L))
    named("lastTouchAttributionExact")(StatefulOps.lastTouchAttributionExact(events))
    named("timedSessionsExact")(StatefulOps.timedSessionsExact(sessions, 5000L))
    // the watermarked forms build
    StatefulOps.patternMatchCountsExact(events.withWatermark("ts", "10 seconds"))
    StatefulOps.timedSessionsExact(sessions.withWatermark("ts", "10 seconds"), 5000L)
  }

  test("buffer state drains once the watermark settles its events (the O(horizon) bound's eviction half)") {
    // 200 events for one user inside [10s, 12s), delay 5s: while the
    // watermark sits below the band the buffer ValueState row holds all
    // 200 tuples (the honest price of exactness); after the flushes
    // settle them, state must collapse to the folded O(1) record — the
    // buffer row cleared (buf.clear() when nothing stays live), no timer
    // re-armed. numRowsTotal counts STATE ROWS (one per state variable
    // per key), so the drain signal is the buffer/timer rows vanishing.
    withRocksDBProvider {
      val in = MemoryStream[TimedUserEvent](spark)
      val q = StatefulOps.patternMatchCountsExact(in.toDS().withWatermark("ts", "5 seconds"))
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("bx_soak").start()
      val evs = (0 until 200).map(i => ev(6L, 10000L + i * 10, i.toLong, "view"))
      in.addData(evs); q.processAllAvailable()
      def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val loaded = stateRows
      in.addData(ev(999L, 100000L, 9001L, "s")); q.processAllAvailable()
      in.addData(ev(999L, 200000L, 9002L, "s")); q.processAllAvailable()
      val drained = stateRows
      // second wave AFTER settling: if the buffer had retained the 200
      // settled events, the next timer pass would re-fold them and the
      // count would read 400+; continuing exactly from 200 proves the
      // buffer dropped them and only the O(1) folded record carried
      in.addData(Seq(ev(6L, 400000L, 300L, "view"), ev(6L, 400010L, 301L, "click"),
        ev(6L, 400020L, 302L, "purchase")))
      q.processAllAvailable()
      in.addData(ev(999L, 500000L, 9003L, "s")); q.processAllAvailable()
      in.addData(ev(999L, 600000L, 9004L, "s")); q.processAllAvailable()
      q.stop()
      assert(loaded >= 1L, s"soak never loaded state (rows=$loaded)")
      // numRowsTotal counts one row per state variable per key (the
      // 200-tuple buffer is ONE row), so the row bound here pins only
      // that settled keys keep a constant number of rows — the retention
      // proof is the second-wave count below
      assert(drained <= 6L,
        s"state rows did not stay constant-per-key after settling: $drained")
      val got = spark.table("bx_soak").as[PatternCount].collect()
        .filter(_.userId == 6L).maxBy(_.nEvents)
      assert(got == PatternCount(6L, 203L, 1L),
        s"second wave did not continue from the folded record: $got " +
          "(nEvents 400+ here means the buffer re-folded settled events)")
    }
  }

  test("soak: state rows plateau at the horizon across 50 triggers, then collapse") {
    // PARITY rows 19-21 claim O(events in watermark horizon) state per
    // key; the drain test pins the endpoint, this soak pins the
    // TRAJECTORY: 50 triggers of 100 users x 4 events, event-time
    // advancing 1s per trigger against a 5s delay, so the horizon holds
    // ~5-6 triggers of events per key at any moment. State rows must
    // plateau there (a leak in the buffer, the armed cache, or timers
    // would grow monotonically with total ingested events) and collapse
    // after settling.
    withRocksDBProvider {
      val in = MemoryStream[TimedUserEvent](spark)
      val q = StatefulOps.patternMatchCountsExact(in.toDS().withWatermark("ts", "5 seconds"))
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("bx_soak50").start()
      val types = Array("view", "click", "purchase", "signup")
      def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val traj = (0 until 50).map { t =>
        in.addData((0 until 100).flatMap(u => (0 until 4).map(j =>
          ev(u.toLong, 10000L + t * 1000L + j * 10, (t * 4 + j).toLong, types((t + j) % 4)))))
        q.processAllAvailable()
        stateRows
      }
      in.addData(ev(999L, 10000000L, 9001L, "s")); q.processAllAvailable()
      in.addData(ev(999L, 20000000L, 9002L, "s")); q.processAllAvailable()
      val settled = stateRows
      q.stop()
      // plateau: the late half of the run must not outgrow the early
      // plateau — a per-event leak over 30k total events would dwarf 1.3×
      val early = traj(14); val late = traj.drop(25).max
      assert(late <= early * 13 / 10 + 2,
        s"state rows grew past the horizon plateau: early(t15)=$early late-max=$late " +
          s"trajectory=${traj.mkString(",")}")
      // collapse: settled keys keep only their O(1) folded rows
      assert(settled <= 210L,
        s"state did not collapse after settling: $settled rows")
      // and the fold is exact: every user saw all 200 of its events
      val counts = spark.table("bx_soak50").as[PatternCount].collect()
        .filter(_.userId < 100L).groupBy(_.userId).map(_._2.maxBy(_.nEvents).nEvents)
      assert(counts.size == 100 && counts.forall(_ == 200L),
        s"per-user event counts wrong after soak: ${counts.toSeq.distinct}")
    }
  }

  test("admission boundary: an event at exactly the watermark is dropped, never re-folded") {
    // the exactly-once-fold invariant (WatermarkBufferedProcessor
    // scaladoc) relies on the late filter admitting only ts STRICTLY
    // past the watermark: a fold pass at W covers ts <= W, so a
    // boundary event admitted at ts == W would join an already-folded
    // cohort out of order. Pin Spark's drop side of the contract:
    //  T1: u10 'v' at 20s + a pusher that parks the watermark at exactly
    //      20s (delay 10s) -> the timer pass folds the 'v'
    //  T2: u10 'p' at exactly ts == wm == 20s (must drop) and a 'p' at
    //      25s (admitted)
    // final: 2 events folded, 1 match; 3 events would mean the boundary
    // event slipped into a later cohort
    withRocksDBProvider {
      val in = MemoryStream[TimedUserEvent](spark)
      val q = StatefulOps.patternMatchCountsExact(in.toDS().withWatermark("ts", "10 seconds"))
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("bx_boundary").start()
      in.addData(Seq(ev(10L, 20000, 1, "view"), ev(998L, 30000, 900, "s")))
      q.processAllAvailable()
      // one more batch so the wm=20s timer pass runs before the boundary probe
      in.addData(ev(998L, 30000, 901, "s")); q.processAllAvailable()
      in.addData(Seq(ev(10L, 20000, 0, "purchase"), ev(10L, 25000, 2, "purchase")))
      q.processAllAvailable()
      in.addData(ev(999L, 100000L, 9001L, "s")); q.processAllAvailable()
      in.addData(ev(999L, 200000L, 9002L, "s")); q.processAllAvailable()
      q.stop()
      val got = spark.table("bx_boundary").as[PatternCount].collect()
        .filter(_.userId == 10L).maxBy(_.nEvents)
      assert(got == PatternCount(10L, 2L, 1L),
        s"boundary event not dropped (or double-folded): $got")
    }
  }

  test("checkpoint restart preserves buffer, folded state, and timers (rows 19-21 across a WAL recovery)") {
    // The PARITY rows' state bounds only matter if the state SURVIVES: a
    // file-source query with a real checkpoint is stopped mid-buffer and
    // restarted. Two users split the proof:
    //  - u1: touch 'view' (10s) FOLDED before the stop (a second batch
    //    fires the wm=10s timer pass; ts == wm folds), purchase (20s)
    //    still BUFFERED at the stop, no events after restart -> its
    //    attribution must come from the pre-restart FOLDED record;
    //  - u2: purchase (20s) buffered before the stop; the claiming
    //    'click' (19s) arrives only AFTER the restart -> exact event-time
    //    ordering must hold across the checkpoint boundary (buffer
    //    survived, and the post-restart touch folds BEFORE the
    //    pre-restart purchase).
    // Append-mode parquet sink: exactly one row per purchase, ever.
    val in = newDir("graft-bx-in")
    val ckpt = newDir("graft-bx-ckpt")
    val out = newDir("graft-bx-out")
    def put(rows: String*): Unit = putJson(in)(rows: _*)
    def startQuery() = withRocksDBProvider {
      StatefulOps.lastTouchAttributionExact(jsonEventSource(in).withWatermark("ts", "10 seconds"))
        .writeStream.outputMode(OutputMode.Append).format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = startQuery()
    put(js(1L, 10000, 0, "view"), js(1L, 20000, 1, "purchase", 700L),
      js(2L, 20000, 11, "purchase", 900L), js(9L, 15000, 90, "s"))
    q1.processAllAvailable()
    put(js(9L, 16000, 91, "s")) // second batch: wm=10s timer pass folds u1's view
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQuery()
    put(js(2L, 19000, 12, "click"), js(9L, 200000, 92, "s"))
    q2.processAllAvailable()
    put(js(9L, 300000, 93, "s")) // settle everything
    q2.processAllAvailable()
    put(js(9L, 400000, 94, "s")) // one more advance so armed timers fire
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out).as[AttributedPurchaseTs].collect()
      .sortBy(_.userId).toSeq
    assert(rows == Seq(
      AttributedPurchaseTs(1L, 1L, 20000L, 700L, "view"),
      AttributedPurchaseTs(2L, 11L, 20000L, 900L, "click")),
      s"restart broke buffered-exact state: $rows")
  }

  test("multi-stage watermark advance folds incrementally and carries state across timer passes") {
    // band A [10s,11s) and band B [25s,26s) for one user, delay 20s:
    //  T1 delivers band B (+ a second user's C event at 40.9s that pushes
    //  the watermark to 20.9s after T1) -> the post-T1 timer pass folds
    //  band A ONLY... except band A arrives in T2 — so the order is:
    //  T1: band B + pusher (wm -> 20.9s at T1 end; nothing folds, A not
    //      here yet, B not due)
    //  T2: band A (ts 10s >= wm-at-admission? A is LATER than wm 20.9s?
    //      NO — 10s < 20.9s would be LATE. So the pusher moves wm only
    //      to 15s: pusher ts 35s, delay 20s -> wm 15s > band A!
    // Constraint: wm after T1 must stay BELOW band A's min (10s), so the
    // pusher must satisfy ts - delay < 10s. With delay 20s: pusher at
    // 29.9s -> wm 9.9s. Then T2 delivers band A (admitted, 10s > 9.9s)
    // plus a pusher at 45s -> wm 25s at T2 end -> the post-T2 timer pass
    // folds band A AND band B's 25.0s event but not B's 25.9s one...
    // keep it clean: band B at [26s, 27s) so wm 25s folds EXACTLY band A
    // + nothing of B; the final flush folds band B. Two genuine fold
    // passes, state carried between them.
    val bandA = Seq(ev(7L, 10000, 0, "view"), ev(7L, 10500, 1, "click"))
    val bandB = Seq(ev(7L, 26000, 2, "purchase"), ev(7L, 26500, 3, "view"),
      ev(7L, 26900, 4, "purchase"))
    val out = run(
      Seq(bandB :+ ev(8L, 29900, 10, "s"), bandA :+ ev(8L, 45000, 11, "s")),
      "bx_stage", OutputMode.Update, 200000L)(
      ds => StatefulOps.patternMatchCountsExact(ds.withWatermark("ts", "20 seconds")))
      .as[PatternCount].collect().toSeq.filter(_.userId == 7L)
    // intermediate pass: a row with ONLY band A folded (2 events, 0
    // matches — v,c leaves an open prefix)
    assert(out.contains(PatternCount(7L, 2L, 0L)),
      s"no intermediate fold of band A alone - got $out")
    // final: all 5 events, 1 match (v c p | v p -> vc*p matches once at
    // the first p, then v..p matches again? symbols vcpvp = 2 matches)
    val (n, m) = cepTruth(bandA ++ bandB)
    assert(out.maxBy(_.nEvents) == PatternCount(7L, n, m))
  }

  test("fuzz: random trigger assignments all fold to the batch truth (trio)") {
    // The reversed-arrival tests pin the adversarial extreme; this fuzz
    // covers the space between: any assignment of the shared dataset's
    // events to 3 triggers is admissible (watermark delay 60s > the
    // whole [10s,40s) band), so every seed must produce the exact batch
    // fold for all three operators.
    val all = users.values.flatten.toSeq
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(all)
      val bs = (0 until 3).map(i => shuffled.drop(i * all.size / 3)
        .take((i + 1) * all.size / 3 - i * all.size / 3))
      val cep = run(bs, s"bxf_cep_$seed", OutputMode.Update, 200000L)(
        ds => StatefulOps.patternMatchCountsExact(ds.withWatermark("ts", "60 seconds")))
        .as[PatternCount].collect().toSeq
        .groupBy(_.userId).map { case (u, rs) => u -> rs.maxBy(_.nEvents) }
      users.foreach { case (u, evs) =>
        val (n, m) = cepTruth(evs)
        assert(cep(u).nEvents == n && cep(u).nMatches == m,
          s"seed $seed user $u: got ${cep(u)}, truth ($n, $m)")
      }
      val cus = run(bs, s"bxf_cus_$seed", OutputMode.Update, 200000L)(
        ds => StatefulOps.cusumMonitorExact(ds.withWatermark("ts", "60 seconds"), 20L, 100L))
        .as[CusumState].collect().toSeq
        .groupBy(_.userId).map { case (u, rs) => u -> rs.maxBy(_.nEvents) }
      users.foreach { case (u, evs) =>
        assert(cus(u) == cusumTruth(evs, 20L, 100L), s"seed $seed user $u cusum")
      }
      val att = run(bs, s"bxf_att_$seed", OutputMode.Append, 200000L)(
        ds => StatefulOps.lastTouchAttributionExact(ds.withWatermark("ts", "60 seconds")))
        .as[AttributedPurchaseTs].collect().toSeq
        .filter(_.userId != 999L).sortBy(r => (r.userId, r.purchaseEventId))
      val truth = users.values.toSeq.flatMap(attributionTruth)
        .sortBy(r => (r.userId, r.purchaseEventId))
      assert(att == truth, s"seed $seed attribution: got $att")
    }
  }

  test("depth guard: a key exceeding the buffered cap fails with the named error at ingest") {
    // The settle fold materializes and sorts a key's whole backlog, so a
    // pathological key must die a NAMED death at ingest (naming the
    // conf), never an executor OOM at settle — the same contract the
    // interval join's maxDepth guard pins.
    val key = StatefulOps.MaxBufferedEventsKey
    spark.conf.set(key, "5")
    try withRocksDBProvider {
      val in = MemoryStream[TimedUserEvent](spark)
      val q = StatefulOps.patternMatchCountsExact(in.toDS().withWatermark("ts", "400 seconds"))
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("bx_cap").start()
      val err = intercept[Exception] {
        // nothing settles under the 400s delay, so the second batch must
        // push user 1's buffered count past the cap of 5
        in.addData((0 until 4).map(i => ev(1L, 10000L + i, i.toLong, "view")))
        q.processAllAvailable()
        in.addData((4 until 8).map(i => ev(1L, 10000L + i, i.toLong, "view")))
        try q.processAllAvailable() finally q.stop()
      }
      val chain = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString("\n")
      assert(chain.contains(key) && chain.contains("cap 5"),
        s"expected the named depth-guard error citing $key, got:\n$chain")
    } finally spark.conf.unset(key)
  }

  test("min-ts timer arming: backlog-only triggers fire zero timers") {
    // The O(new events)/trigger ingest bound (class doc, decision 2): a
    // key's one timer is armed at its MIN buffered ts, so a trigger
    // whose watermark settles nothing must not fire timers at all — no
    // full-buffer read, no live-remainder rewrite. A wm+1-armed timer
    // (the layout this replaced) fires on every advance: this pin turns
    // the AbBench long-horizon wall-clock win into a regression guard.
    withRocksDBProvider {
      val in = MemoryStream[TimedUserEvent](spark)
      val q = StatefulOps.patternMatchCountsExact(in.toDS().withWatermark("ts", "400 seconds"))
        .writeStream.outputMode("update").format("memory")
        .queryName("bx_mints").start()
      // two data triggers; max ts 35s - 400s keeps the watermark at 0,
      // below every buffered event, so nothing is due anywhere
      batches.take(2).foreach { b => in.addData(b); q.processAllAvailable() }
      def expired(): Long = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .map(s => Option(s.customMetrics.get("numExpiredTimers"))
          .map(_.longValue).getOrElse(0L))
        .sum
      assert(expired() == 0L,
        "a trigger that settles nothing fired a timer - min-ts arming regressed to wm+1")
      // flushes settle everything: timers fire once and the fold is exact
      in.addData(Seq(ev(999L, 900000000L, 9001L, "s"))); q.processAllAvailable()
      in.addData(Seq(ev(999L, 960000000L, 9002L, "s"))); q.processAllAvailable()
      assert(expired() > 0L, "the settle pass must fire the armed timers")
      q.stop()
      val rows = spark.table("bx_mints").as[PatternCount].collect().toSeq
        .groupBy(_.userId).map { case (u, rs) => u -> rs.maxBy(_.nEvents) }
      val delivered = batches.take(2).flatten.groupBy(_.userId)
      delivered.foreach { case (u, evs) =>
        val (n, m) = cepTruth(evs)
        assert(rows(u).nEvents == n && rows(u).nMatches == m,
          s"user $u: got ${rows(u)}, batch truth ($n, $m)")
      }
    }
  }

  // ---- replay absorption: the deduped compositions (r16 verdict task 1;
  // PARITY rows 19-21). Mirrors BufferedSessionStreamSpec's row-22 case:
  // a whole trigger is REDELIVERED verbatim (same events, same ids — what
  // at-least-once redelivery means); the deduped form must match the
  // batch truth of the ORIGINAL events, and the plain form's documented
  // double-count is re-pinned alongside so the caveat stays explicit. ----

  test("the deduped CEP composition absorbs a replayed trigger (row 16's recipe on row 19)") {
    val evs = Seq(ev(11L, 10000, 0, "view"), ev(11L, 11000, 1, "click"),
      ev(11L, 12000, 2, "purchase"))
    val batches = Seq(evs, evs) // trigger 2 redelivers trigger 1 verbatim
    val dd = run(batches, "bxr_cep_dd", OutputMode.Update, 200000L)(
      ds => StatefulOps.patternMatchCountsExact(replayProof(ds, "60 seconds")))
      .as[PatternCount].collect().toSeq.filter(_.userId == 11L).maxBy(_.nEvents)
    val (n, m) = cepTruth(evs)
    assert(dd == PatternCount(11L, n, m),
      s"replayed trigger leaked through the CEP dedup: $dd vs ($n events, $m matches)")
    val plain = run(batches, "bxr_cep_pl", OutputMode.Update, 200000L)(
      ds => StatefulOps.patternMatchCountsExact(ds.withWatermark("ts", "60 seconds")))
      .as[PatternCount].collect().toSeq.filter(_.userId == 11L).maxBy(_.nEvents)
    assert(plain.nEvents == 2L * evs.size,
      s"the plain CEP form's documented double-count contract changed: $plain")
  }

  test("the deduped CUSUM composition absorbs a replayed trigger (row 16's recipe on row 20)") {
    val (target, threshold) = (20L, 100L)
    val evs = Seq(ev(12L, 10000, 0, "signup", 500L), ev(12L, 11000, 1, "signup", 10L))
    val batches = Seq(evs, evs)
    val dd = run(batches, "bxr_cus_dd", OutputMode.Update, 200000L)(
      ds => StatefulOps.cusumMonitorExact(replayProof(ds, "60 seconds"), target, threshold))
      .as[CusumState].collect().toSeq.filter(_.userId == 12L).maxBy(_.nEvents)
    val truth = cusumTruth(evs, target, threshold)
    assert(dd == truth,
      s"replayed trigger leaked through the CUSUM dedup: $dd vs $truth")
    val plain = run(batches, "bxr_cus_pl", OutputMode.Update, 200000L)(
      ds => StatefulOps.cusumMonitorExact(ds.withWatermark("ts", "60 seconds"), target, threshold))
      .as[CusumState].collect().toSeq.filter(_.userId == 12L).maxBy(_.nEvents)
    assert(plain.nEvents == 2L * evs.size,
      s"the plain CUSUM form's documented double-count contract changed: $plain")
  }

  test("the deduped attribution composition absorbs a replayed trigger (row 16's recipe on row 21)") {
    val evs = Seq(ev(13L, 10000, 0, "view"), ev(13L, 12000, 1, "purchase", 700L))
    val batches = Seq(evs, evs)
    val dd = run(batches, "bxr_att_dd", OutputMode.Append, 200000L)(
      ds => StatefulOps.lastTouchAttributionExact(replayProof(ds, "60 seconds")))
      .as[AttributedPurchaseTs].collect().toSeq.filter(_.userId == 13L)
    assert(dd == attributionTruth(evs),
      s"replayed trigger leaked through the attribution dedup: $dd")
    // plain form: the replayed purchase re-folds and re-emits — the same
    // attribution row TWICE (idempotent value, duplicate row; PARITY row 21)
    val plain = run(batches, "bxr_att_pl", OutputMode.Append, 200000L)(
      ds => StatefulOps.lastTouchAttributionExact(ds.withWatermark("ts", "60 seconds")))
      .as[AttributedPurchaseTs].collect().toSeq.filter(_.userId == 13L)
    assert(plain.size == 2 && plain.distinct == attributionTruth(evs),
      s"the plain attribution form's documented re-emit contract changed: $plain")
  }

  test("deduped composition: BOTH operators' state stays bounded by the watermark horizon") {
    // The composition's stated cost model is "roughly doubles the state
    // class, same horizon": dedup state O(ids in horizon) + buffer state
    // O(events in horizon). Prove BOTH evictions on the store metrics —
    // ten batches of fresh event ids (each id delivered TWICE in its
    // batch, so the dedup is doing real work through the churn), event
    // time jumping 60s per batch against a 10s delay, must plateau at
    // O(per-batch) rows on each operator, not accumulate; and the CEP
    // fold must count every unique event exactly once (the correctness
    // half, mirroring SketchStateSoakSpec's row-16 pin).
    withRocksDBProvider {
      val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val in = MemoryStream[TimedUserEvent](spark)
      val q = StatefulOps.patternMatchCountsExact(replayProof(in.toDS(), "10 seconds"))
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("bx_dedup_soak").start()
      val users = 5
      val perUser = 20
      val rowsPerOp = (0 until 10).map { b =>
        val fresh = (0 until users).flatMap { u =>
          (0 until perUser).map { i =>
            TimedUserEvent(t(ts0 + b * 60000L + i), u.toLong,
              b * 100000L + u * 1000L + i, "view", 1L)
          }
        }
        in.addData(fresh ++ fresh) // every id redelivered within its batch
        q.processAllAvailable()
        val ops = q.lastProgress.stateOperators
        (ops.filter(_.operatorName.toLowerCase.contains("dedup"))
            .map(_.numRowsTotal).sum,
          ops.filterNot(_.operatorName.toLowerCase.contains("dedup"))
            .map(_.numRowsTotal).sum)
      }
      // two flush batches settle the final batch's buffered events (the
      // usual pattern: the second gives the first's timer a batch to fire)
      in.addData(Seq(TimedUserEvent(t(ts0 + 10000000L), 999L, 1L, "s", 0L)))
      q.processAllAvailable()
      in.addData(Seq(TimedUserEvent(t(ts0 + 10060000L), 999L, 2L, "s", 0L)))
      q.processAllAvailable()
      q.stop()
      val perBatch = users.toLong * perUser
      assert(rowsPerOp.take(3).exists(_._1 > 0),
        s"dedup operator not found in the composed query: $rowsPerOp")
      rowsPerOp.drop(2).foreach { case (dedup, buffered) =>
        assert(dedup <= 4L * perBatch,
          s"dedup state must plateau near the horizon's $perBatch ids: $rowsPerOp")
        assert(buffered <= 4L * perBatch + 3L * users,
          s"buffered state must drain as batches settle: $rowsPerOp")
      }
      // exactly-once through churn + redelivery: every UNIQUE id folded once
      val counts = spark.table("bx_dedup_soak").as[PatternCount].collect().toSeq
        .groupBy(_.userId).map { case (u, rs) => u -> rs.maxBy(_.nEvents).nEvents }
      (0 until users).foreach { u =>
        assert(counts(u.toLong) == 10L * perUser,
          s"user $u folded ${counts(u.toLong)} events, expected ${10 * perUser} " +
            "(an intra-batch redelivery leaked, or a fresh id was dropped)")
      }
    }
  }

  test("dedup state survives a WAL restart: a purchase redelivered ACROSS the restart is absorbed") {
    // At-least-once sources redeliver precisely at restart boundaries —
    // the scenario the compositions exist for. The row-21 restart proof
    // (buffer + folded + timers survive) re-run through the DEDUPED
    // composition, with the pre-stop purchase REDELIVERED verbatim after
    // the restart: the dedup operator's own checkpoint state must have
    // recovered (userId, eventId) for the absorption to happen, because
    // at redelivery time the watermark (10s) still admits ts 20s — only
    // recovered dedup state, not the late filter, can drop it. Both the
    // redelivered u1 purchase and u2's cross-restart claim must emit
    // exactly once into the append parquet sink.
    val in = newDir("graft-bxdd-in")
    val ckpt = newDir("graft-bxdd-ckpt")
    val out = newDir("graft-bxdd-out")
    def put(rows: String*): Unit = putJson(in)(rows: _*)
    def startQuery() = withRocksDBProvider {
      StatefulOps.lastTouchAttributionExact(replayProof(jsonEventSource(in), "10 seconds"))
        .writeStream.outputMode(OutputMode.Append).format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = startQuery()
    put(js(1L, 10000, 0, "view"), js(1L, 20000, 1, "purchase", 700L),
      js(2L, 20000, 11, "purchase", 900L), js(9L, 15000, 90, "s"))
    q1.processAllAvailable()
    put(js(9L, 16000, 91, "s")) // second batch: wm=10s timer pass folds u1's view
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQuery()
    // the redelivery: u1's purchase again, byte-identical; plus u2's
    // claiming click arriving only now (the buffered-exact half's proof)
    put(js(1L, 20000, 1, "purchase", 700L),
      js(2L, 19000, 12, "click"), js(9L, 200000, 92, "s"))
    q2.processAllAvailable()
    put(js(9L, 300000, 93, "s")) // settle everything
    q2.processAllAvailable()
    put(js(9L, 400000, 94, "s")) // one more advance so armed timers fire
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out).as[AttributedPurchaseTs].collect()
      .sortBy(_.userId).toSeq
    assert(rows == Seq(
      AttributedPurchaseTs(1L, 1L, 20000L, 700L, "view"),
      AttributedPurchaseTs(2L, 11L, 20000L, 900L, "click")),
      s"cross-restart redelivery leaked through (dedup state lost?) or " +
        s"buffered-exact state broke: $rows")
  }
}
