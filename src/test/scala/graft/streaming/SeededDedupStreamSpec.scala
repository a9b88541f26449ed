package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The migration × dedup closure (r18 verdict task 1): the replay-proof
  * compositions' one stated functional caveat was that a MIGRATED restart
  * began with an empty dedup table (`dropDuplicatesWithinWatermark` has
  * no initial-state hook), so a verbatim redelivery of a pre-migration
  * buffered event inside the first watermark horizon folded again.
  * [[StatefulOps.seededDedup]] feeding the `*ExactFrom` entry points
  * closes it with a seedable transformWithState dedup
  * ([[StatefulOps.SeededDedupProcessor]]) whose absorption table is
  * re-armed from the SAME migration dump the buffered operator
  * bootstraps from. These specs pin, in order: the conceded scenario now
  * absorbs (with the plain `*From` double-fold re-pinned alongside so
  * the contrast stays explicit), the fresh-path behavior matches the
  * caller-side `dropDuplicatesWithinWatermark` composition, every
  * entry-point shape wires, and the composed state stays
  * horizon-bounded.
  *
  * Reference anchor for the at-least-once contract this completes:
  * internal/app/app.go:220-222 (the reference commits offsets only after
  * the produce, so redelivery-on-restart is its normal mode).
  */
class SeededDedupStreamSpec extends SparkSpec {
  import spark.implicits._
  import StatefulOps.{AttributedPurchaseTs, BufferedSnapshot, CusumState,
    PatternCount, SessionSummary, TimedEvent, TimedUserEvent}

  private def t(ms: Long) = new java.sql.Timestamp(ms)
  private def ev(uid: Long, ms: Long, id: Long, typ: String, cents: Long = 0L) =
    TimedUserEvent(t(ms), uid, id, typ, cents)

  private def putJson(dir: String)(rows: String*): Unit = {
    val f = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(dir), "part", ".json")
    java.nio.file.Files.writeString(f, rows.mkString("\n") + "\n")
    ()
  }

  private def js(uid: Long, ms: Long, id: Long, typ: String, cents: Long = 0L) =
    s"""{"tsMs":$ms,"userId":$uid,"eventId":$id,"eventType":"$typ","cents":$cents}"""

  private def jsonEventSource(dir: String): org.apache.spark.sql.Dataset[TimedUserEvent] =
    spark.readStream
      .schema("tsMs bigint, userId bigint, eventId bigint, eventType string, cents bigint")
      .json(dir)
      .selectExpr("timestamp_millis(tsMs) as ts", "userId", "eventId", "eventType", "cents")
      .as[TimedUserEvent]

  /** MemoryStream batches through `wire`, two flush batches, sink rows. */
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

  /** The migrated replay-proof stage: the caller's one watermark, then
    * the dedup seeded from `snap`, ready for the matching `*ExactFrom`.
    */
  private def seeded[T, S](ds: org.apache.spark.sql.Dataset[T],
      snap: org.apache.spark.sql.Dataset[BufferedSnapshot[S]], delay: String) =
    StatefulOps.seededDedup(ds.withWatermark("ts", delay), snap)

  private val emptySnap =
    spark.emptyDataset[BufferedSnapshot[(Long, Long, Long)]]

  test("fresh path: the chained-TWS dedup absorbs a replayed trigger like the shipped composition") {
    // An empty snapshot makes seededDedup + *ExactFrom a fresh start; its dedup
    // stage is the seedable processor instead of
    // dropDuplicatesWithinWatermark, and must absorb the same verbatim
    // trigger replay the bxr_* cases pin for the shipped forms.
    val evs = Seq(ev(11L, 10000, 0, "view"), ev(11L, 11000, 1, "click"),
      ev(11L, 12000, 2, "purchase"))
    val dd = run(Seq(evs, evs), "sds_cep_fresh", OutputMode.Update, 200000L)(
      ds => StatefulOps.patternMatchCountsExactFrom(seeded(ds, emptySnap, "60 seconds"), emptySnap))
      .as[PatternCount].collect().toSeq.filter(_.userId == 11L).maxBy(_.nEvents)
    assert(dd == PatternCount(11L, 3L, 1L),
      s"replayed trigger leaked through the seeded dedup chain: $dd")
  }

  test("fresh path: intra-batch duplicates drop first-wins (CUSUM + session shapes wire)") {
    val (target, threshold) = (20L, 100L)
    val evs = Seq(ev(12L, 10000, 0, "signup", 500L), ev(12L, 11000, 1, "signup", 10L))
    val cus = run(Seq(evs ++ evs), "sds_cus_fresh", OutputMode.Update, 200000L)(
      ds => StatefulOps.cusumMonitorExactFrom(seeded(ds, emptySnap, "60 seconds"),
        target, threshold, emptySnap))
      .as[CusumState].collect().toSeq.filter(_.userId == 12L).maxBy(_.nEvents)
    // truth over the UNIQUE events: n=2, s=max(0,480)+(-10)=470, alarm at id 0
    assert(cus == CusumState(12L, 2L, 470L, 0L),
      s"intra-batch duplicate leaked through the CUSUM chain: $cus")

    val sessSnap = spark.emptyDataset[BufferedSnapshot[Seq[(Long, Long, Long, Long)]]]
    withRocksDBProvider {
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessionsExactFrom(seeded(in.toDS(), sessSnap, "10 seconds"),
          gapMs = 5000L, initial = sessSnap)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("sds_sess_fresh").start()
      val sess = Seq(TimedEvent(t(10000), 21L, 0L, 100L), TimedEvent(t(12000), 21L, 1L, 50L))
      in.addData(sess ++ sess); q.processAllAvailable()
      in.addData(Seq(TimedEvent(t(200000), 999L, 9001L, 0L))); q.processAllAvailable()
      in.addData(Seq(TimedEvent(t(260000), 999L, 9002L, 0L))); q.processAllAvailable()
      q.stop()
      val rows = spark.table("sds_sess_fresh").as[SessionSummary].collect().toSeq
        .filter(_.userId == 21L)
      assert(rows == Seq(SessionSummary(21L, 10000L, 12000L, 2L, 150L)),
        s"intra-batch duplicate leaked into a session fragment: $rows")
    }
  }

  test("MIGRATED attribution absorbs a verbatim pre-migration redelivery; the plain *From re-folds it") {
    // The conceded scenario, end to end: (1) the plain buffered form
    // writes a checkpoint whose buffer still holds u1's purchase (nothing
    // settled — single batch, watermark still 0); (2) the CURRENT-layout
    // dump reads it offline; (3) seededDedup + *ExactFrom bootstrap a FRESH
    // checkpoint from the dump, and the source REDELIVERS the purchase
    // verbatim — the new query's watermark restarted at 0, so the late
    // filter admits it and only the SEEDED dedup table can absorb it.
    // Exactly-once output proves the absorption; the plain *From contrast
    // run re-pins the double-fold this entry point exists to close.
    val inOld = newDir("graft-sds-in1")
    val ckptOld = newDir("graft-sds-ckpt1")
    withRocksDBProvider {
      val q1 = StatefulOps.lastTouchAttributionExact(jsonEventSource(inOld).withWatermark("ts", "10 seconds"))
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch((df: org.apache.spark.sql.Dataset[AttributedPurchaseTs], _: Long) =>
          { df.count(); () })
        .option("checkpointLocation", ckptOld).start()
      putJson(inOld)(js(1L, 10000, 0, "view"), js(1L, 20000, 1, "purchase", 700L))
      q1.processAllAvailable()
      q1.stop()
    }
    val snap = StateMigration
      .readCurrentBufferedExact[(Long, Long, String)](spark, ckptOld)
    // the engine's no-data batch advanced the watermark to 10s and folded
    // u1's view as the last touch; the purchase (20s) is still buffered —
    // exactly the replayable shape the seed must cover
    assert(snap.collect().exists(s => s.userId == 1L && s.buffer.exists(_._2 == 1L)),
      "precondition: u1's purchase must still be buffered in the dump")

    def replayRun(name: String)(
        wire: org.apache.spark.sql.Dataset[TimedUserEvent] =>
          org.apache.spark.sql.Dataset[AttributedPurchaseTs]): Seq[AttributedPurchaseTs] = {
      val inNew = newDir(s"graft-sds-$name-in")
      val ckptNew = newDir(s"graft-sds-$name-ckpt")
      withRocksDBProvider {
        val q = wire(jsonEventSource(inNew))
          .writeStream.outputMode(OutputMode.Append).format("memory")
          .queryName(name).option("checkpointLocation", ckptNew).start()
        // the verbatim redelivery of the buffered purchase, admitted by
        // the restarted watermark (0 < 20s)
        putJson(inNew)(js(1L, 20000, 1, "purchase", 700L))
        q.processAllAvailable()
        putJson(inNew)(js(9L, 300000, 91, "s"))
        q.processAllAvailable()
        putJson(inNew)(js(9L, 400000, 92, "s"))
        q.processAllAvailable()
        q.stop()
      }
      spark.table(name).as[AttributedPurchaseTs].collect().toSeq
        .filter(_.userId == 1L).sortBy(_.tsMs)
    }

    val deduped = replayRun("sds_mig_dd")(
      ds => StatefulOps.lastTouchAttributionExactFrom(seeded(ds, snap, "10 seconds"), snap))
    assert(deduped == Seq(AttributedPurchaseTs(1L, 1L, 20000L, 700L, "view")),
      s"the migrated composition must absorb the pre-migration redelivery: $deduped")

    val plain = replayRun("sds_mig_pl")(
      ds => StatefulOps.lastTouchAttributionExactFrom(ds.withWatermark("ts", "10 seconds"), snap))
    assert(plain.size == 2 && plain.distinct ==
        Seq(AttributedPurchaseTs(1L, 1L, 20000L, 700L, "view")),
      s"the plain *From form's documented re-fold contract changed: $plain")
  }

  test("MIGRATED CEP: seeded tokens cover the whole buffered set; fresh events still fold") {
    // Two users, partial redelivery: u1's buffered pair is redelivered in
    // FULL, u2 gets one redelivery plus one genuinely new event. Counts
    // must equal the batch truth over the UNION of unique events —
    // absorption must not eat fresh ids, and seeds must cover every
    // buffered event, not just the newest.
    val inOld = newDir("graft-sds-in2")
    val ckptOld = newDir("graft-sds-ckpt2")
    withRocksDBProvider {
      val q1 = StatefulOps.patternMatchCountsExact(jsonEventSource(inOld).withWatermark("ts", "10 seconds"))
        .writeStream.outputMode(OutputMode.Update)
        .foreachBatch((df: org.apache.spark.sql.Dataset[PatternCount], _: Long) =>
          { df.count(); () })
        .option("checkpointLocation", ckptOld).start()
      putJson(inOld)(js(1L, 10000, 0, "view"), js(1L, 11000, 1, "click"),
        js(2L, 12000, 10, "view"))
      q1.processAllAvailable()
      q1.stop()
    }
    val snap = StateMigration
      .readCurrentBufferedExact[(Long, Long, Long)](spark, ckptOld)

    val inNew = newDir("graft-sds-in3")
    val ckptNew = newDir("graft-sds-ckpt3")
    withRocksDBProvider {
      val q = StatefulOps.patternMatchCountsExactFrom(
          seeded(jsonEventSource(inNew), snap, "10 seconds"), snap)
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("sds_mig_cep").option("checkpointLocation", ckptNew).start()
      putJson(inNew)(js(1L, 10000, 0, "view"), js(1L, 11000, 1, "click"),
        js(2L, 12000, 10, "view"), js(2L, 13000, 11, "purchase"))
      q.processAllAvailable()
      putJson(inNew)(js(9L, 300000, 91, "s"))
      q.processAllAvailable()
      putJson(inNew)(js(9L, 400000, 92, "s"))
      q.processAllAvailable()
      q.stop()
    }
    val rows = spark.table("sds_mig_cep").as[PatternCount].collect().toSeq
      .filter(_.userId <= 2L).groupBy(_.userId)
      .map { case (u, rs) => u -> rs.maxBy(_.nEvents) }
    assert(rows(1L) == PatternCount(1L, 2L, 0L),
      s"u1's fully-redelivered pair must fold exactly once each: ${rows.get(1L)}")
    assert(rows(2L) == PatternCount(2L, 2L, 1L),
      s"u2: redelivered view absorbed, fresh purchase folded (v,p = 1 match): ${rows.get(2L)}")
  }

  test("composed state stays horizon-bounded: seeded-dedup tokens evict with the watermark") {
    // The bx_dedup_soak contract on the seedable chain: ten batches of
    // fresh ids (each delivered twice in its batch), event time jumping
    // 60s per batch against a 10s delay. Both operators are
    // transformWithState (no name to filter on), so the bound is on the
    // SUM of state rows — if either side stopped evicting, the sum grows
    // linearly and the 4×-per-batch ceiling breaks by batch 10.
    withRocksDBProvider {
      val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val in = MemoryStream[TimedUserEvent](spark)
      val q = StatefulOps.patternMatchCountsExactFrom(
          seeded(in.toDS(), emptySnap, "10 seconds"), emptySnap)
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("sds_soak").start()
      val users = 5
      val perUser = 20
      val totals = (0 until 10).map { b =>
        val fresh = (0 until users).flatMap { u =>
          (0 until perUser).map { i =>
            TimedUserEvent(t(ts0 + b * 60000L + i), u.toLong,
              b * 100000L + u * 1000L + i, "view", 1L)
          }
        }
        in.addData(fresh ++ fresh)
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      in.addData(Seq(ev(999L, ts0 + 10000000L, 1L, "s")))
      q.processAllAvailable()
      in.addData(Seq(ev(999L, ts0 + 10060000L, 2L, "s")))
      q.processAllAvailable()
      q.stop()
      val perBatch = users.toLong * perUser
      totals.drop(2).foreach { n =>
        assert(n <= 8L * perBatch + 3L * users,
          s"composed state must plateau at O(horizon), got trajectory $totals")
      }
      val counts = spark.table("sds_soak").as[PatternCount].collect().toSeq
        .groupBy(_.userId).map { case (u, rs) => u -> rs.maxBy(_.nEvents).nEvents }
      (0 until users).foreach { u =>
        assert(counts(u.toLong) == 10L * perUser,
          s"user $u folded ${counts(u.toLong)} events, expected ${10 * perUser}")
      }
    }
  }
}
