package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Row 22's state-soak (r15 verdict task 4) — the same long-horizon
  * discipline rows 19–21 got in BufferedExactStreamSpec's 50-trigger soak,
  * for the buffered-exact sessionization: a key mix with continuously
  * OPENING and CLOSING sessions must show buffer + fragment + armed state
  * PLATEAUING at the watermark horizon (a leak in any of the three
  * variables grows monotonically with total ingested events), then
  * collapsing to ZERO rows per drained key (sessions, unlike the trio's
  * forever-counters, leave nothing behind). The armed-cache sync
  * invariant — `armed == (expiry of the key's ONE live timer, buffered
  * count)`, the thing every write path must maintain — is audited
  * OFFLINE against the raw state variables of a mid-horizon checkpoint,
  * key by key, via the statestore reader.
  *
  * Workload shape: per trigger, every user emits a 4-event burst spanning
  * 300 ms; bursts are 10 s apart against gap 8 s and watermark delay 5 s,
  * so at any instant a typical key holds the PREVIOUS burst as an open
  * fragment (folded, close pending at `last + 8 s`, beyond the watermark)
  * and the LATEST burst still buffered — both state legs live, sessions
  * closing continuously (one per burst) while new ones open.
  */
class BufferedSessionSoakSpec extends SparkSpec {
  import spark.implicits._
  import StatefulOps.{SessionSummary, TimedEvent}

  private val base = 10000L
  private val gapMs = 8000L
  private val nUsers = 100

  private def burst(t: Int): Seq[TimedEvent] =
    (0 until nUsers).flatMap(u => (0 until 4).map(j =>
      TimedEvent(new java.sql.Timestamp(base + t * 10000L + j * 100L),
        u.toLong, (t * 4 + j).toLong, 1L)))

  test("row-22 soak: state rows plateau at the horizon across 50 triggers, then collapse to zero") {
    withRocksDBProvider {
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessionsExact(in.toDS().withWatermark("ts", "5 seconds"), gapMs = gapMs)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("bs_soak50").start()
      def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val traj = (0 until 50).map { t =>
        in.addData(burst(t)); q.processAllAvailable(); stateRows
      }
      // flushes: far past every close, then two more advances so the
      // re-armed close timers fire and drain
      Seq(10000000L, 20000000L, 30000000L).zipWithIndex.foreach { case (ms, k) =>
        in.addData(TimedEvent(new java.sql.Timestamp(ms), 999L, 9001L + k, 0L))
        q.processAllAvailable()
      }
      val settled = stateRows
      q.stop()
      // plateau: the late half of the run must not outgrow the early
      // plateau — a per-event leak over 20k ingested events would dwarf
      // the 1.3x allowance (the trio soak's bound)
      val early = traj(14); val late = traj.drop(25).max
      info(s"plateau: early(t15)=$early late-max=$late settled=$settled " +
        s"trajectory(t1,t10,t20,t30,t40,t50)=${Seq(0, 9, 19, 29, 39, 49).map(traj).mkString(",")}")
      assert(late <= early * 13 / 10 + 2,
        s"state rows grew past the horizon plateau: early(t15)=$early " +
          s"late-max=$late trajectory=${traj.mkString(",")}")
      // collapse to ZERO per drained key: unlike the trio (whose folded
      // counters ARE the result and live forever), a closed session leaves
      // nothing — only the flush user's own open state may remain
      assert(settled <= 5L, s"drained keys left state behind: $settled rows")
      // exactness alongside the eviction: every burst is one session of
      // exactly 4 events / 4 cents, 50 per user, boundaries on the burst
      val rows = spark.table("bs_soak50").as[SessionSummary].collect()
        .filter(_.userId < nUsers).toSeq
      assert(rows.size == 50 * nUsers,
        s"expected ${50 * nUsers} sessions, got ${rows.size}")
      assert(rows.forall(s => s.nEvents == 4L && s.cents == 4L),
        s"session folds drifted: ${rows.filterNot(s => s.nEvents == 4L && s.cents == 4L).take(3)}")
      assert(rows.forall(s => (s.startMs - base) % 10000L == 0L
          && s.endMs == s.startMs + 300L),
        "session boundaries off the burst grid")
      // and exactly-once: no burst emitted twice
      assert(rows.map(s => (s.userId, s.startMs)).distinct.size == rows.size,
        "duplicate session rows")
    }
  }

  test("armed-cache sync invariant audited offline against a mid-horizon checkpoint") {
    // armed is a CACHE over the timer registry (StatefulOps scaladoc):
    // per key, armed._1 must equal the key's one live timer expiry =
    // min(min buffered ts, earliest open fragment's last + gap), and
    // armed._2 the buffered-event count; armed rows exist exactly for
    // keys holding state. Drive 8 triggers, stop MID-HORIZON (nothing
    // flushed), read the three raw state variables back offline, and
    // check the invariant key by key.
    val ckpt = newDir("graft-bs-soakinv")
    withRocksDBProvider {
      val in = MemoryStream[TimedEvent](spark)
      val q = StatefulOps.timedSessionsExact(in.toDS().withWatermark("ts", "5 seconds"), gapMs = gapMs)
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("bs_soakinv").option("checkpointLocation", ckpt).start()
      (0 until 8).foreach { t => in.addData(burst(t)); q.processAllAvailable() }
      q.stop()

      def stateVar(name: String) =
        spark.read.format("statestore").option("stateVarName", name).load(ckpt)
      val buf = stateVar("buffer")
        .groupBy(col("key.value").as("uid"))
        .agg(count(lit(1)).as("n"), min(col("list_element._1")).as("minTs"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val frag = stateVar("folded")
        .select(col("key.value").as("uid"),
          // fragment lasts are ascending, so the earliest close is head's
          (element_at(col("value.value"), 1).getField("_2") + lit(gapMs)).as("close"))
        .as[(Long, Long)].collect().toMap
      val armed = stateVar("armedTs")
        .select(col("key.value").as("uid"), col("value._1").as("expiry"),
          col("value._2").as("n"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

      // the audit must not pass vacuously: mid-horizon, both legs exist
      assert(buf.size >= nUsers / 2, s"too few buffered keys to audit: ${buf.size}")
      assert(frag.nonEmpty, "no open fragments at the stop point - the " +
        "workload no longer exercises the fragment-close timer leg")
      val stateKeys = buf.keySet ++ frag.keySet
      assert(armed.keySet == stateKeys,
        s"armed rows out of sync with state keys: armed-only=" +
          s"${(armed.keySet -- stateKeys).take(3)}, state-only=${(stateKeys -- armed.keySet).take(3)}")
      stateKeys.foreach { uid =>
        val (bufN, bufMin) = buf.getOrElse(uid, (0L, Long.MaxValue))
        val close = frag.getOrElse(uid, Long.MaxValue)
        val (expiry, n) = armed(uid)
        assert(n == bufN, s"key $uid: armed count $n != buffered count $bufN")
        assert(expiry == math.min(bufMin, close),
          s"key $uid: armed expiry $expiry != min(bufMin=$bufMin, fragClose=$close)")
      }
    }
  }
}
