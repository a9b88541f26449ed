package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming OHLC bars (StreamOps.ohlcBars) — the batch q_ts_ohlc's
  * incremental twin. Pins: (1) append-mode bars equal the batch
  * aggregation over the same rows even when a bar's events arrive OUT OF
  * ORDER across triggers (min_by/max_by partial-merge is order-blind);
  * (2) a row later than the watermark is dropped and the already-emitted
  * bar is final — the documented streaming trade-off.
  */
class OhlcStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // (ts, user, eventId, cents) — one user, one day-bar, plus a second user
  private val rows = Seq(
    (ts("2024-01-01 10:00:00"), 1L, 1L, 500L),
    (ts("2024-01-01 09:00:00"), 1L, 2L, 300L),  // earlier ts arrives later → open
    (ts("2024-01-01 23:00:00"), 1L, 3L, 400L),  // latest ts → close
    (ts("2024-01-01 12:00:00"), 1L, 4L, 900L),  // high
    (ts("2024-01-01 13:00:00"), 1L, 5L, 100L),  // low
    (ts("2024-01-01 11:00:00"), 2L, 6L, 250L))

  private def run(batches: Seq[Seq[(Timestamp, Long, Long, Long)]],
      name: String): Map[(Long, Timestamp), (Long, Long, Long, Long, Long, Long)] = {
    val in = MemoryStream[(Timestamp, Long, Long, Long)](spark)
    val bars = StreamOps.ohlcBars(
      in.toDF().toDF("ts", "user_id", "event_id", "cents").withWatermark("ts", "1 hour"),
      "ts", "user_id", "event_id", "cents")
    val q = bars.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName(name).start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    // watermark-advancing flush row (day 3) so day-1 bars close and emit
    in.addData((ts("2024-01-03 00:00:00"), 99L, 999L, 1L))
    q.processAllAvailable()
    q.stop()
    spark.table(name)
      .select(col("user_id"), col("bar_start"), col("open_cents"), col("high_cents"),
        col("low_cents"), col("close_cents"), col("n_trades"), col("volume_cents"))
      .as[(Long, Timestamp, Long, Long, Long, Long, Long, Long)]
      .collect()
      .map { case (u, b, o, h, l, c, n, v) => (u, b) -> ((o, h, l, c, n, v)) }.toMap
  }

  private val day1 = ts("2024-01-01 00:00:00")

  test("out-of-order arrival across triggers still yields the batch bars") {
    val got = run(rows.grouped(2).toSeq, "ohlc_split")
    assert(got((1L, day1)) == ((300L, 900L, 100L, 400L, 5L, 2200L)))
    assert(got((2L, day1)) == ((250L, 250L, 250L, 250L, 1L, 250L)))
  }

  test("a row later than the watermark is dropped; the emitted bar is final") {
    val got = run(Seq(rows, Seq((ts("2024-01-05 00:00:00"), 3L, 7L, 10L)),
      // day-1 row arriving after the watermark advanced to Jan 4 23:00
      Seq((ts("2024-01-01 15:00:00"), 1L, 8L, 9999L))), "ohlc_late")
    assert(got((1L, day1)) == ((300L, 900L, 100L, 400L, 5L, 2200L)),
      "the late row must not reopen or alter the finalized bar")
  }
}
