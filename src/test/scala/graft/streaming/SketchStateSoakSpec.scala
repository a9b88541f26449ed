package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Bounded-state proof for the streaming sketch trio, on REAL state-store
  * metrics rather than scaladoc claims: the whole point of sketching a
  * running aggregate is that per-key state is CONSTANT in data volume —
  * state rows must scale with the number of KEYS, never with the number of
  * observations folded. The spec pours 50× more data into the same key set
  * and asserts the store's row count does not move, then adds fresh keys
  * and asserts it grows by exactly the per-key state-variable count.
  */
class SketchStateSoakSpec extends SparkSpec {
  import spark.implicits._
  import StatefulOps.HashedValue

  test("KMV state rows track keys, not rows folded") {
    withRocksDBProvider {
      val in = MemoryStream[HashedValue](spark)
      val q = StatefulOps.kmvDistinct(in.toDS(), k = 32)
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("kmv_soak").start()
      def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val keys = (0 until 20).map(i => s"k$i")

      // batch 1: 20 keys × 100 rows
      in.addData(for (k <- keys; i <- 1 to 100) yield HashedValue(k, i * 7919L))
      q.processAllAvailable()
      val afterFirst = stateRows
      assert(afterFirst > 0)

      // batch 2: 50× more data, SAME keys — state must not move at all
      (1 to 5).foreach { r =>
        in.addData(for (k <- keys; i <- 1 to 1000) yield HashedValue(k, (r * 100000L + i) * 31L))
        q.processAllAvailable()
      }
      assert(stateRows == afterFirst,
        s"state grew with data volume: $afterFirst -> $stateRows")

      // batch 3: 5 fresh keys — state grows by exactly the per-key rate
      val perKey = afterFirst / keys.size
      in.addData((0 until 5).map(i => HashedValue(s"fresh$i", i * 13L)): _*)
      q.processAllAvailable()
      assert(stateRows == afterFirst + 5 * perKey,
        s"expected ${afterFirst + 5 * perKey} rows after 5 fresh keys, got $stateRows")
      q.stop()
    }
  }

  test("stream-stream join buffers evict once both watermarks pass the window") {
    // StreamOps.streamStreamJoin's scaladoc claims the time-range bound plus
    // both watermarks keep the buffered state BOUNDED — this asserts it on
    // the store metric: ten batches of entirely fresh keys, event time
    // jumping far past lag+watermark each batch, must plateau at
    // O(per-batch rows), not accumulate every row ever buffered.
    withRocksDBProvider {
      val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def ts(min: Long) = new java.sql.Timestamp(ts0 + min * 60000L)
      val left = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
      val right = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
      val joined = StreamOps.streamStreamJoin(
        left.toDF().toDF("ts", "sensor", "alert").withWatermark("ts", "1 minute"), "ts",
        right.toDF().toDF("ts", "sensor", "ack").withWatermark("ts", "1 minute"), "ts",
        key = "sensor", maxLag = "2 minutes")
      val q = joined.writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("ssj_soak").start()
      val perBatch = 100
      val stateRows = (0 until 10).map { b =>
        // batch b: fresh sensors, 20 min past batch b-1 — far beyond
        // lag + watermark, so batch b-1's buffered rows must evict
        val t = ts(b * 20L)
        left.addData((0 until perBatch).map(i => (t, b * 100000L + i, s"a$b-$i")): _*)
        right.addData((0 until perBatch).map(i => (t, b * 100000L + i, s"k$b-$i")): _*)
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      q.stop()
      stateRows.drop(2).foreach { n =>
        assert(n <= 4L * perBatch,
          s"join state should plateau near 2x$perBatch buffered rows, got $stateRows")
      }
      // every same-instant pair joined despite the eviction churn
      assert(spark.table("ssj_soak").count() == 10L * perBatch)
    }
  }

  test("deduped-CMS composition: dedup state stays bounded by the watermark horizon") {
    // the replay-proof CMS composition's stated cost model is O(event ids
    // inside the watermark horizon) for the dedup operator — prove the EVICTION on
    // the store metric: ten batches of entirely fresh event ids, event
    // time jumping 60s per batch against a 10s watermark delay, must
    // plateau at O(per-batch ids), not accumulate every id ever seen.
    // Meanwhile the CMS fold itself must count every event exactly once
    // through the churn (the composition's correctness half).
    withRocksDBProvider {
      val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val in = MemoryStream[StatefulOps.StampedValue](spark)
      val deduped = in.toDS().withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark("key", "eventId")
        .map(v => StatefulOps.HashedValue(v.key, v.h))
      val q = StatefulOps.cmsFrequency(deduped)
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("cms_dedup_soak").start()
      val perBatch = 100
      val dedupRows = (0 until 10).map { b =>
        in.addData((0 until perBatch).map { i =>
          StatefulOps.StampedValue(new java.sql.Timestamp(ts0 + b * 60000L),
            b * 100000L + i, "a", (i % 7).toLong)
        }: _*)
        q.processAllAvailable()
        // two stateful operators run in this query; the dedup one is the
        // only one whose row count COULD grow with event ids — the
        // transformWithState fold holds 2 rows for the single key forever
        q.lastProgress.stateOperators
          .filter(_.operatorName.toLowerCase.contains("dedup"))
          .map(_.numRowsTotal).sum
      }
      q.stop()
      assert(dedupRows.take(3).exists(_ > 0), s"dedup operator not found: $dedupRows")
      dedupRows.drop(2).foreach { n =>
        assert(n <= 4L * perBatch,
          s"dedup state must plateau near the horizon's $perBatch ids, got $dedupRows")
      }
      // exactly-once through the eviction churn: every id counted once
      import org.apache.spark.util.sketch.CountMinSketch
      val last = spark.table("cms_dedup_soak").as[StatefulOps.CmsSketchRow]
        .collect().maxBy(_.nRows)
      assert(last.nRows == 10L * perBatch,
        s"expected ${10 * perBatch} rows folded exactly once, got ${last.nRows}")
      assert(CountMinSketch.readFrom(last.sketch).totalCount() == 10L * perBatch)
    }
  }

  test("GK quantile state rows also stay flat under 50x data on fixed keys") {
    withRocksDBProvider {
      val in = MemoryStream[StatefulOps.Observation](spark)
      val q = StatefulOps.runningQuantiles(in.toDS(), relativeError = 0.05)
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("gk_soak").start()
      def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val keys = (0 until 10).map(i => s"k$i")
      in.addData(for (k <- keys; i <- 1 to 100) yield StatefulOps.Observation(k, i.toDouble))
      q.processAllAvailable()
      val afterFirst = stateRows
      (1 to 5).foreach { r =>
        in.addData(for (k <- keys; i <- 1 to 1000)
          yield StatefulOps.Observation(k, (r * 1000 + i).toDouble))
        q.processAllAvailable()
      }
      // one ValueState row per key holds the whole GK summary — the row
      // COUNT is exactly flat (the summary blob inside grows only
      // logarithmically, which the store metric does not count)
      assert(stateRows == afterFirst,
        s"state rows grew with data volume: $afterFirst -> $stateRows")
      q.stop()
    }
  }
}
