package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.util.sketch.CountMinSketch

/** Streaming CMS frequency sketch (StatefulOps.cmsFrequency) — frequency
  * next to the KMV twin's cardinality. Counters add commutatively, so the
  * streaming sketch bytes after any trigger split or arrival order are
  * bit-identical to the batch single-pass sketch (same seed). The contract
  * CONTRAST with KMV is pinned too: a replayed trigger double-counts
  * (counters are not idempotent), where the bottom-k absorbed it — the
  * at-least-once caveat stated on the operator, proven here.
  */
class CmsStreamSpec extends SparkSpec {
  import spark.implicits._
  import StatefulOps.{CmsSketchRow, HashedValue}

  private val Eps = 0.01
  private val Conf = 0.99
  private val Seed = 42

  // key "a": value 7 is a heavy hitter (12 of 20 rows); key "b" small
  private val rows: Seq[HashedValue] =
    (1 to 12).map(_ => HashedValue("a", 7L)) ++
      (1 to 8).map(i => HashedValue("a", 100L + i)) ++
      Seq(3L, 3L, 9L).map(HashedValue("b", _))

  private def batchTruth(key: String): Array[Byte] = {
    val cms = CountMinSketch.create(Eps, Conf, Seed)
    rows.filter(_.key == key).foreach(r => cms.addLong(r.h))
    cms.toByteArray
  }

  private def run(batches: Seq[Seq[HashedValue]], name: String): Map[String, CmsSketchRow] =
    withRocksDBProvider {
      val in = MemoryStream[HashedValue](spark)
      val q = StatefulOps.cmsFrequency(in.toDS(), Eps, Conf, Seed)
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName(name).start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[CmsSketchRow].collect().toSeq
        .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.nRows) }
    }

  test("trigger splits and arrival order yield bit-identical sketch bytes") {
    val one = run(Seq(rows), "cms_one")
    val split = run(rows.grouped(5).toSeq, "cms_split")
    val reversed = run(rows.reverse.grouped(7).toSeq, "cms_rev")
    for (k <- Seq("a", "b"); got <- Seq(one, split, reversed)) {
      assert(java.util.Arrays.equals(got(k).sketch, batchTruth(k)),
        s"key $k diverged from the batch sketch bytes")
    }
    assert(one("a").nRows == 20L && one("b").nRows == 3L)
  }

  test("estimates never undercount and the heavy hitter reads exact-ish") {
    val got = run(Seq(rows), "cms_est")
    val cms = CountMinSketch.readFrom(got("a").sketch)
    assert(cms.estimateCount(7L) >= 12L) // never undercounts
    assert(cms.estimateCount(7L) <= 12L + (Eps * cms.totalCount()).ceil.toLong)
  }

  test("a replayed trigger double-counts: CMS is NOT replay-absorbing") {
    val replayed = run(Seq(rows, rows), "cms_replay")
    val cms = CountMinSketch.readFrom(replayed("a").sketch)
    assert(cms.totalCount() == 40L) // vs KMV, which absorbed the replay
    assert(cms.estimateCount(7L) >= 24L)
  }

  /** The replay-proof composition: one watermark, then
    * `dropDuplicatesWithinWatermark` on the (key, eventId) pair upstream
    * of the CMS fold.
    */
  private def replayProof(in: Dataset[StatefulOps.StampedValue]): Dataset[HashedValue] =
    in.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("key", "eventId")
      .map(v => HashedValue(v.key, v.h))

  test("the deduped composition absorbs a replayed trigger: counters unchanged") {
    import StatefulOps.StampedValue
    // same 23 logical events, now carrying unique event ids + a timestamp
    // for the dedup horizon; the whole batch is then REPLAYED verbatim —
    // the at-least-once redelivery the plain operator's caveat warns about
    val base = 1700000000000L
    val stamped: Seq[StampedValue] = rows.zipWithIndex.map { case (r, i) =>
      StampedValue(new java.sql.Timestamp(base + i * 1000L), 100L + i, r.key, r.h)
    }
    val got = withRocksDBProvider {
      val in = MemoryStream[StampedValue](spark)
      val q = StatefulOps.cmsFrequency(replayProof(in.toDS()), Eps, Conf, Seed)
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("cms_dedup_replay").start()
      Seq(stamped, stamped).foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table("cms_dedup_replay").as[StatefulOps.CmsSketchRow].collect().toSeq
        .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.nRows) }
    }
    for (k <- Seq("a", "b"))
      assert(java.util.Arrays.equals(got(k).sketch, batchTruth(k)),
        s"key $k: replay leaked through the dedup into the counters")
    val cms = CountMinSketch.readFrom(got("a").sketch)
    assert(cms.totalCount() == 20L) // NOT 40: the replayed trigger was absorbed
  }

  test("dedup key is (key, eventId): per-key sequence numbers do not collide across keys") {
    import StatefulOps.StampedValue
    // the r12 ADVICE failure scenario: two DISTINCT live events on
    // different keys share eventId 1 (per-partition sequence numbers) —
    // an eventId-only dedup would silently drop one and drift counts DOWN
    val base = 1700000000000L
    val batch = Seq(
      StampedValue(new java.sql.Timestamp(base), 1L, "a", 7L),
      StampedValue(new java.sql.Timestamp(base + 1000L), 1L, "b", 7L),
      // and a true same-key redelivery of (a, 1) that MUST be absorbed
      StampedValue(new java.sql.Timestamp(base), 1L, "a", 7L))
    val got = withRocksDBProvider {
      val in = MemoryStream[StampedValue](spark)
      val q = StatefulOps.cmsFrequency(replayProof(in.toDS()), Eps, Conf, Seed)
        .writeStream.outputMode(OutputMode.Update).format("memory")
        .queryName("cms_dedup_perkey").start()
      in.addData(batch); q.processAllAvailable()
      q.stop()
      spark.table("cms_dedup_perkey").as[StatefulOps.CmsSketchRow].collect().toSeq
        .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.nRows) }
    }
    // both keys counted exactly once: the shared id did not cross-cancel,
    // the same-key redelivery did not double-count
    for (k <- Seq("a", "b"))
      assert(CountMinSketch.readFrom(got(k).sketch).totalCount() == 1L,
        s"key $k: expected exactly one counted event")
  }
}
