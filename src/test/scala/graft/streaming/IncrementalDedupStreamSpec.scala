package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** StreamOps.incrementalDedup — the streaming twin of
  * q_dedup_incremental: corpus-known documents are filtered by the
  * stream-static anti join BEFORE the dedup state (they never occupy the
  * store), and within-stream duplicates collapse to the first arrival
  * across micro-batches via dropDuplicatesWithinWatermark.
  */
class IncrementalDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  final case class DocEvent(ts: java.sql.Timestamp, docId: Long, text: String)

  test("corpus hits and within-stream duplicates are both removed") {
    def t(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    val corpus = Seq("known-doc").toDF("text")
      .select(md5(col("text").cast("binary")).as("h"))
    val in = MemoryStream[DocEvent](spark)
    val out = StreamOps.incrementalDedup(
      in.toDF().withWatermark("ts", "10 minutes"), corpus, textCol = "text")
    val q = out.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("inc_dedup").start()
    // batch 1: a corpus hit, a fresh doc, and an in-batch duplicate of it
    in.addData(
      DocEvent(t(0), 1L, "known-doc"),
      DocEvent(t(1000), 2L, "fresh-doc"),
      DocEvent(t(2000), 3L, "fresh-doc"))
    q.processAllAvailable()
    // batch 2: a cross-batch duplicate (state still live) and a new doc
    in.addData(
      DocEvent(t(3000), 4L, "fresh-doc"),
      DocEvent(t(4000), 5L, "second-doc"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("inc_dedup").select($"docId").as[Long].collect().toSet
    assert(got == Set(2L, 5L),
      s"expected survivors {2, 5} (first fresh arrival + new doc), got $got")
  }
}
