package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Delivery-contract coverage (SURVEY.md A10/A12): checkpointed restart
  * without reprocessing, complete output mode, listener-based interval
  * stats, and the bucketed AlertSummary accumulator.
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  test("checkpoint restart processes each input exactly once (A10)") {
    val in = Files.createTempDirectory("graft-ckpt-in").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val out = Files.createTempDirectory("graft-ckpt-out").toString

    def startQuery() = spark.readStream
      .schema("id bigint")
      .json(in)
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .start()

    (0 until 5).map(i => s"""{"id":$i}""").foreach(write(in, _))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    (5 until 10).map(i => s"""{"id":$i}""").foreach(write(in, _))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val ids = spark.read.parquet(out).select($"id").as[Long].collect().sorted.toSeq
    assert(ids == (0L to 9L)) // no duplicates from the restart, nothing lost
  }

  test("complete output mode re-emits full aggregate state per trigger") {
    val in = MemoryStream[String](spark)
    val q = in.toDF().toDF("k").groupBy($"k").agg(count(lit(1)).as("n"))
      .writeStream.outputMode(OutputMode.Complete).format("memory")
      .queryName("complete_out").start()
    in.addData("a", "b", "a")
    q.processAllAvailable()
    in.addData("a")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("complete_out").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 1L))
  }

  test("stats listener observes per-batch throughput (A12)") {
    val listener = new StatsListener
    spark.streams.addListener(listener)
    try {
      val in = MemoryStream[Long](spark)
      val q = in.toDF().groupBy($"value" % 10).count()
        .writeStream.outputMode(OutputMode.Update).format("memory").queryName("stats_out")
        .option("checkpointLocation", Files.createTempDirectory("graft-stats-ckpt").toString)
        .start()
      in.addData(1L to 100L: _*)
      q.processAllAvailable()
      q.stop()
      // listener delivery is async; wait briefly for the progress events
      val deadline = System.currentTimeMillis() + 10000
      def batches = listener.progress.asScala.toSeq
      while (!batches.exists(_.rows > 0) && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(batches.map(_.rows).sum >= 100L)
      val b = batches.find(_.rows > 0).get
      // a batch with data runs every phase: the offset log, planning, the
      // sink, the commit log, and a state commit of the aggregate's store;
      // the phases lie inside the trigger (+1 for millisecond rounding)
      assert(b.addBatchMs > 0L, b)
      assert(Seq(b.walCommitMs, b.planningMs, b.commitOffsetsMs, b.stateCommitMs).forall(_ >= 0L), b)
      assert(b.walCommitMs + b.planningMs + b.addBatchMs + b.commitOffsetsMs <= b.batchMs + 1, b)
      assert(b.line.split(" ").map(_.takeWhile(_ != '=')).toSeq ==
        Seq("[stats]", "batch", "rows", "rows/s", "batchMs", "walCommitMs", "planningMs",
          "addBatchMs", "commitOffsetsMs", "stateCommitMs"), b.line)
    } finally spark.streams.removeListener(listener)
  }

  test("bucketed alert summary accumulates per (sensor, bucket)") {
    // the AlertSummary composition: dedup on the alert id, then one-minute
    // tumbling counts per sensor; the second trigger brings a late bucket-60
    // row inside the watermark and a redelivery
    val in = MemoryStream[(String, String, Long)](spark)
    def alerts(id: String, epochS: Long, n: Int) = (0 until n).map(i => (s"$id-$i", "s1", epochS))
    val events = in.toDF().toDF("id", "sensorId", "epochS")
      .withColumn("ts", timestamp_seconds($"epochS"))
    val q = StreamOps.tumblingCounts(StreamOps.streamingDedup(events, "ts", "1 minute", "id"),
        "ts", "1 minute", "sensorId")
      .writeStream.outputMode(OutputMode.Update).format("memory")
      .queryName("summary_bucketed").start()
    in.addData(alerts("a", 100L, 2) ++ alerts("b", 119L, 3) ++ alerts("c", 130L, 1))
    q.processAllAvailable()
    in.addData(alerts("d", 110L, 5) ++ alerts("b", 119L, 1))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("summary_bucketed")
      .groupBy($"sensorId", unix_seconds($"window_start")).agg(max($"n").as("t"))
      .as[(String, Long, Long)].collect().map { case (s, b, t) => (s, b) -> t }.toMap
    assert(last == Map(("s1", 60L) -> 10L, ("s1", 120L) -> 1L))
  }

  private def write(dir: String, line: String): Unit = {
    val f = Files.createTempFile(java.nio.file.Paths.get(dir), "part", ".json")
    Files.writeString(f, line + "\n")
  }
}
