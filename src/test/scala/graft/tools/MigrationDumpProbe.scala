package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{OldBufferLayoutProcessor, StateMigration, StatefulOps}

/** Scale probe for the checkpoint-migration DUMP (r16 verdict task 4):
  * `StateMigrationDump` is a user-facing recovery path whose cost model —
  * "a per-key shuffle of O(buffered events), same scan shape as the rest
  * of the dump" — was stated, not measured. This measures it: dump wall
  * plus the dump plan's own exchange volume (records and bytes written,
  * read off the plan's `ShuffleExchangeLike` metrics, as
  * `ExchangeProbe.shuffleRecords` does) over checkpoints at a base
  * regime and at 10× keys / 10×(keys×events-per-key), for BOTH buffer
  * layouts.
  *
  * {{{
  * sbt "Test/runMain graft.tools.MigrationDumpProbe"
  * }}}
  *
  * Lives in test sources because the old-layout checkpoint
  * writer ([[OldBufferLayoutProcessor]]) is deliberately test-only
  * scaffolding — shipping a pre-r14 layout WRITER in the library would
  * reintroduce the layout the migration exists to escape. RocksDB
  * provider only: transformWithState (either layout) supports no other
  * store, so there is no valid HDFS-provider leg (the dump script's
  * `hdfs` arg is reader generality, not reachable for these operators).
  *
  * Expected shape, and what would falsify the claim: dump wall and
  * exchange volume scale ~linearly in TOTAL BUFFERED EVENTS for the
  * current layout (its per-key `collect_list` re-aggregation shuffles one
  * record per buffered event) and in KEYS for the old layout (its
  * ValueState buffer is already one row per key, so events ride inside
  * single rows and the exchanges see O(keys) records). Superlinear wall
  * at 10×, or current-layout exchange records not tracking events, would
  * mean the "same scan shape" sentence in PARITY is wrong.
  */
object MigrationDumpProbe {

  private def ev(uid: Long, ms: Long, id: Long, cents: Long) =
    StatefulOps.TimedUserEvent(new java.sql.Timestamp(ms), uid, id, "view", cents)

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // offline-dump contract (see StateMigrationDump): no streaming query
      // runs while the reader loads, so snapshot-upload-lag reporting has
      // no coordinator to talk to
      .config("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def newDir(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString

    /** Write a checkpoint holding `keys` users × `evPerKey` buffered
      * events each, nothing settled (watermark delay far beyond the event
      * band), in the given layout. Keys are fed in chunks so the
      * old layout's ValueState buffer is written once per key, not
      * re-appended per batch.
      */
    def writeCheckpoint(layout: String, keys: Int, evPerKey: Int): String = {
      val ckpt = newDir(s"graft-mdp-$layout")
      val in = MemoryStream[StatefulOps.TimedUserEvent](spark)
      val wire = layout match {
        case "old" =>
          in.toDS().withWatermark("ts", "4000 seconds").groupByKey(_.userId)
            .transformWithState(new OldBufferLayoutProcessor(),
              org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
        case _ =>
          StatefulOps.patternMatchCountsExact(in.toDS().withWatermark("ts", "4000 seconds"))
      }
      val q = wire.writeStream.outputMode(OutputMode.Update)
        .foreachBatch((df: org.apache.spark.sql.Dataset[StatefulOps.PatternCount],
            _: Long) => { df.count(); () })
        .option("checkpointLocation", ckpt).start()
      val keyChunk = 2000
      (0 until keys by keyChunk).foreach { k0 =>
        in.addData((k0 until math.min(k0 + keyChunk, keys)).flatMap { u =>
          (0 until evPerKey).map(i => ev(u.toLong, 1000000L + i * 1000L, i.toLong, i % 7))
        })
        q.processAllAvailable()
      }
      q.stop()
      ckpt
    }

    /** (records, bytes) written across every exchange in the dump plan's
      * own execution — run separately from the timed wall (the wall is
      * the real script including the parquet write; the exchange metrics
      * need the plan object in hand).
      */
    def exchangeVolume(layout: String, ckpt: String): (Long, Long) = {
      val df = (layout match {
        case "old" => StateMigration.readOldBufferedExact[(Long, Long, Long)](spark, ckpt)
        case _ => StateMigration.readCurrentBufferedExact[(Long, Long, Long)](spark, ckpt)
      }).toDF()
      df.queryExecution.toRdd.count()
      val nodes = graft.SparkSpec.planNodes(df.queryExecution.executedPlan)
      val recs = nodes.map {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          s.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
        case _ => 0L
      }.sum
      val bytes = nodes.map {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          s.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
        case _ => 0L
      }.sum
      (recs, bytes)
    }

    def leg(layout: String, keys: Int, evPerKey: Int): Unit = {
      val ckpt = writeCheckpoint(layout, keys, evPerKey)
      val outDir = newDir("graft-mdp-out")
      val t0 = System.nanoTime()
      val n = StateMigrationDump.run(spark, ckpt, outDir, "cep", layout)
      val wall = (System.nanoTime() - t0) / 1e9
      val (recs, bytes) = exchangeVolume(layout, ckpt)
      require(n == keys.toLong, s"dump lost keys: $n of $keys")
      println(f"[mdp] layout=$layout%-7s keys=$keys%6d evPerKey=$evPerKey%4d " +
        f"(events=${keys.toLong * evPerKey}%9d)  dumpWall=$wall%7.3f s  " +
        f"exchangeRecords=$recs%9d  exchangeMB=${bytes / 1048576.0}%8.2f")
    }

    Seq("old", "current").foreach { layout =>
      leg(layout, keys = 1000, evPerKey = 40)    // base: 40k events
      leg(layout, keys = 10000, evPerKey = 40)   // 10x keys: 400k events
      leg(layout, keys = 10000, evPerKey = 400)  // 10x both: 4M events
    }
    spark.stop()
  }
}
