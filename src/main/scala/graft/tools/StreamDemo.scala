package graft.tools

import graft.{Graft, Tables}
import graft.pipeline.SensorSchemas
import graft.streaming.{KafkaSink, StreamOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Runnable streaming driver: a real file-source stream of the testdata
  * events through streaming dedup chained into the tumbling-window
  * operator on the dedup's watermark, then the full Snort pipeline through
  * the foreachBatch sink with a stdout writer.
  *
  * Usage: sbt "runMain graft.tools.StreamDemo [sfDir]"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Graft.session("graft-stream-demo")

    // interval stats (reference A12) ride along on every streaming query
    spark.streams.addListener(new graft.streaming.StatsListener)

    // 1. file-source stream: stage the events table as json, stream it back
    val stage = java.nio.file.Files.createTempDirectory("graft-stream").toString
    Tables(spark, sfDir).events
      .select(col("ts"), col("event_id"), col("event_type"), col("user_id"))
      .coalesce(4).write.mode("overwrite").json(stage)
    val stream = spark.readStream
      .schema("ts timestamp, event_id bigint, event_type string, user_id bigint")
      .json(stage)
    // one watermark, declared by the dedup, bounds both operators' state
    val counts = StreamOps.tumblingCounts(
      StreamOps.streamingDedup(stream, "ts", "1 hour", "event_id"), "ts", "6 hours", "event_type")
    StreamOps.runToMemory(counts, "stream_counts", OutputMode.Append)
    val out = spark.table("stream_counts")
    println(s"[stream] windows=${out.count()}")
    out.orderBy(col("window_start"), col("event_type")).show(8, truncate = false)

    // 1b. the bounded-state sketch trio over the same file-source stream:
    //     per-event-type distinct users (KMV), user frequency (CMS), and
    //     running user-id percentiles (GK) — all on RocksDB state
    {
      import spark.implicits._
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val hashed = stream
          .select(col("event_type").as("key"), xxhash64(col("user_id")).as("h"))
          .as[graft.streaming.StatefulOps.HashedValue]
        val kmv = graft.streaming.StatefulOps.kmvDistinct(hashed, k = 64)
          .toDF().select(col("key"), col("nRows"), col("est"))
        StreamOps.runToMemory(kmv, "stream_kmv", OutputMode.Update)
        println("[sketch] per-type distinct-user estimates (KMV, k=64):")
        spark.table("stream_kmv").groupBy(col("key"))
          .agg(max(col("nRows")).as("rows"), max(col("est")).as("distinct_est"))
          .orderBy(col("key")).show(8, truncate = false)

        // replay-proof frequency: dropDuplicatesWithinWatermark on the
        // (key, eventId) pair upstream of the CMS fold — the composed
        // exactly-once-effect pipeline (a redelivered event never touches
        // a counter)
        val deduped = stream
          .select(col("ts"), col("event_id").as("eventId"),
            col("event_type").as("key"), xxhash64(col("user_id")).as("h"))
          .as[graft.streaming.StatefulOps.StampedValue]
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("key", "eventId")
          .map(v => graft.streaming.StatefulOps.HashedValue(v.key, v.h))
        val cms = graft.streaming.StatefulOps.cmsFrequency(deduped)
          .toDF().select(col("key"), col("nRows"))
        StreamOps.runToMemory(cms, "stream_cms", OutputMode.Update)
        println("[sketch] per-type deduped CMS fold (rows reaching the counters):")
        spark.table("stream_cms").groupBy(col("key"))
          .agg(max(col("nRows")).as("rows")).orderBy(col("key")).show(8, truncate = false)

        val obs = stream
          .select(col("event_type").as("key"), col("user_id").cast("double").as("v"))
          .as[graft.streaming.StatefulOps.Observation]
        val gk = graft.streaming.StatefulOps.runningQuantiles(obs)
          .toDF().select(col("key"), col("nRows"), col("p50"), col("p95"), col("p99"))
        StreamOps.runToMemory(gk, "stream_gk", OutputMode.Update)
        println("[sketch] per-type running user-id percentiles (GK, eps=0.01):")
        spark.table("stream_gk").orderBy(col("key"), col("nRows").desc)
          .dropDuplicates("key").orderBy(col("key")).show(8, truncate = false)
      } finally prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }

    // 2. Snort pipeline → foreachBatch sink with a stdout writer
    val fixture =
      """{"metrics":[{"snort_timestamp":"25/01/31-04:15:06.927463"},
        |{"snort_timestamp":"25/01/31-04:15:07.100000"}],
        |"event_hash_sha256":"demo-hash","event_metrics_count":2,
        |"event_seconds":1738296906,"sensor_id":"sensor-demo","sensor_version":"1",
        |"event_read_at":1738296906927463,"event_sent_at":1738296906900000,
        |"event_received_at":1738296906000000,"snort_interface":"eth0",
        |"snort_message":"demo","snort_priority":1,"snort_protocol":"TCP",
        |"snort_rule_gid":1,"snort_rule_rev":1,"snort_rule_sid":1,
        |"snort_rule":"1:1","snort_seconds":1738296906}""".stripMargin.replaceAll("\n", "")
    import spark.implicits._
    val events = Seq(fixture).toDF("value")
      .select(from_json(col("value"), SensorSchemas.sensorEventSchema).as("e"))
      .select("e.*")
    val envelope = graft.pipeline.SnortPipeline.withEnvelope(
      graft.pipeline.SnortPipeline.alerts(events))
    KafkaSink.emit(
      KafkaSink.prepareRecords(envelope, "alerts-out", schemaId = 3),
      () => new StdoutWriter)

    // 3. full ingest chain: registry-framed protobuf → wire decode (header
    //    read in place) → explode/project → sink (the reference's A1→A9
    //    path end-to-end)
    val framed = events.collect().map { row =>
      graft.streaming.ConfluentFraming.header(42) ++
        graft.streaming.ProtobufWire.encodeSensorEvent(row)
    }
    val decoded = graft.streaming.ProtobufWire.decodeFramed(framed.toSeq.toDF("value"), "value")
    val envelope2 = graft.pipeline.SnortPipeline.withEnvelope(
      graft.pipeline.SnortPipeline.alerts(decoded))
    println("[protobuf-ingest] decoded events → prepared records:")
    KafkaSink.emit(
      KafkaSink.prepareRecords(envelope2, "alerts-from-proto", schemaId = 42),
      () => new StdoutWriter)
    spark.stop()
  }
}

class StdoutWriter extends KafkaSink.RecordWriter {
  def send(r: KafkaSink.PreparedRecord): Unit =
    println(s"[sink] topic=${r.topic} key=${new String(r.key, "UTF-8")} " +
      s"ts=${r.timestampMs} valueBytes=${r.value.length} headers=${r.headers.toSeq.sorted}")
}
