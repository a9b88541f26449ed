package graft.streaming

import graft.SparkSpec
import graft.pipeline.SensorSchemas
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling window with watermark drops late data in append mode") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val counts = StreamOps.tumblingCounts(
      in.toDF().toDF("ts", "sensor").withWatermark("ts", "5 minutes"), "ts", "10 minutes", "sensor")
    val q = counts.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("tumbling").start()
    in.addData((ts("2024-01-01 10:01:00"), "s1"), (ts("2024-01-01 10:02:00"), "s1"))
    q.processAllAvailable()
    // advance watermark far past the 10:00-10:10 window
    in.addData((ts("2024-01-01 11:00:00"), "s1"))
    q.processAllAvailable()
    // late event for the already-closed window: must be dropped
    in.addData((ts("2024-01-01 10:03:00"), "s1"))
    in.addData((ts("2024-01-01 12:00:00"), "s1"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tumbling")
      .select(date_format($"window_start", "HH:mm").as("w"), $"n")
      .as[(String, Long)].collect().toMap
    assert(rows("10:00") == 2) // late third event NOT counted
  }

  test("session windows merge gap-adjacent events") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val sessions = StreamOps.sessionCounts(
      in.toDF().toDF("ts", "user").withWatermark("ts", "1 minute"), "ts", "5 minutes", "user")
    val q = sessions.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("sessions").start()
    in.addData(
      (ts("2024-01-01 10:00:00"), "u1"), (ts("2024-01-01 10:03:00"), "u1"),
      (ts("2024-01-01 10:20:00"), "u1"))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 11:00:00"), "u1")) // advance watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions")
      .select(date_format($"session_start", "HH:mm"), $"n").as[(String, Long)]
      .collect().toMap
    assert(rows == Map("10:00" -> 2, "10:20" -> 1))
  }

  test("streaming dedup keeps first occurrence per key within watermark") {
    val in = MemoryStream[(Timestamp, String, String)](spark)
    val dedup = StreamOps.streamingDedup(
      in.toDF().toDF("ts", "hash", "payload"), "ts", "10 minutes", "hash")
    val q = dedup.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("dedup").start()
    in.addData(
      (ts("2024-01-01 10:00:00"), "h1", "a"),
      (ts("2024-01-01 10:00:30"), "h1", "b"),
      (ts("2024-01-01 10:01:00"), "h2", "c"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup").select($"hash").as[String].collect().sorted.toSeq
    assert(got == Seq("h1", "h2"))
  }

  test("per-sensor alert totals accumulate across triggers (groupBy count)") {
    // the running AlertSummary{total_alerts}: one alert row per alert
    val in = MemoryStream[String](spark)
    val q = in.toDF().toDF("sensorId").groupBy($"sensorId").count().writeStream
      .outputMode(OutputMode.Update).format("memory").queryName("summary").start()
    in.addData(Seq.fill(3)("s1") :+ "s2")
    q.processAllAvailable()
    in.addData("s1", "s1")
    q.processAllAvailable()
    q.stop()
    val last = spark.table("summary").groupBy($"sensorId")
      .agg(max($"count").as("t")).as[(String, Long)].collect().toMap
    assert(last == Map("s1" -> 5L, "s2" -> 1L))
  }

  test("streaming dedup chains into tumbling counts on the dedup's watermark") {
    // the chain Spark refused while each operator stamped its own watermark
    val in = MemoryStream[(Timestamp, String, String)](spark)
    val counts = StreamOps.tumblingCounts(
      StreamOps.streamingDedup(in.toDF().toDF("ts", "hash", "sensor"), "ts", "5 minutes", "hash"),
      "ts", "10 minutes", "sensor")
    val q = counts.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("dedup_tumbling").start()
    in.addData((ts("2024-01-01 10:01:00"), "h1", "s1"), (ts("2024-01-01 10:02:00"), "h2", "s1"),
      (ts("2024-01-01 10:01:00"), "h1", "s1")) // a redelivery in the same trigger
    q.processAllAvailable()
    in.addData((ts("2024-01-01 10:02:00"), "h2", "s1")) // a redelivery one trigger later
    q.processAllAvailable()
    in.addData((ts("2024-01-01 11:00:00"), "h3", "s1")) // close the 10:00 window
    q.processAllAvailable()
    in.addData((ts("2024-01-01 12:00:00"), "h4", "s1"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_tumbling")
      .select(date_format($"window_start", "HH:mm").as("w"), $"n")
      .as[(String, Long)].collect().toMap
    assert(rows("10:00") == 2)
  }

  test("operators whose state Spark keeps without a watermark fail by name on un-watermarked input") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val raw = in.toDF().toDF("ts", "k")
    // Spark itself starts these un-watermarked: an update-mode window and
    // an inner stream-stream join, whose state would then grow forever
    val acks = MemoryStream[(Timestamp, String)](spark)
    val r = acks.toDF().toDF("r_ts", "r_k")
    val joined = raw.join(r, $"k" === $"r_k" && $"r_ts" >= $"ts" && $"r_ts" <= $"ts" + expr("INTERVAL 5 minutes"))
    val sparkQs = Seq(
      raw.groupBy(window($"ts", "10 minutes"), $"k").count().writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("unwatermarked_window").start(),
      joined.writeStream.outputMode(OutputMode.Append).format("memory").queryName("unwatermarked_join").start())
    in.addData((ts("2024-01-01 10:01:00"), "s1"))
    acks.addData((ts("2024-01-01 10:02:00"), "s1"))
    sparkQs.foreach { q => q.processAllAvailable(); q.stop() }
    assert(spark.table("unwatermarked_window").count() == 1L && spark.table("unwatermarked_join").count() == 1L)
    def named(op: String)(call: => Any): Unit = {
      val err = intercept[IllegalArgumentException](call)
      assert(err.getMessage.startsWith(s"$op: column 'ts' carries no event-time watermark"), err.getMessage)
    }
    named("tumblingCounts")(StreamOps.tumblingCounts(raw, "ts", "10 minutes", "k"))
    named("sessionCounts")(StreamOps.sessionCounts(raw, "ts", "5 minutes", "k"))
    val trades = raw.withColumn("id", lit(1L)).withColumn("cents", lit(1L))
    named("ohlcBars")(StreamOps.ohlcBars(trades, "ts", "k", "id", "cents"))
    val watermarked = raw.withWatermark("ts", "1 minute")
    named("streamStreamJoin")(StreamOps.streamStreamJoin(raw, "ts", watermarked, "ts", "k", "5 minutes"))
    named("streamStreamJoin")(StreamOps.streamStreamJoin(watermarked, "ts", raw, "ts", "k", "5 minutes"))
    // the watermarked forms build; a batch input needs no watermark
    StreamOps.tumblingCounts(watermarked, "ts", "10 minutes", "k")
    StreamOps.streamStreamJoin(watermarked, "ts", watermarked, "ts", "k", "5 minutes")
    StreamOps.tumblingCounts(Seq((ts("2024-01-01 10:01:00"), "s1")).toDF("ts", "k"), "ts", "10 minutes", "k")
  }

  test("stream-static broadcast enrichment") {
    val dim = Seq(("10.0.0.1", "internal"), ("8.8.8.8", "external")).toDF("ip", "zone")
    val in = MemoryStream[String](spark)
    val out = StreamOps.enrichWithStatic(in.toDF().toDF("ip"), dim, "ip")
    val q = out.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("enriched").start()
    in.addData("10.0.0.1", "1.2.3.4")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enriched").as[(String, Option[String])].collect().toMap
    assert(got == Map("10.0.0.1" -> Some("internal"), "1.2.3.4" -> None))
  }

  test("Confluent framing: header/payloadOffset roundtrip") {
    val payload = "hello".getBytes("UTF-8")
    val framed = ConfluentFraming.header(42) ++ payload
    // 6-byte header: magic + schema id + the 0x00 message-indexes shorthand
    assert(framed.length == payload.length + 6)
    assert(framed.drop(ConfluentFraming.payloadOffset(framed)).toSeq == payload.toSeq)
    assert(ConfluentFraming.parseHeader(framed)._1 == 42)
  }

  test("Avro roundtrip: nested struct, nullables, framing in prepared records") {
    val events = spark.createDataFrame(
      Seq(
        Row(Seq(Row.fromSeq(("25/01/31-04:15:06.927463" +: Array.fill[Any](37)(null)).toIndexedSeq)),
          "hash-1", 1L, 1738296906L, "sensor-9", "3.1", 1738296906927463L,
          1738296906900000L, 1738296906000000L, "allow", null, "C2S", "eth0",
          "msg!", 2L, "TCP", 1L, 2L, 3L, "1:10", 1738296906L, "http", null)
      ).asJava,
      SensorSchemas.sensorEventSchema)
    val envelope = graft.pipeline.SnortPipeline.withEnvelope(
      graft.pipeline.SnortPipeline.alerts(events))
    val recs = KafkaSink.prepareRecords(envelope, "alerts", schemaId = 7).collect()
    assert(recs.length == 1)
    val r = recs.head
    assert(r.topic == "alerts")
    assert(new String(r.key, "UTF-8") == "hash-1")
    assert(r.headers("classification") == "") // null-safe where reference panics
    assert(r.headers("priorityStr") == "Medium")
    assert(r.timestampMs == 1738296906927L)   // true event-time stamp
    // value: 5-byte Confluent frame then Avro binary
    assert(r.value(0) == 0 && r.value(4) == 7)
    val alertType = envelope.drop("kafka_key", "event_time", "headers").schema
    val schema = AvroCodec.avroSchema(alertType, "SnortAlert")
    val reader = new GenericDatumReader[GenericRecord](schema)
    val decoder = DecoderFactory.get().binaryDecoder(r.value.drop(5), null)
    val rec = reader.read(null, decoder)
    val md = rec.get("metadata").asInstanceOf[GenericRecord]
    assert(md.get("hash_sha256").toString == "hash-1")
    assert(md.get("read_at").toString == "2025-01-31T04:15:06.927Z")
    assert(rec.get("priority_str").toString == "Medium")
    assert(rec.get("class") == null)
    assert(rec.get("vlan") == null)
  }

  /** Each row's native value equals the 5-byte header followed by the
    * GenericDatumWriter oracle's bytes, and reads back through
    * GenericDatumReader — with and without whole-stage codegen.
    */
  private def assertAvroMatchesOracle(df: org.apache.spark.sql.DataFrame, schemaId: Int): Int = {
    val st = df.schema
    val schema = AvroCodec.avroSchema(st, "R")
    val header = Array[Byte](0, 0, 0, 0, schemaId.toByte)
    val alert = struct(df.columns.toSeq.map(col): _*)
    val packed = df.select(alert.as("s"), AvroCodec.confluentValue(alert, schemaId).as("v"))
    for (codegen <- Seq("true", "false")) withConf("spark.sql.codegen.wholeStage" -> codegen,
        "spark.sql.codegen.factoryMode" -> (if (codegen == "true") "FALLBACK" else "NO_CODEGEN")) {
      packed.collect().foreach { row =>
        val want = RowAvroOracle.encode(RowAvroOracle.toRecord(row.getStruct(0), st, schema), schema)
        val got = row.getAs[Array[Byte]](1)
        assert(got.toSeq == (header ++ want).toSeq, s"codegen=$codegen row=${row.getStruct(0)}")
        val back = new GenericDatumReader[GenericRecord](schema)
          .read(null, DecoderFactory.get().binaryDecoder(got.drop(5), null))
        assert(RowAvroOracle.encode(back, schema).toSeq == want.toSeq)
      }
    }
    packed.count().toInt
  }

  test("native Avro value is byte-identical to the GenericDatumWriter oracle") {
    val rnd = new scala.util.Random(11L)
    val texts = Seq("", "a", "über", "日本語のアラート", "emoji 😀", "x" * 200)
    def text(): String = texts(rnd.nextInt(texts.size))
    def opt[T](v: => T): Any = if (rnd.nextInt(3) == 0) null else v
    def long(): Long = Seq(0L, -1L, 63L, 64L, -65L, Long.MaxValue, Long.MinValue,
      rnd.nextLong())(rnd.nextInt(8))
    // SnortAlert rows through the real envelope: null and present union
    // branches, the nested metadata record, empty and non-ASCII strings
    val metricTypes = SensorSchemas.metricSchema.fields.map(_.dataType)
    val events = spark.createDataFrame((0 until 60).map { i =>
      val metrics = Seq.fill(1 + rnd.nextInt(3))(Row.fromSeq(text() +: metricTypes.tail.map {
        case org.apache.spark.sql.types.StringType => opt(text())
        case _ => opt(long())
      }.toIndexedSeq))
      Row(metrics, s"h-$i-${text()}", long(), long(), text(), text(), rnd.nextInt(1 << 30).toLong,
        rnd.nextInt(1 << 30).toLong, rnd.nextInt(1 << 30).toLong, opt(text()), opt(text()),
        opt(text()), text(), text(), rnd.nextInt(5).toLong, text(), long(), long(), long(),
        text(), rnd.nextInt(1 << 30).toLong, opt(text()), opt(long()))
    }.asJava, SensorSchemas.sensorEventSchema)
    val envelope = graft.pipeline.SnortPipeline.withEnvelope(
      graft.pipeline.SnortPipeline.alerts(events))
    val alerts = envelope.drop("kafka_key", "event_time", "headers")
    assert(assertAvroMatchesOracle(alerts, 9) > 60)
    // prepareRecords writes exactly those values
    val want = alerts.select(AvroCodec.confluentValue(struct(alerts.columns.toSeq.map(col): _*), 9))
      .as[Array[Byte]].collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    val got = KafkaSink.prepareRecords(envelope, "t", 9).collect()
      .map(_.value.toSeq).sortBy(_.mkString(",")).toSeq
    assert(got == want)
    // a type the schema derivation does not map, even nested, fails analysis
    val nestedArray = Seq((1L, Seq(1L))).toDF("l", "xs")
      .select(struct($"l", struct($"xs").as("n")).as("s"))
    val err = intercept[org.apache.spark.sql.AnalysisException](
      nestedArray.select(AvroCodec.confluentValue($"s", 1)))
    assert(err.getMessage.contains("unsupported Avro type"), err.getMessage)
    val int = Seq((1L, 2)).toDF("l", "i").select(struct($"l", $"i").as("s"))
    val intErr = intercept[org.apache.spark.sql.AnalysisException](
      int.select(AvroCodec.confluentValue($"s", 1)))
    assert(intErr.getMessage.contains("unsupported Avro type INT for field i"), intErr.getMessage)
  }

  test("one Avro layout per schema id: from_json and framed protobuf emit identical records") {
    import graft.pipeline.SnortPipeline
    val common = """"event_metrics_count":1,"event_seconds":1738296906,"sensor_id":"s",
      "sensor_version":"1","event_read_at":1738296906927463,"event_sent_at":1738296906900000,
      "event_received_at":1738296906000000,"snort_interface":"eth0","snort_priority":2,
      "snort_protocol":"TCP","snort_rule_gid":1,"snort_rule_rev":1,"snort_rule_sid":1,
      "snort_rule":"r""""
    // a full event, and one whose non-optional snort_seconds, snort_message
    // and metric snort_timestamp are null, with a null metrics element
    val full = s"""{"metrics":[{"snort_timestamp":"25/01/31-04:15:06.927463",
      "snort_dst_port":443},{"snort_timestamp":"25/01/31-04:15:07.1"}],
      "event_hash_sha256":"h-full","snort_classification":"recon","snort_message":"m",
      "snort_seconds":1738296906,$common}"""
    val nulls = s"""{"metrics":[null,{"snort_timestamp":null,"snort_src_address":"10.0.0.1"}],
      "event_hash_sha256":"h-nulls","snort_message":null,"snort_seconds":null,$common}"""
    val json = Seq(full, nulls).map(_.replaceAll("\n\\s*", "")).toDF("value")
      .select(from_json($"value", SensorSchemas.sensorEventSchema).as("e")).select("e.*")
    // the same events on the wire: null fields and elements left off
    val framed = json.collect().toSeq.map { r =>
      val wire = Row.fromSeq(r.toSeq.updated(0, r.getSeq[Row](0).filter(_ != null)))
      ConfluentFraming.header(7) ++ ProtobufWire.encodeSensorEvent(wire)
    }
    val proto = ProtobufWire.decodeFramed(framed.toDF("value"), "value")
    def records(events: org.apache.spark.sql.DataFrame): Seq[(String, Seq[Byte], Long, Map[String, String])] =
      KafkaSink.prepareRecords(SnortPipeline.withEnvelope(SnortPipeline.alerts(events)), "alerts", 7)
        .collect().toSeq
        .map(r => (new String(r.key, "UTF-8"), r.value.toSeq, r.timestampMs, r.headers))
        .sortBy(r => (r._1, r._2.mkString(",")))
    val fromJson = records(json)
    val fromProto = records(proto)
    assert(fromJson.map(_._1) == Seq("h-full", "h-full", "h-nulls"))
    assert(fromJson == fromProto)
    // an optional field that is non-null in the frame keeps its union
    val classified = proto.withColumn("snort_classification", coalesce($"snort_classification", lit("recon")))
    assert(records(classified).take(2) == fromProto.take(2))
    // only nullability is read: a column of another type is not cast
    val retyped = intercept[IllegalArgumentException](
      SnortPipeline.alerts(json.withColumn("snort_seconds", $"snort_seconds".cast("int"))))
    assert(retyped.getMessage.contains("'snort_seconds' is INT, declared BIGINT"), retyped.getMessage)
    // every value reads back, whole, through the one SnortAlert schema
    val declared = SnortPipeline.withEnvelope(SnortPipeline.alerts(
      spark.createDataFrame(java.util.List.of[Row](), SensorSchemas.sensorEventSchema)))
      .drop("kafka_key", "event_time", "headers").schema
    val schema = AvroCodec.avroSchema(declared, "SnortAlert")
    val back = fromJson.map { case (_, value, _, _) =>
      val body = value.drop(5).toArray
      val decoder = DecoderFactory.get().binaryDecoder(body, null)
      val rec = new GenericDatumReader[GenericRecord](schema).read(null, decoder)
      assert(decoder.isEnd && RowAvroOracle.encode(rec, schema).toSeq == body.toSeq)
      rec
    }
    // the null event reads as its proto3 defaults, stamped at epoch 0
    assert(fromJson(2)._3 == 0L)
    assert(back(2).get("seconds") == 0L && back(2).get("msg").toString == "")
    assert(back(2).get("timestamp").toString == "" && back(2).get("src_addr").toString == "10.0.0.1")
    assert(back(0).get("class").toString == "recon" && back(2).get("class") == null)
  }

  test("stream-stream join: matches within lag, drops outside, outer-pads after watermark") {
    val alerts = MemoryStream[(Timestamp, String, String)](spark)
    val acks = MemoryStream[(Timestamp, String, String)](spark)
    val joined = StreamOps.streamStreamJoin(
      alerts.toDF().toDF("ts", "sensor", "alert").withWatermark("ts", "1 minute"), "ts",
      acks.toDF().toDF("ts", "sensor", "ack").withWatermark("ts", "1 minute"), "ts",
      key = "sensor", maxLag = "5 minutes", joinType = "leftOuter")
    val q = joined.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("ssjoin").start()
    alerts.addData(
      (ts("2024-01-01 10:00:00"), "s1", "a1"), // acked 3 min later → match
      (ts("2024-01-01 10:00:00"), "s2", "a2")) // acked 20 min later → outside lag
    acks.addData(
      (ts("2024-01-01 10:03:00"), "s1", "k1"),
      (ts("2024-01-01 10:20:00"), "s2", "k2"))
    q.processAllAvailable()
    // push BOTH watermarks past 10:05 so s2's join window provably closes
    // and the left-outer null row can be emitted
    alerts.addData((ts("2024-01-01 11:00:00"), "s9", "a9"))
    acks.addData((ts("2024-01-01 11:00:00"), "s9", "k9"))
    q.processAllAvailable()
    alerts.addData((ts("2024-01-01 12:00:00"), "s9", "a9b"))
    acks.addData((ts("2024-01-01 12:00:00"), "s9", "k9b"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssjoin").select($"alert", $"r_ack")
      .as[(String, Option[String])].collect().toMap
    assert(rows("a1").contains("k1"))   // in-window ack joined
    assert(rows("a2").isEmpty)          // 20-min ack outside 5-min lag → null-padded
  }

  test("stream-stream FULL outer join pads the unmatched side after both watermarks") {
    val alerts = MemoryStream[(Timestamp, String, String)](spark)
    val acks = MemoryStream[(Timestamp, String, String)](spark)
    val joined = StreamOps.streamStreamJoin(
      alerts.toDF().toDF("ts", "sensor", "alert").withWatermark("ts", "1 minute"), "ts",
      acks.toDF().toDF("ts", "sensor", "ack").withWatermark("ts", "1 minute"), "ts",
      key = "sensor", maxLag = "5 minutes", joinType = "fullOuter")
    val q = joined.writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("ssjoin_full").start()
    alerts.addData((ts("2024-01-01 10:00:00"), "s1", "a1")) // never acked
    acks.addData((ts("2024-01-01 10:01:00"), "s2", "k2"))   // ack w/o alert
    q.processAllAvailable()
    // advance both watermarks decisively past every join window
    for (h <- Seq("11:00:00", "12:00:00")) {
      alerts.addData((ts(s"2024-01-01 $h"), "s9", "a9"))
      acks.addData((ts(s"2024-01-01 $h"), "s9", "k9"))
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.table("ssjoin_full").select($"alert", $"r_ack")
      .as[(Option[String], Option[String])].collect().toSet
    // the unmatched alert AND the unmatched ack both surface null-padded
    assert(rows.contains((Some("a1"), None)), s"unmatched left row missing: $rows")
    assert(rows.contains((None, Some("k2"))), s"unmatched right row missing: $rows")
  }

  /** SensorEvents carried as JSON `value` strings, to keep MemoryStream
    * simple: `from_json` reads them nullable throughout (undeclared).
    */
  private def fromJson(values: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    values.select(from_json($"value", SensorSchemas.sensorEventSchema).as("e")).select("e.*")

  /** One single-metric SensorEvent with hash "hs". */
  private val sinkFixture = """{"metrics":[{"snort_timestamp":"25/01/31-04:15:06.927463"}],
    "event_hash_sha256":"hs","event_metrics_count":1,"event_seconds":1738296906,
    "sensor_id":"s","sensor_version":"1","event_read_at":1738296906927463,
    "event_sent_at":1738296906900000,"event_received_at":1738296906000000,
    "snort_interface":"eth0","snort_message":"m","snort_priority":1,
    "snort_protocol":"TCP","snort_rule_gid":1,"snort_rule_rev":1,
    "snort_rule_sid":1,"snort_rule":"r","snort_seconds":1738296906}""".replaceAll("\n\\s*", "")

  test("sinkAlerts streams fixture events through foreachBatch to a writer") {
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[KafkaSink.PreparedRecord]()
    CollectingWriter.queue = collected
    val in = MemoryStream[String](spark)
    val q = KafkaSink.sinkAlerts(fromJson(in.toDF()), "t", 1, () => new CollectingWriter).start()
    in.addData(sinkFixture)
    q.processAllAvailable()
    q.stop()
    assert(collected.size() == 1)
    assert(new String(collected.peek().key, "UTF-8") == "hs")
  }

  test("sinkAlerts sends exactly the records of emit(prepareRecords(...)) over the same events") {
    import graft.pipeline.SnortPipeline
    def event(hash: String, metrics: Option[String], rest: String): String =
      s"""{${metrics.fold("")(m => "\"metrics\":[" + m + "],")}"event_hash_sha256":"$hash",
        "event_metrics_count":1,"event_seconds":1738296906,"sensor_id":"s-$hash",
        "sensor_version":"1","event_read_at":1738296906927463,"event_sent_at":1738296906900000,
        "event_received_at":1738296906000000,"snort_interface":"eth0","snort_priority":2,
        "snort_protocol":"TCP","snort_rule_gid":1,"snort_rule_rev":1,"snort_rule_sid":1,
        "snort_rule":"r"$rest}""".replaceAll("\n\\s*", "")
    def metric(ts: String, n: Int) =
      s"""{"snort_timestamp":"$ts","snort_dst_port":$n,"snort_src_address":"10.0.0.$n"}"""
    val seen = ""","snort_message":"m","snort_seconds":1738296906"""
    val fixtures = Seq(
      // multi-metric events, classified and not
      event("multi", Some(Seq(metric("25/01/31-04:15:06.927463", 1), metric("25/01/31-04:15:07.1", 2),
        metric("25/01/31-04:15:08", 3)).mkString(",")), s""","snort_classification":"recon"$seen"""),
      event("unclassified", Some(Seq(metric("25/01/31-04:15:09.5", 4), metric("25/01/31-04:15:10", 5))
        .mkString(",")), seen),
      // absent and empty metrics yield no records
      event("absent", None, seen),
      event("empty", Some(""), seen),
      // an unparseable Snort timestamp falls back to snort_seconds
      event("badts", Some(metric("not a time", 6)), s""","snort_classification":"c"$seen"""),
      // null required fields and a null metrics element (only JSON carries them)
      event("nulls", Some(s"""null,${metric("25/01/31-04:15:11", 7)}"""),
        ""","snort_message":null,"snort_seconds":null"""))
    val json = fromJson(fixtures.toDF("value"))
    assert(json.schema != SensorSchemas.sensorEventSchema) // from_json is nullable throughout
    // the same events on the wire (nulls left off), among poison frames
    val frames = json.collect().toSeq.map { r =>
      val wire = Row.fromSeq(r.toSeq.updated(0, Option(r.getSeq[Row](0)).map(_.filter(_ != null)).orNull))
      ConfluentFraming.header(7) ++ ProtobufWire.encodeSensorEvent(wire)
    }
    val poison = Seq(Array[Byte](1, 0, 0, 0, 7, 0), Array[Byte](0, 0),
      ConfluentFraming.header(7) ++ Array[Byte](0x12, 0x7f))
    val wire = frames.take(3) ++ poison.take(2) ++ frames.drop(3) ++ poison.drop(2)

    type Sent = Map[(String, Seq[Byte], Seq[Byte], Long, Map[String, String]), Int]
    def sent(run: => Unit): Sent = {
      val q = new java.util.concurrent.ConcurrentLinkedQueue[KafkaSink.PreparedRecord]()
      CollectingWriter.queue = q
      run
      q.asScala.toSeq.map(r => (r.topic, r.key.toSeq, r.value.toSeq, r.timestampMs, r.headers))
        .groupMapReduce(identity)(_ => 1)(_ + _)
    }
    def viaBatch(events: org.apache.spark.sql.DataFrame): Sent = sent(KafkaSink.emit(
      KafkaSink.prepareRecords(SnortPipeline.withEnvelope(SnortPipeline.alerts(events)), "alerts", 7),
      () => new CollectingWriter))
    def viaStream[A: org.apache.spark.sql.Encoder](batches: Seq[Seq[A]])(
        events: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Sent = sent {
      val in = MemoryStream[A](spark, 2)
      val q = KafkaSink.sinkAlerts(events(in.toDF()), "alerts", 7, () => new CollectingWriter).start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    val batchJson = viaBatch(json)
    assert(batchJson.values.sum == 7)
    assert(batchJson.keys.map(r => new String(r._2.toArray, "UTF-8")) ==
      Set("multi", "unclassified", "badts", "nulls"))
    val badts = batchJson.keys.find(_._2 == "badts".getBytes("UTF-8").toSeq).get
    assert(badts._4 == 1738296906000L && badts._5("classification") == "c")
    assert(batchJson.keys.filter(_._2 == "unclassified".getBytes("UTF-8").toSeq)
      .forall(_._5("classification") == ""))
    assert(viaStream(Seq(fixtures.take(3), fixtures.drop(3)))(fromJson) == batchJson)

    val malformed = Seq.fill(2)(ProtobufWire.malformedCounter(spark))
    val batchProto = viaBatch(ProtobufWire.decodeFramed(wire.toDF("value"), "value", Some(malformed(0))))
    assert(batchProto.values.sum == 7)
    val streamProto = viaStream(Seq(wire.take(4), wire.drop(4)))(
      ProtobufWire.decodeFramed(_, "value", Some(malformed(1))))
    assert(streamProto == batchProto)
    assert(malformed.map(_.value) == Seq(3L, 3L))
  }

  test("sinkAlerts runs one SQL execution per micro-batch") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.graftbridge.TestListenerBusBridge
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[KafkaSink.PreparedRecord]()
    CollectingWriter.queue = collected
    val starts = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => starts.incrementAndGet(); ()
        case _ =>
      }
    }
    val in = MemoryStream[String](spark)
    val q = KafkaSink.sinkAlerts(fromJson(in.toDF()), "t", 1, () => new CollectingWriter).start()
    val k = 3
    try {
      in.addData(sinkFixture)
      q.processAllAvailable()
      TestListenerBusBridge.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      (1 to k).foreach { _ => in.addData(sinkFixture); q.processAllAvailable() }
      TestListenerBusBridge.drain(spark.sparkContext)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(collected.size() == k + 1)
    assert(starts.get() == k, s"${starts.get()} SQL executions over $k micro-batches")
  }

  test("sinkAlerts ships each stage's generated source and references, no expression tree") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeAndComment
    val in = MemoryStream[String](spark)
    val send = KafkaSink.AlertRecords.plan(
      graft.pipeline.SnortPipeline.declared(fromJson(in.toDF())), "t", 1, () => new CollectingWriter)
    // every object the job function serialises into a task, as Spark's closure serializer writes it
    val shipped = scala.collection.mutable.ArrayBuffer[Class[_]]()
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream) {
      enableReplaceObject(true)
      override def replaceObject(o: AnyRef): AnyRef = { shipped += o.getClass; o }
    }
    out.writeObject(send)
    out.close()
    val trees = shipped.filter(classOf[Expression].isAssignableFrom).distinct
    assert(trees.isEmpty, s"the job function ships expression trees: ${trees.map(_.getSimpleName)}")
    assert(shipped.contains(classOf[CodeAndComment]), "the job function ships no generated source")
  }

  /** `n` multi-metric SensorEvents as JSON, from index `from`: event `i`
    * has hash "e<i>", sensor "s<i % 7>", priority 1 + i % 4, a
    * classification on even `i`, and 1 + i % 5 metrics whose Snort
    * timestamps are all distinct, at the epoch millis [[manyStamps]].
    */
  private def manyEvents(from: Int, n: Int): Seq[String] = (from until from + n).map { i =>
    val metrics = manyStamps(i).zipWithIndex.map { case (ms, j) =>
      val off = ms - manyBase
      f"""{"snort_timestamp":"25/01/31-04:15:${off / 1000}%02d.${off % 1000 * 1000}%06d",""" +
        s""""snort_dst_port":$j,"snort_src_address":"10.0.${i % 256}.$j"}"""
    }
    val cls = if (i % 2 == 0) s""","snort_classification":"c$i"""" else ""
    s"""{"metrics":[${metrics.mkString(",")}],"event_hash_sha256":"e$i",""" +
      s""""event_metrics_count":${metrics.size},"event_seconds":1738296906,"sensor_id":"s${i % 7}",""" +
      """"sensor_version":"1","event_read_at":1738296906927463,"event_sent_at":1738296906900000,""" +
      """"event_received_at":1738296906000000,"snort_interface":"eth0","snort_message":"m",""" +
      s""""snort_priority":${1 + i % 4},"snort_protocol":"TCP","snort_rule_gid":1,"snort_rule_rev":1,""" +
      s""""snort_rule_sid":1,"snort_rule":"r","snort_seconds":1738296906$cls}"""
  }
  /** 2025-01-31 04:15:00 UTC, in epoch millis. */
  private val manyBase = 1738296900000L
  private def manyStamps(i: Int): Seq[Long] = (0 to i % 5).map(j => manyBase + (i * 5 + j) * 10L)

  /** The records `run` sends to [[CollectingWriter]], as comparable values. */
  private def sentRecords(run: => Unit): Seq[(String, Seq[Byte], Seq[Byte], Long, Map[String, String])] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[KafkaSink.PreparedRecord]()
    CollectingWriter.queue = q
    run
    q.asScala.toSeq.map(r => (r.topic, r.key.toSeq, r.value.toSeq, r.timestampMs, r.headers))
  }

  /** Records of `emit(prepareRecords(...))` over the JSON `events`. */
  private def batchRecords(events: Seq[String]) = sentRecords(KafkaSink.emit(KafkaSink.prepareRecords(
    graft.pipeline.SnortPipeline.withEnvelope(graft.pipeline.SnortPipeline.alerts(fromJson(events.toDF("value")))),
    "alerts", 7), () => new CollectingWriter))

  /** Records `sinkAlerts` sends over `batches` of JSON events on a
    * 4-partition stream, the query made by `sink` from the stream's events.
    */
  private def streamRecords(batches: Seq[Seq[String]])(
      sink: org.apache.spark.sql.DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[Row]) =
    sentRecords {
      val in = MemoryStream[String](spark, 4)
      val q = sink(fromJson(in.toDF())).start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }

  test("sinkAlerts over 4 concurrent partitions: every record carries its own event's key, headers and time") {
    val batches = Seq(manyEvents(0, 300), manyEvents(300, 300))
    val sent = streamRecords(batches)(KafkaSink.sinkAlerts(_, "alerts", 7, () => new CollectingWriter))
    val byEvent = sent.groupBy { case (_, key, _, _, _) => new String(key.toArray, "UTF-8").stripPrefix("e").toInt }
    assert(byEvent.keySet == (0 until 600).toSet)
    byEvent.foreach { case (i, records) =>
      records.foreach { case (_, _, _, _, headers) =>
        assert(headers("hash_sha256") == s"e$i" && headers("sensor_id") == s"s${i % 7}" &&
          headers("classification") == (if (i % 2 == 0) s"c$i" else ""), s"event e$i sent headers $headers")
      }
      assert(records.map(_._4).sorted == manyStamps(i), s"event e$i record timestamps")
    }
    assert(sent.groupMapReduce(identity)(_ => 1)(_ + _) ==
      batchRecords(batches.flatten).groupMapReduce(identity)(_ => 1)(_ + _))
  }

  test("the session time zone shapes no record: under America/New_York both paths send what UTC sends") {
    val events = manyEvents(0, 60)
    val ny = "spark.sql.session.timeZone" -> "America/New_York"
    val utc = batchRecords(events)
    val sentAt = "2025-01-31T04:15:06.9Z".getBytes("UTF-8").toSeq // event_sent_at 1738296906900000
    assert(utc.forall(_._3.containsSlice(sentAt)))
    assert(utc.map(_._4).sorted == (0 until 60).flatMap(manyStamps).sorted)
    val multiset = utc.groupMapReduce(identity)(_ => 1)(_ + _)
    assert(withConf(ny)(batchRecords(events)).groupMapReduce(identity)(_ => 1)(_ + _) == multiset)
    val stream = streamRecords(Seq(events.take(30), events.drop(30))) { e =>
      withConf(ny)(KafkaSink.sinkAlerts(e, "alerts", 7, () => new CollectingWriter))
    }
    assert(stream.groupMapReduce(identity)(_ => 1)(_ + _) == multiset)
  }

  test("the SnortAlert record plan formats and parses timestamps with the kernels alone") {
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, GetTimestamp, ParseToTimestamp, RegExpReplace}
    import graft.functions.{IsoMicrosTrimExpression, SnortTimestampExpression}
    val in = MemoryStream[String](spark)
    val (_, plan) = KafkaSink.AlertRecords.recordPlan(graft.pipeline.SnortPipeline.declared(fromJson(in.toDF())), 7)
    val exprs = plan.collect { case node => node.expressions }.flatten.flatMap(_.collect { case e => e })
    val composed = exprs.collect {
      case e @ (_: DateFormatClass | _: RegExpReplace | _: GetTimestamp | _: ParseToTimestamp) => e.nodeName
    }
    assert(composed.isEmpty, s"the record plan still runs ${composed.distinct}:\n${plan.treeString}")
    assert(exprs.count(_.isInstanceOf[IsoMicrosTrimExpression]) == 3)
    assert(exprs.exists(_.isInstanceOf[SnortTimestampExpression]))
  }

  test("sinkAlerts fixes subexpression elimination when called: off then, it sends the batch path's records") {
    val key = "spark.sql.subexpressionElimination.enabled"
    assert(spark.conf.get(key) == "true")
    val batches = Seq(manyEvents(0, 100), manyEvents(100, 100))
    val sent = streamRecords(batches) { events =>
      withConf(key -> "false")(KafkaSink.sinkAlerts(events, "alerts", 7, () => new CollectingWriter))
    }
    assert(sent.size == batches.flatten.indices.map(_ % 5 + 1).sum)
    assert(sent.groupMapReduce(identity)(_ => 1)(_ + _) ==
      batchRecords(batches.flatten).groupMapReduce(identity)(_ => 1)(_ + _))
  }
}

/** Writer that collects into a static queue (executors share the JVM in
  * local mode, so the static is visible to the test).
  */
class CollectingWriter extends KafkaSink.RecordWriter {
  def send(r: KafkaSink.PreparedRecord): Unit = CollectingWriter.queue.add(r)
}
object CollectingWriter {
  @volatile var queue: java.util.concurrent.ConcurrentLinkedQueue[KafkaSink.PreparedRecord] = _
}
