package graft.streaming

import graft.SparkSpec
import graft.pipeline.{SensorSchemas, SnortPipeline}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

class ProtobufWireSpec extends SparkSpec {

  private def metric(ts: String): Row =
    Row.fromSeq((ts +: Array.fill[Any](37)(null)).toIndexedSeq)

  private def event(hash: String, metrics: Seq[Row]): Row =
    Row(metrics, hash, metrics.size.toLong, 1738296906L, "s1", "v1",
      1738296906927463L, 1738296906900000L, 1738296906000000L,
      "allow", null, "C2S", "eth0", "msg", 1L, "TCP", 1L, 2L, 3L,
      "1:1", 1738296906L, "http", null)

  private val valueSchema = StructType(Seq(StructField("value", BinaryType)))

  /** The product decoder over framed `values` through a DataFrame, in the
    * given codegen mode: the decoded rows in input order and the malformed
    * count.
    */
  private def productDecode(values: Seq[Array[Byte]], codegen: Boolean = true): (Seq[Row], Long) =
    withConf("spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "FALLBACK" else "NO_CODEGEN")) {
      val counter = ProtobufWire.malformedCounter(spark)
      val df = spark.createDataFrame(values.map(Row(_)).asJava, valueSchema)
      val out = ProtobufWire.decodeFramed(df, "value", Some(counter))
      (out.collect().toSeq, counter.value)
    }

  /** One framed value straight through the decode kernel, as a Row; None
    * when it counted the value malformed (exactly once).
    */
  private def kernelDecode(value: Array[Byte]): Option[Row] = {
    val counter = new LongAccumulator
    val rows = ProtobufWire.decodeRows(value, counter).toList
    assert(rows.size + counter.value == 1, s"${rows.size} rows, ${counter.value} malformed")
    rows.foreach(assertCanonicalUtf8(_, SensorSchemas.sensorEventSchema))
    rows.headOption.map(toRow)
  }

  /** Every string holds exactly the UTF-8 bytes of its String view — what
    * a byte-level consumer such as the Avro writer copies out — so
    * malformed input must already read as U+FFFD.
    */
  private def assertCanonicalUtf8(r: InternalRow, schema: StructType): Unit =
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!r.isNullAt(i)) f.dataType match {
        case StringType =>
          val s = r.getUTF8String(i)
          assert(s == UTF8String.fromString(s.toString), s"${f.name}: ${s.getBytes.toSeq}")
        case ArrayType(m: StructType, _) =>
          val a = r.getArray(i)
          (0 until a.numElements).foreach(j => assertCanonicalUtf8(a.getStruct(j, m.size), m))
        case _ =>
      }
    }

  private val toRow: InternalRow => Row = {
    val convert = CatalystTypeConverters.createToScalaConverter(SensorSchemas.sensorEventSchema)
    r => convert(r).asInstanceOf[Row]
  }

  /** Every framed value decodes in the kernel, and in both DataFrame
    * codegen modes, exactly as the Row oracle decodes it, or is counted
    * malformed where the oracle rejects it.
    */
  private def assertMatchesOracle(values: Seq[Array[Byte]]): Unit = {
    val want = values.map(RowProtobufOracle.decodeValue(_, framed = true))
    values.zip(want).zipWithIndex.foreach { case ((v, w), i) =>
      assert(kernelDecode(v) == w, s"value $i: ${Option(v).map(_.toSeq)}")
    }
    for (codegen <- Seq(true, false)) {
      val (rows, malformed) = productDecode(values, codegen)
      assert(rows == want.flatten, s"codegen=$codegen")
      assert(malformed == want.count(_.isEmpty), s"codegen=$codegen")
    }
  }

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private def varint(v0: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
    out.toByteArray
  }

  private def tag(field: Long, wireType: Int): Array[Byte] = varint((field << 3) | wireType)

  private def lenDelimited(field: Int, body: Array[Byte]): Array[Byte] =
    tag(field, 2) ++ varint(body.length) ++ body

  test("golden wire bytes for minimal messages (hand-computed from the spec)") {
    val m = metric("A")
    // Metric{snort_timestamp:"A"} → tag(1,len)=0x0A, len=1, 'A'
    val mBytes = ProtobufWire.encodeSensorEvent(event("", Seq(m)))
    // event: field1(len-delim)=0x0A, len=3, then nested [0x0A,0x01,0x41];
    // then field2 ""(len 0)=0x12,0x00; field3 varint 1=0x18,0x01 ...
    assert(mBytes.take(7).toSeq ==
      Seq(0x0a, 0x03, 0x0a, 0x01, 0x41, 0x12, 0x00).map(_.toByte))
  }

  test("roundtrip: encode → Confluent frame → decodeFramed equals input") {
    val original = event("hash-x", Seq(metric("25/01/31-04:15:06.927463"), metric("t2")))
    val (rows, malformed) = productDecode(Seq(withFrame(ProtobufWire.encodeSensorEvent(original))))
    assert(rows == Seq(original) && malformed == 0)
  }

  test("unknown fields are skipped, defaults fill absent scalars") {
    // append an unknown varint field (number 99): tag = 99<<3|0 = 792
    val base = ProtobufWire.encodeSensorEvent(event("h", Seq.empty))
    val decoded = kernelDecode(withFrame(base ++ bytes(0x98, 0x06, 0x2a))).get
    val schema = SensorSchemas.sensorEventSchema
    assert(decoded.getString(schema.fieldIndex("event_hash_sha256")) == "h")
    assert(decoded.isNullAt(schema.fieldIndex("snort_classification")))
    // the empty message: plain scalars default, optional ones null, metrics empty
    val empty = kernelDecode(withFrame(Array.emptyByteArray)).get
    assert(empty.getString(schema.fieldIndex("sensor_id")) == "")
    assert(empty.getLong(schema.fieldIndex("event_seconds")) == 0L)
    assert(empty.isNullAt(schema.fieldIndex("snort_service")))
    assert(empty.getSeq[Row](schema.fieldIndex("metrics")).isEmpty)
  }

  test("end-to-end: framed bytes → decodeFramed → explode → SnortAlert") {
    import org.apache.spark.sql.functions._
    val value = withFrame(ProtobufWire.encodeSensorEvent(
      event("hash-1", Seq(metric("25/01/31-04:15:06.927463"), metric("x")))))
    val df = spark.createDataFrame(Seq(Row(value)).asJava, valueSchema)
    assert(ConfluentFraming.parseHeader(value)._1 == 17)
    val alerts = SnortPipeline.alerts(ProtobufWire.decodeFramed(df, "value"))
    assert(alerts.collect().length == 2)
    val row = alerts.orderBy(col("timestamp")).head()
    assert(row.getStruct(row.fieldIndex("metadata")).getAs[String]("hash_sha256") == "hash-1")
    assert(row.getAs[String]("priority_str") == "High")
    // the decode generator runs inside the whole-stage-codegen span
    val gens = graft.SparkSpec.planNodes(alerts.queryExecution.executedPlan).collect {
      case w: WholeStageCodegenExec => w.child.collect { case g: GenerateExec => g.generator }
    }.flatten
    assert(gens.exists(_.isInstanceOf[SensorEventDecoder]), alerts.queryExecution.executedPlan)
  }

  test("decode works on a STREAMING DataFrame and drops malformed records") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val in = MemoryStream[Array[Byte]](spark)
    val decoded = ProtobufWire.decodeFramed(in.toDF().toDF("payload"), "payload")
    val q = decoded.writeStream.format("memory").queryName("proto_stream").start()
    in.addData(Seq(
      ProtobufWire.encodeSensorEvent(event("ok-1", Seq(metric("t")))),
      Array[Byte](0x0a, 0x7f),                   // truncated length-delimited
      Array[Byte](0x98.toByte, 0x06),            // truncated varint field
      ProtobufWire.encodeSensorEvent(event("ok-2", Seq.empty))).map(withFrame))
    q.processAllAvailable()
    q.stop()
    val hashes = spark.table("proto_stream")
      .select($"event_hash_sha256").as[String].collect().sorted.toSeq
    assert(hashes == Seq("ok-1", "ok-2")) // poison records dropped, stream alive
  }

  test("Confluent protobuf framing: header parse, [0] shorthand, explicit indexes") {
    val payload = Array[Byte](0x0a, 0x01, 0x41)
    // shorthand frame: magic, 4-byte id, single 0x00 for message-indexes [0]
    val shorthand = ConfluentFraming.header(17) ++ payload
    assert(shorthand.toSeq == Seq[Byte](0, 0, 0, 0, 17, 0) ++ payload.toSeq)
    assert(ConfluentFraming.parseHeader(shorthand) == ((17, Seq(0), 6)))
    assert(ConfluentFraming.payloadOffset(shorthand) == 6)
    // explicit indexes block: zigzag count + zigzag indexes
    val nested = ConfluentFraming.header(300, Seq(1, 2)) ++ payload
    assert(nested.toSeq ==
      Seq[Byte](0, 0, 0, 1, 44, 4, 2, 4) ++ payload.toSeq) // zigzag: 2→4, 1→2, 2→4
    assert(ConfluentFraming.parseHeader(nested) == ((300, Seq(1, 2), 8)))
    assert(ConfluentFraming.payloadOffset(nested) == 8)
    // the payload after either header form decodes to the same metric
    for (framed <- Seq(shorthand, nested)) {
      val off = ConfluentFraming.payloadOffset(framed)
      assert(RowProtobufOracle.decodeMetric(framed.drop(off)).getString(0) == "A")
    }
    // garbage rejected, not misparsed — by both entry points
    for (bad <- Seq(bytes(1, 0, 0, 0, 17, 0), bytes(0, 0, 0), bytes(0, 0, 0, 0, 17, 0x81, 0x02),
        bytes(0, 0, 0, 0, 17, 2, 1), bytes(0, 0, 0, 0, 17, 1))) {
      intercept[ConfluentFraming.BadFrame](ConfluentFraming.parseHeader(bad))
      intercept[ConfluentFraming.BadFrame](ConfluentFraming.payloadOffset(bad))
    }
  }

  test("decodeFramed: Confluent-framed fixture decodes; bad frames counted not fatal") {
    import spark.implicits._
    val good = withFrame(ProtobufWire.encodeSensorEvent(event("ok-f", Seq(metric("t")))))
    // header claims message-indexes count 3 but the block is truncated
    val badFrame = Array[Byte](0, 0, 0, 0, 17, 6)
    val noMagic = Array[Byte](9, 9, 9)
    val counter = ProtobufWire.malformedCounter(spark)
    val df = Seq(good, badFrame, noMagic).toDF("value")
    val out = ProtobufWire.decodeFramed(df, "value", Some(counter))
    assert(out.select($"event_hash_sha256").as[String].collect().toSeq == Seq("ok-f"))
    assert(counter.value == 2L)
  }

  test("wire-type mismatch on a known field is skipped, not misread") {
    // event_seconds (field 4) is a varint long; encode it length-delimited
    // (wire type 2) instead — a conformant parser treats it as unknown.
    val out = new ByteArrayOutputStream()
    out.write((4 << 3) | 2); out.write(0x02); out.write(0x41); out.write(0x42)
    // then a correct string field 5 (sensor_id)
    out.write((5 << 3) | 2); out.write(0x02); out.write('s'); out.write('1')
    val decoded = kernelDecode(withFrame(out.toByteArray)).get
    val schema = SensorSchemas.sensorEventSchema
    assert(decoded.getLong(schema.fieldIndex("event_seconds")) == 0L) // default, not 0x41
    assert(decoded.getString(schema.fieldIndex("sensor_id")) == "s1") // parse continued
    // string field with varint wire type likewise skipped
    val decoded2 = kernelDecode(withFrame(bytes((5 << 3) | 0, 0x07))).get
    assert(decoded2.getString(schema.fieldIndex("sensor_id")) == "")
  }

  // ---- differential and hostile-input checks against the Row oracle -----

  private val texts = Seq("", "a", "sensor-7", "über", "日本語のアラート", "emoji 😀 ok",
    "x" * 300, "ñ" * 70)

  private def randomEvent(rnd: scala.util.Random, i: Int): Row = {
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def long(): Long = pick(Seq(0L, 1L, -1L, 127L, 128L, Long.MaxValue, Long.MinValue,
      rnd.nextLong(), rnd.nextInt(100000).toLong))
    def opt[T](v: => T): Any = if (rnd.nextBoolean()) v else null
    val metricTypes = SensorSchemas.metricSchema.fields.map(_.dataType)
    val nMetrics = pick(Seq(0, 1, 2, 12, rnd.nextInt(13)))
    val metrics = Seq.fill(nMetrics)(Row.fromSeq(pick(texts) +: metricTypes.tail.map {
      case org.apache.spark.sql.types.StringType => opt(pick(texts))
      case _ => opt(long())
    }.toIndexedSeq))
    Row(metrics, s"h-$i-${pick(texts)}", long(), long(), pick(texts), pick(texts),
      long(), long(), long(), opt(pick(texts)), opt(pick(texts)), opt(pick(texts)),
      pick(texts), pick(texts), long(), pick(texts), long(), long(), long(),
      pick(texts), long(), opt(pick(texts)), opt(long()))
  }

  /** Extra fields appended after a valid body: repeats of known scalars
    * (last one wins), unknown fields of wire types 0/1/2/5, and known
    * fields with the wrong wire type (skipped as unknown).
    */
  private def mutations(rnd: scala.util.Random): Array[Byte] = {
    val parts = Seq[() => Array[Byte]](
      () => lenDelimited(5, "sensor-repeat".getBytes(UTF_8)),
      () => tag(4, 0) ++ varint(rnd.nextLong()),
      () => lenDelimited(11, "classified ✓".getBytes(UTF_8)),
      () => tag(99, 0) ++ varint(rnd.nextLong()),
      () => tag(100, 1) ++ Array.fill(8)(rnd.nextInt(256).toByte),
      () => lenDelimited(101, Array.fill(rnd.nextInt(20))(rnd.nextInt(256).toByte)),
      () => tag(102, 5) ++ Array.fill(4)(rnd.nextInt(256).toByte),
      () => lenDelimited(4, bytes(0x41, 0x42)),            // long field, wire type 2
      () => tag(5, 0) ++ varint(7),                        // string field, wire type 0
      () => tag(1, 0) ++ varint(3),                        // metrics field, wire type 0
      () => tag(2, 5) ++ bytes(1, 2, 3, 4),                // string field, wire type 5
      () => tag(3, 1) ++ bytes(1, 2, 3, 4, 5, 6, 7, 8))    // long field, wire type 1
    Array.fill(rnd.nextInt(4))(parts(rnd.nextInt(parts.size))()).flatten
  }

  test("differential: a seeded corpus decodes exactly as the Row oracle decodes it") {
    val rnd = new scala.util.Random(20261018L)
    val values = (0 until 240).map { i =>
      val body = ProtobufWire.encodeSensorEvent(randomEvent(rnd, i)) ++ mutations(rnd)
      if (rnd.nextBoolean()) ConfluentFraming.header(17) ++ body
      else ConfluentFraming.header(17, Seq(rnd.nextInt(3), rnd.nextInt(5))) ++ body
    }
    assert(values.forall(v => RowProtobufOracle.decodeValue(v, framed = true).isDefined))
    assertMatchesOracle(values)
    // the same payloads behind the [0] shorthand header
    assertMatchesOracle(values.map(v => withFrame(v.drop(ConfluentFraming.payloadOffset(v)))))
  }

  test("hostile input: each value decodes as the oracle does or counts once as malformed") {
    val ok = ProtobufWire.encodeSensorEvent(event("ok", Seq(metric("t"))))
    val ff = Seq.fill(9)(0xff)
    val hostile: Seq[Array[Byte]] = Seq(
      null,                                               // tombstone
      bytes(0x98),                                        // truncated tag varint
      ok ++ bytes(0x20, 0x80),                            // truncated long varint
      ok ++ tag(4, 0) ++ bytes(ff :+ 0x81 :+ 0x01: _*),    // 11-byte varint
      ok ++ tag(4, 0) ++ bytes(ff :+ 0x01: _*),            // 10-byte varint (-1): valid
      ok ++ tag(5, 2) ++ varint(1L << 31) ++ bytes(0x41), // length 2^31
      ok ++ tag(5, 2) ++ varint(-1L) ++ bytes(0x41),      // negative length
      ok ++ tag(5, 2) ++ varint(5) ++ bytes(0x41),        // length past the end
      ok ++ tag(7, 3) ++ tag(7, 4),                       // group start/end
      ok ++ tag(99, 4),                                   // group end, unknown field
      ok ++ tag(8, 6),                                    // reserved wire types
      ok ++ tag(8, 7),
      ok ++ tag(100, 1) ++ bytes(1, 2, 3),                // truncated fixed64
      ok ++ tag(102, 5) ++ bytes(1, 2),                   // truncated fixed32
      ok ++ lenDelimited(1, bytes(0x08, 0x80)),           // bad nested metric
      ok ++ lenDelimited(1, tag(2, 2) ++ varint(9)),      // nested length past its end
      ok ++ lenDelimited(1, tag(7, 3)),                   // nested group
      ok ++ tag(0, 0) ++ varint(1),                       // field number 0
      ok ++ tag((1L << 32) + 5, 2) ++ varint(1) ++ bytes(0x5a), // field number past Int
      ok ++ tag((1L << 31) + 7, 0) ++ varint(1),          // field number negative as an Int
      ok ++ lenDelimited(5, bytes(0xff, 0xfe)),           // invalid UTF-8 bytes
      ok ++ lenDelimited(5, bytes(0xc0, 0xaf)),           // overlong '/'
      ok ++ lenDelimited(5, bytes(0xed, 0xa0, 0x80)),     // UTF-16 surrogate
      ok ++ lenDelimited(5, bytes(0x61, 0xe2, 0x82)),     // truncated 3-byte sequence
      ok ++ lenDelimited(5, bytes(0xf4, 0x90, 0x80, 0x80)), // above U+10FFFF
      ok ++ lenDelimited(5, bytes(0xe0, 0x80, 0xaf)),     // overlong 3-byte
      ok ++ lenDelimited(5, bytes(0xf0, 0x8f, 0xbf, 0xbf)), // overlong 4-byte
      ok ++ lenDelimited(1, lenDelimited(2, bytes(0x62, 0x80, 0x63))), // invalid UTF-8 in a metric
      ok ++ lenDelimited(5, "ok ✓ 😀".getBytes(UTF_8)))    // valid multi-byte
    val frames = hostile.filter(_ != null).map(withFrame) ++ Seq(
      bytes(1, 0, 0, 0, 17, 0) ++ ok,                     // bad magic
      bytes(0, 0, 0, 0, 17),                              // shorter than 6 bytes
      bytes(0, 0, 0, 0, 17) ++ varint(258) ++ ok,         // 129 indexes
      bytes(0, 0, 0, 0, 17, 0x01) ++ ok,                  // negative index count
      bytes(0, 0, 0, 0, 17, 2, 1) ++ ok,                  // negative index
      bytes(0, 0, 0, 0, 17, 6, 2),                        // truncated index block
      bytes(0, 0, 0, 0, 17) ++ varint(256) ++ Array.fill(128)(0.toByte) ++ ok) // 128 indexes: valid
    assertMatchesOracle(null +: frames)
  }

  test("lengths near Long.MaxValue count once as malformed") {
    // each overflows a `pos + n` bounds check; as an Int the length comes
    // back negative, which would throw out of the task or rewind the cursor
    val ok = ProtobufWire.encodeSensorEvent(event("ok", Seq(metric("t"))))
    val overflowing: Seq[Array[Byte]] = Seq(
      ok ++ tag(5, 2) ++ varint(Long.MaxValue) ++ bytes(0x41),      // string
      ok ++ tag(5, 2) ++ varint(Long.MaxValue - 3),                 // string
      ok ++ tag(1, 2) ++ varint(Long.MaxValue - 1),                 // metrics
      tag(1, 2) ++ varint(Long.MaxValue - 9),                       // metrics, back to the tag
      ok ++ lenDelimited(1, tag(2, 2) ++ varint(Long.MaxValue)),    // string inside a metric
      ok ++ tag(99, 2) ++ varint(Long.MaxValue - 2) ++ bytes(1, 2), // unknown wire-type-2 field
      tag(99, 2) ++ varint(Long.MaxValue - 10))                     // unknown, back to the start
    assert(overflowing.forall(RowProtobufOracle.decodeValue(_, framed = false).isEmpty))
    assertMatchesOracle(overflowing.map(withFrame))
  }

  private def withFrame(payload: Array[Byte]): Array[Byte] =
    ConfluentFraming.header(17) ++ payload
}
