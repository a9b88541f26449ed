package graft.streaming

import graft.pipeline.SensorSchemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** Hand-rolled protobuf wire-format codec for `SensorEvent`/`Metric`
  * (public protobuf encoding spec; message shape from
  * protos/sensor_event.proto:8-73). The image ships no spark-protobuf
  * module, so registry-framed protobuf ingest (reference
  * internal/schema/schema.go:23-34) needs its own decoder: read the
  * Confluent header in place ([[ConfluentFraming.payloadOffset]]), then
  * parse the wire format straight into Catalyst rows.
  *
  * proto3 rules honored: varint int64, length-delimited strings/messages,
  * unknown fields skipped, a known field with the wrong wire type skipped
  * as unknown, last value wins for a repeated scalar, missing scalar =
  * default (0 / ""), `optional` fields null when absent. Field numbers are
  * mapped to schema ordinals by NAME, so schema column order is irrelevant.
  */
object ProtobufWire {

  // field number → column name tables from the proto
  private[streaming] val metricFields: Map[Int, String] = Map(
    1 -> "snort_timestamp", 2 -> "snort_base64_data", 3 -> "snort_client_bytes",
    4 -> "snort_client_pkts", 5 -> "snort_dst_address", 6 -> "snort_dst_port",
    7 -> "snort_dst_ap", 8 -> "snort_eth_dst", 9 -> "snort_eth_len",
    10 -> "snort_eth_src", 11 -> "snort_eth_type", 12 -> "snort_flowstart_time",
    13 -> "snort_geneve_vni", 14 -> "snort_icmp_code", 15 -> "snort_icmp_id",
    16 -> "snort_icmp_seq", 17 -> "snort_icmp_type", 18 -> "snort_ip_id",
    19 -> "snort_ip_length", 20 -> "snort_mpls", 21 -> "snort_pkt_gen",
    22 -> "snort_pkt_length", 23 -> "snort_pkt_number", 24 -> "snort_server_bytes",
    25 -> "snort_server_pkts", 26 -> "snort_sgt", 27 -> "snort_src_address",
    28 -> "snort_src_port", 29 -> "snort_src_ap", 30 -> "snort_target",
    31 -> "snort_tcp_ack", 32 -> "snort_tcp_flags", 33 -> "snort_tcp_len",
    34 -> "snort_tcp_seq", 35 -> "snort_tcp_win", 36 -> "snort_time_to_live",
    37 -> "snort_udp_length", 38 -> "snort_vlan")

  private[streaming] val eventFields: Map[Int, String] = Map(
    1 -> "metrics", 2 -> "event_hash_sha256", 3 -> "event_metrics_count",
    4 -> "event_seconds", 5 -> "sensor_id", 6 -> "sensor_version",
    7 -> "event_read_at", 8 -> "event_sent_at", 9 -> "event_received_at",
    10 -> "snort_action", 11 -> "snort_classification", 12 -> "snort_direction",
    13 -> "snort_interface", 14 -> "snort_message", 15 -> "snort_priority",
    16 -> "snort_protocol", 17 -> "snort_rule_gid", 18 -> "snort_rule_rev",
    19 -> "snort_rule_sid", 20 -> "snort_rule", 21 -> "snort_seconds",
    22 -> "snort_service", 23 -> "snort_type_of_service")

  /** Thrown for truncated/corrupt payloads — the decode kernel routes the
    * record to the malformed path instead of failing the task (a poison
    * Kafka message must not kill the stream; the reference counts failed
    * events, internal/app/app.go:85-97). Stackless: one is thrown per
    * poison record.
    */
  final class MalformedRecord(msg: String) extends RuntimeException(msg, null, false, false)

  // ---- decode -------------------------------------------------------------

  private final val Unknown = 0
  private final val Str = 1
  private final val Lng = 2
  private final val Msg = 3

  /** Field-number-indexed decode table of one message type: for each field
    * number, what it holds and its schema ordinal; per ordinal, the proto3
    * default ("" / 0 for plain scalars, null for `optional` ones).
    */
  private final class Layout(schema: StructType, fields: Map[Int, String], val nested: Layout) {
    val kind = new Array[Int](fields.keys.max + 1)
    val ordinal = new Array[Int](fields.keys.max + 1)
    var messageOrdinal = -1
    fields.foreach { case (num, name) =>
      ordinal(num) = schema.fieldIndex(name)
      kind(num) = schema(name).dataType match {
        case StringType => Str
        case LongType => Lng
        case ArrayType(_: StructType, _) => messageOrdinal = ordinal(num); Msg
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
    }
    val defaults: Array[Any] = schema.fields.map(SensorSchemas.proto3Default(_).value)
  }

  private val metricLayout = new Layout(SensorSchemas.metricSchema, metricFields, null)
  private val eventLayout = new Layout(SensorSchemas.sensorEventSchema, eventFields, metricLayout)
  private val noMetrics = new GenericArrayData(Array.empty[Any])

  /** Cursor over `buf[pos, limit)`: a nested message is a sub-range of the
    * same buffer, never a copy.
    */
  private final class Reader(buf: Array[Byte], var pos: Int, limit: Int) {
    def hasMore: Boolean = pos < limit
    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      while (shift <= 63) {
        if (pos >= limit) throw new MalformedRecord("truncated varint")
        val b = buf(pos); pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new MalformedRecord("varint exceeds 64 bits")
    }
    def readLen(): Int = {
      val n = readVarint()
      // `limit - pos`, not `pos + n`: a length near Long.MaxValue would
      // overflow the sum past the check and come back negative as an Int.
      if (n < 0 || n > limit - pos) throw new MalformedRecord(s"bad length $n")
      n.toInt
    }
    def readString(): UTF8String = {
      val n = readLen()
      val s = utf8(buf, pos, n)
      pos += n
      s
    }
    def readMessage(): Reader = {
      val n = readLen()
      val sub = new Reader(buf, pos, pos + n)
      pos += n
      sub
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => if (limit - pos < 8) throw new MalformedRecord("truncated fixed64"); pos += 8
      case 2 =>
        // NOT `pos += readLen()`: that reads the old pos before readLen()
        // advances past the length varint, silently rewinding the cursor.
        val n = readLen(); pos += n
      case 5 => if (limit - pos < 4) throw new MalformedRecord("truncated fixed32"); pos += 4
      case other => throw new MalformedRecord(s"unsupported wire type $other")
    }
  }

  /** A string slice without copying when it is ASCII (always valid UTF-8);
    * otherwise the replacement-character decoding `new String(_, UTF_8)`
    * gives, so malformed UTF-8 reads as U+FFFD.
    */
  private def utf8(buf: Array[Byte], from: Int, len: Int): UTF8String = {
    var i = from
    while (i < from + len && buf(i) >= 0) i += 1
    if (i == from + len) UTF8String.fromBytes(buf, from, len)
    else UTF8String.fromString(new String(buf, from, len, StandardCharsets.UTF_8))
  }

  private def decodeMessage(r: Reader, layout: Layout): InternalRow = {
    val values = layout.defaults.clone()
    var messages: collection.mutable.ArrayBuffer[Any] = null
    while (r.hasMore) {
      val tag = r.readVarint()
      val num = (tag >>> 3).toInt
      val wireType = (tag & 7).toInt
      val kind = if (num >= 0 && num < layout.kind.length) layout.kind(num) else Unknown
      // Known fields are read ONLY when the record's wire type matches the
      // expected one (2 for strings/messages, 0 for varint longs); a
      // mismatch is treated as an unknown field and skipped — proto3
      // conformance semantics, and it prevents a drifted producer schema
      // from silently misreading a varint as a length.
      if (kind == Str && wireType == 2) values(layout.ordinal(num)) = r.readString()
      else if (kind == Lng && wireType == 0) values(layout.ordinal(num)) = r.readVarint()
      else if (kind == Msg && wireType == 2) {
        if (messages == null) messages = collection.mutable.ArrayBuffer.empty[Any]
        messages += decodeMessage(r.readMessage(), layout.nested)
      } else r.skip(wireType)
    }
    if (layout.messageOrdinal >= 0)
      values(layout.messageOrdinal) =
        if (messages == null) noMetrics else new GenericArrayData(messages.toArray)
    new GenericInternalRow(values)
  }

  /** The decode kernel: one registry-framed Kafka value → 0 or 1
    * SensorEvent rows. A null value (a Kafka tombstone, the compacted-topic
    * delete marker), a bad Confluent frame or bad protobuf is counted once
    * on `malformed` (when not null) and yields no row.
    */
  def decodeRows(value: Array[Byte], malformed: LongAccumulator): Iterator[InternalRow] =
    try {
      if (value == null) throw new MalformedRecord("tombstone")
      val from = ConfluentFraming.payloadOffset(value)
      Iterator.single(decodeMessage(new Reader(value, from, value.length), eventLayout))
    } catch {
      case _: MalformedRecord | _: ConfluentFraming.BadFrame =>
        if (malformed != null) malformed.add(1L)
        Iterator.empty
    }

  /** Named failed-event counter, visible in the Spark UI / status API —
    * the engine's form of the reference's count-and-continue failed-event
    * accounting (app.go:85-97). Create once per pipeline and pass to
    * [[decodeFramed]].
    */
  def malformedCounter(spark: org.apache.spark.sql.SparkSession): LongAccumulator =
    spark.sparkContext.longAccumulator("graft.protobuf.malformed_records")

  /** DataFrame op: binary `valueCol` (the raw registry-framed Kafka value)
    * → full SensorEvent rows, through the [[SensorEventDecoder]] generator,
    * so the same operator serves batch frames and `readStream` pipelines.
    * Magic + schema id + message-indexes are parsed inside the same kernel
    * (the indexes block is variable-length, so framing cannot be a static
    * `substring`). Bad frames and bad protobuf are counted on `malformed`
    * (when given) and dropped, mirroring the reference's count-and-continue
    * handling of failed events (app.go:85-97) — poison Kafka messages must
    * not kill the stream, but their rate must stay observable.
    */
  def decodeFramed(
      df: DataFrame,
      valueCol: String,
      malformed: Option[LongAccumulator] = None): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.select(ColumnBridge.column(SensorEventDecoder(
      ColumnBridge.expression(df.col(valueCol)), malformed.orNull)))
  }

  // ---- encode (tests + sink symmetry) ------------------------------------

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private def writeTag(out: ByteArrayOutputStream, field: Int, wireType: Int): Unit =
    writeVarint(out, (field.toLong << 3) | wireType)

  private def writeString(out: ByteArrayOutputStream, field: Int, s: String): Unit = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    writeTag(out, field, 2); writeVarint(out, bytes.length); out.write(bytes, 0, bytes.length)
  }

  private def encodeMessage(row: Row, schema: StructType, fields: Map[Int, String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val byName = fields.map(_.swap)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) {
        val fieldNum = byName(f.name)
        f.dataType match {
          case StringType => writeString(out, fieldNum, row.getString(i))
          case LongType   => writeTag(out, fieldNum, 0); writeVarint(out, row.getLong(i))
          case ArrayType(m: StructType, _) =>
            row.getSeq[Row](i).foreach { metric =>
              val body = encodeMessage(metric, m, metricFields)
              writeTag(out, fieldNum, 2); writeVarint(out, body.length)
              out.write(body, 0, body.length)
            }
          case other => throw new IllegalArgumentException(s"unsupported $other")
        }
      }
    }
    out.toByteArray
  }

  def encodeSensorEvent(row: Row): Array[Byte] =
    encodeMessage(row, SensorSchemas.sensorEventSchema, eventFields)
}

/** 0-or-1-row generator over a binary Kafka value: the SensorEvent decode
  * kernel ([[ProtobufWire.decodeRows]]) as a Catalyst `Generator`, so the
  * decoded columns feed the rest of the plan as InternalRows inside the
  * same whole-stage-codegen span. `malformed` (may be null) counts the
  * dropped records.
  */
case class SensorEventDecoder(child: Expression, malformed: LongAccumulator)
    extends UnaryExpression with Generator {

  override def elementSchema: StructType = SensorSchemas.sensorEventSchema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"SensorEvent decode requires BINARY input, got ${child.dataType.sql}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    ProtobufWire.decodeRows(child.eval(input).asInstanceOf[Array[Byte]], malformed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    val counter =
      if (malformed == null) "null"
      else ctx.addReferenceObj("malformed", malformed, classOf[LongAccumulator].getName)
    ev.copy(code = code"""
      |${in.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  graft.streaming.ProtobufWire.decodeRows(${in.isNull} ? null : ${in.value}, $counter);
      |""".stripMargin, isNull = FalseLiteral)
  }

  // the counter's running value is not part of the plan's identity
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override protected def withNewChildInternal(newChild: Expression): SensorEventDecoder =
    copy(child = newChild)
}
