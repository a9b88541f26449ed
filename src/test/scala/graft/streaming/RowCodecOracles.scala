package graft.streaming

import graft.pipeline.SensorSchemas
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** The Row-boxed protobuf decoder the product ran before its InternalRow
  * kernel ([[SensorEventDecoder]]) — retained ONLY as the spec-level parity
  * reference: a `mutable.Map` per message, per-field `schema(name)`
  * lookups, copied sub-messages and `new String(_, UTF_8)`. Throws
  * [[ProtobufWire.MalformedRecord]] on corrupt input.
  */
object RowProtobufOracle {
  import ProtobufWire.{MalformedRecord, eventFields, metricFields}

  private final class Reader(buf: Array[Byte]) {
    var pos = 0
    def hasMore: Boolean = pos < buf.length
    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      while (shift <= 63) {
        if (pos >= buf.length) throw new MalformedRecord("truncated varint")
        val b = buf(pos); pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new MalformedRecord("varint exceeds 64 bits")
    }
    def readLen(): Int = {
      val n = readVarint()
      if (n < 0 || n > buf.length - pos) throw new MalformedRecord(s"bad length $n")
      n.toInt
    }
    def readBytes(n: Int): Array[Byte] = {
      if (n < 0 || pos + n > buf.length) throw new MalformedRecord(s"truncated bytes $n")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      out
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => pos += 8; if (pos > buf.length) throw new MalformedRecord("truncated fixed64")
      case 2 => val n = readLen(); pos += n
      case 5 => pos += 4; if (pos > buf.length) throw new MalformedRecord("truncated fixed32")
      case other => throw new MalformedRecord(s"unsupported wire type $other")
    }
  }

  private def decodeMessage(
      bytes: Array[Byte],
      schema: StructType,
      fields: Map[Int, String],
      metricsCollector: Option[collection.mutable.ArrayBuffer[Row]]): Row = {
    val values = collection.mutable.Map[String, Any]()
    val r = new Reader(bytes)
    while (r.hasMore) {
      val tag = r.readVarint()
      val fieldNum = (tag >>> 3).toInt
      val wireType = (tag & 7).toInt
      fields.get(fieldNum) match {
        case Some("metrics") if wireType == 2 =>
          metricsCollector.get += decodeMetric(r.readBytes(r.readLen()))
        case Some(name) if name != "metrics" =>
          schema(name).dataType match {
            case StringType if wireType == 2 =>
              values(name) = new String(r.readBytes(r.readLen()), StandardCharsets.UTF_8)
            case LongType if wireType == 0 =>
              values(name) = r.readVarint()
            case StringType | LongType => r.skip(wireType)
            case other => throw new IllegalArgumentException(s"unsupported $other")
          }
        case _ => r.skip(wireType)
      }
    }
    Row.fromSeq(schema.fields.map { f =>
      values.get(f.name).getOrElse {
        f.name match {
          case "metrics" => metricsCollector.get.toSeq
          case _ if !f.nullable && f.dataType == StringType => ""
          case _ if !f.nullable && f.dataType == LongType   => 0L
          case _ => null
        }
      }
    }.toIndexedSeq)
  }

  def decodeMetric(bytes: Array[Byte]): Row =
    decodeMessage(bytes, SensorSchemas.metricSchema, metricFields, None)

  def decodeSensorEvent(bytes: Array[Byte]): Row =
    decodeMessage(bytes, SensorSchemas.sensorEventSchema, eventFields,
      Some(collection.mutable.ArrayBuffer.empty[Row]))

  /** The oracle's verdict on one Kafka value, framed or not: the row, or
    * None where the product must count the value malformed.
    */
  def decodeValue(value: Array[Byte], framed: Boolean): Option[Row] =
    if (value == null) None
    else try {
      val payload =
        if (!framed) value
        else {
          val (_, _, off) = ConfluentFraming.parseHeader(value)
          java.util.Arrays.copyOfRange(value, off, value.length)
        }
      Some(decodeSensorEvent(payload))
    } catch {
      case _: MalformedRecord | _: ConfluentFraming.BadFrame => None
    }
}

/** The Row → `GenericRecord` → `GenericDatumWriter` Avro path the sink ran
  * before its native writer ([[AvroWire]]) — retained ONLY as the
  * spec-level byte-identity reference.
  */
object RowAvroOracle {

  def toRecord(row: Row, st: StructType, schema: Schema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      val v =
        if (row.isNullAt(i)) null
        else f.dataType match {
          case nested: StructType =>
            val fieldSchema = schema.getField(f.name).schema()
            val recSchema =
              if (fieldSchema.getType == Schema.Type.UNION)
                fieldSchema.getTypes.get(1)
              else fieldSchema
            toRecord(row.getStruct(i), nested, recSchema)
          case BinaryType => java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](i))
          case _ => row.get(i)
        }
      rec.put(f.name, v)
    }
    rec
  }

  def encode(record: GenericRecord, schema: Schema): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val encoder = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(record, encoder)
    encoder.flush()
    out.toByteArray
  }
}
