package graft.streaming

import org.apache.avro.Schema
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Avro for the sink path. The image ships Avro core but not the
  * spark-avro bridge module, so the engine derives the Avro schema from
  * the Spark StructType directly and writes its binary form natively from
  * the InternalRow ([[AvroWire]], [[ConfluentAvroValue]]). The reference's
  * generic Avro serializer follows one fixed Go struct
  * (internal/schema/schema.go:36-43); here the SnortAlert struct is fixed
  * because `SnortPipeline.alerts` reads every input under the declared
  * SensorEvent schema, so each schema id carries one Avro layout.
  */
object AvroCodec {

  /** StructType → Avro record schema over the three kinds a SnortAlert
    * has: string, long and nested record (SnortAlert.metadata). Nullable
    * fields become union(null, T).
    */
  def avroSchema(st: StructType, name: String, namespace: String = "graft"): Schema = {
    val fields = new java.util.ArrayList[Schema.Field]()
    st.fields.foreach { f =>
      val base = AvroWire.kindOf(f) match {
        case AvroWire.Utf8 => Schema.create(Schema.Type.STRING)
        case AvroWire.I64 => Schema.create(Schema.Type.LONG)
        case AvroWire.Rec =>
          avroSchema(f.dataType.asInstanceOf[StructType], s"${name}_${f.name}", namespace)
      }
      val (schema, default) =
        if (f.nullable)
          (Schema.createUnion(Schema.create(Schema.Type.NULL), base),
            Schema.Field.NULL_DEFAULT_VALUE)
        else (base, null)
      fields.add(new Schema.Field(f.name, schema, null, default))
    }
    Schema.createRecord(name, null, namespace, false, fields)
  }

  /** The Confluent-framed Avro value of a struct column under
    * [[avroSchema]] of its type: magic byte, 4-byte big-endian schema id,
    * then the Avro binary body.
    */
  def confluentValue(struct: Column, schemaId: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(ConfluentAvroValue(ColumnBridge.expression(struct), schemaId))
  }
}

/** Static kernel: Avro binary encoding (public Avro spec) of an InternalRow
  * under `AvroCodec.avroSchema` of its StructType — union branch index
  * 0 (null) / 1 (value) for nullable fields, zigzag varint long, UTF-8
  * copied straight out of the UTF8String, nested records inline.
  * Sized first, so each value is written once into an exact-size array.
  */
object AvroWire {
  private[streaming] final val Utf8 = 0
  private[streaming] final val I64 = 1
  private[streaming] final val Rec = 2

  /** The kind of one field; any other type fails, naming the field. */
  private[streaming] def kindOf(f: StructField): Int = f.dataType match {
    case StringType => Utf8
    case LongType => I64
    case _: StructType => Rec
    case other =>
      throw new IllegalArgumentException(s"unsupported Avro type ${other.sql} for field ${f.name}")
  }

  /** 5-byte Confluent header for `schemaId`, then the Avro body of `row`. */
  def framed(row: InternalRow, layout: AvroLayout, schemaId: Int): Array[Byte] = {
    val out = new Array[Byte](5 + size(row, layout))
    out(1) = (schemaId >>> 24).toByte; out(2) = (schemaId >>> 16).toByte
    out(3) = (schemaId >>> 8).toByte; out(4) = schemaId.toByte
    write(row, layout, out, 5)
    out
  }

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  private def varintSize(v: Long): Int = {
    var n = 1
    var u = v
    while ((u & ~0x7fL) != 0) { n += 1; u >>>= 7 }
    n
  }

  private def size(row: InternalRow, l: AvroLayout): Int = {
    var n = 0
    var i = 0
    while (i < l.kind.length) {
      if (l.nullable(i)) n += 1
      if (!l.nullable(i) || !row.isNullAt(i)) n += valueSize(row, l, i)
      i += 1
    }
    n
  }

  private def valueSize(row: InternalRow, l: AvroLayout, i: Int): Int =
    (l.kind(i): @annotation.switch) match {
      case Utf8 => val b = row.getUTF8String(i).numBytes; varintSize(zigzag(b)) + b
      case I64 => varintSize(zigzag(row.getLong(i)))
      case Rec => size(row.getStruct(i, l.nested(i).kind.length), l.nested(i))
    }

  private def writeVarint(out: Array[Byte], pos0: Int, v0: Long): Int = {
    var pos = pos0
    var v = v0
    while ((v & ~0x7fL) != 0) { out(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1; v >>>= 7 }
    out(pos) = v.toByte
    pos + 1
  }

  private def write(row: InternalRow, l: AvroLayout, out: Array[Byte], pos0: Int): Int = {
    var pos = pos0
    var i = 0
    while (i < l.kind.length) {
      val present = !l.nullable(i) || !row.isNullAt(i)
      if (l.nullable(i)) { out(pos) = (if (present) 2 else 0).toByte; pos += 1 }
      if (present) pos = (l.kind(i): @annotation.switch) match {
        case Utf8 =>
          val s = row.getUTF8String(i)
          val p = writeVarint(out, pos, zigzag(s.numBytes))
          s.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + p)
          p + s.numBytes
        case I64 => writeVarint(out, pos, zigzag(row.getLong(i)))
        case Rec => write(row.getStruct(i, l.nested(i).kind.length), l.nested(i), out, pos)
      }
      i += 1
    }
    pos
  }
}

/** Per-field kind, nullability and nested layout of a struct type, as the
  * [[AvroWire]] kernel walks it.
  */
final class AvroLayout(st: StructType) extends Serializable {
  val kind: Array[Int] = st.fields.map(AvroWire.kindOf)
  val nullable: Array[Boolean] = st.fields.map(_.nullable)
  val nested: Array[AvroLayout] = st.fields.map(_.dataType match {
    case s: StructType => new AvroLayout(s)
    case _ => null
  })
}

/** Native codegen form of the sink's value encoding: the Confluent-framed
  * Avro bytes of a struct, written by the [[AvroWire]] kernel straight from
  * the struct's InternalRow (no Row, GenericRecord or per-record writer).
  */
case class ConfluentAvroValue(child: Expression, schemaId: Int) extends UnaryExpression {
  @transient private lazy val layout = new AvroLayout(child.dataType.asInstanceOf[StructType])

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType =>
      try { layout; TypeCheckResult.TypeCheckSuccess }
      catch { case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage) }
    case other => TypeCheckResult.TypeCheckFailure(s"Avro value requires a STRUCT, got ${other.sql}")
  }

  override protected def nullSafeEval(v: Any): Any =
    AvroWire.framed(v.asInstanceOf[InternalRow], layout, schemaId)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("avroLayout", layout, classOf[AvroLayout].getName)
    defineCodeGen(ctx, ev, c => s"graft.streaming.AvroWire.framed($c, $l, $schemaId)")
  }

  override protected def withNewChildInternal(newChild: Expression): ConfluentAvroValue =
    copy(child = newChild)
}
