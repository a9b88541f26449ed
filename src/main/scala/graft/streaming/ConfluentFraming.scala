package graft.streaming

/** Confluent Schema Registry wire framing (public wire format): 1 magic byte
  * 0x00 + 4-byte big-endian schema id + — for the protobuf serde only — a
  * zigzag-varint *message-indexes* block locating the message type inside
  * the .proto file, then the payload. The reference deserializes with
  * Confluent's protobuf serde (internal/schema/schema.go:23-34), which
  * emits/consumes that indexes block; the common case (first top-level
  * message, indexes = [0]) is encoded as the single byte 0x00.
  *
  * Spark's codec functions don't speak this framing, so the engine
  * implements it directly (SURVEY.md §7.4 hard-part 3). The header length
  * is dynamic, so the decode kernel reads it in place with
  * [[payloadOffset]] rather than through a static `substring`.
  */
object ConfluentFraming {

  /** Stackless: the decode kernel throws one per poison record. */
  final class BadFrame(msg: String) extends RuntimeException(msg, null, false, false)

  private def zigzagEncode(n: Long): Long = (n << 1) ^ (n >> 63)

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** Zigzag-varint cursor over the message-indexes block. */
  private final class Cursor(buf: Array[Byte], var pos: Int) {
    def zigzag(): Long = {
      var shift = 0
      var raw = 0L
      while (shift <= 63) {
        if (pos >= buf.length) throw new BadFrame("truncated varint in message indexes")
        val b = buf(pos); pos += 1
        raw |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return (raw >>> 1) ^ -(raw & 1)
        shift += 7
      }
      throw new BadFrame("varint exceeds 64 bits in message indexes")
    }
  }

  /** Validates the header and returns the payload offset; collects the
    * explicit message indexes into `indexes` when it is not null (none are
    * collected for the single-0x00 shorthand).
    */
  private def scan(framed: Array[Byte], indexes: collection.mutable.Growable[Int]): Int = {
    if (framed.length < 6) throw new BadFrame(s"frame too short: ${framed.length} bytes")
    if (framed(0) != 0) throw new BadFrame(f"bad magic byte 0x${framed(0)}%02x")
    val c = new Cursor(framed, 5)
    val n = c.zigzag()
    if (n < 0 || n > 128) throw new BadFrame(s"implausible message-index count $n")
    var i = 0
    while (i < n) {
      val v = c.zigzag()
      // A message index is a non-negative position in the .proto's nested
      // message tree — negative or >Int.MaxValue values are a corrupt
      // frame, not data (truncating with toInt would silently alias them).
      if (v < 0 || v > Int.MaxValue)
        throw new BadFrame(s"message index out of range: $v")
      if (indexes != null) indexes += v.toInt
      i += 1
    }
    c.pos
  }

  /** Parses the full frame header; returns (schemaId, messageIndexes,
    * payloadOffset). Throws [[BadFrame]] on malformed input — callers on
    * the stream path route that to the failed-event counter rather than
    * killing the task.
    */
  def parseHeader(framed: Array[Byte]): (Int, Seq[Int], Int) = {
    val idx = collection.mutable.ArrayBuffer.empty[Int]
    val off = scan(framed, idx)
    val schemaId = ((framed(1) & 0xff) << 24) | ((framed(2) & 0xff) << 16) |
      ((framed(3) & 0xff) << 8) | (framed(4) & 0xff)
    // an empty block is the single-0x00 shorthand for [0]
    (schemaId, if (idx.isEmpty) Seq(0) else idx.toIndexedSeq, off)
  }

  /** Offset of the payload after magic + schema id + message-indexes
    * block, checked exactly as [[parseHeader]] checks it, without
    * allocating the indexes. Throws [[BadFrame]].
    */
  def payloadOffset(framed: Array[Byte]): Int = scan(framed, null)

  /** The header bytes for a schema id + message-indexes list (static per
    * target topic/message type; [0] — the wire shorthand 0x00 — by default).
    */
  def header(schemaId: Int, messageIndexes: Seq[Int] = Seq(0)): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0)
    out.write((schemaId >> 24) & 0xff); out.write((schemaId >> 16) & 0xff)
    out.write((schemaId >> 8) & 0xff); out.write(schemaId & 0xff)
    if (messageIndexes == Seq(0)) out.write(0)
    else {
      writeVarint(out, zigzagEncode(messageIndexes.length.toLong))
      messageIndexes.foreach(i => writeVarint(out, zigzagEncode(i.toLong)))
    }
    out.toByteArray
  }
}
