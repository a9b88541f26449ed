package alertbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** One packet-level metric of a generated event, as the verifier expects
  * to see it again in the produced SnortAlert record. */
final case class MetricModel(
    pktNum: Long,
    snortTs: String,
    b64: String,
    srcAddr: String,
    dstPort: Long,
    tcpFlags: String)

/** One generated SensorEvent (the generator's model of the input). */
final case class EventModel(
    hash: String,
    sensorId: String,
    priority: Long,
    classification: String, // null = field absent on the wire
    message: String,
    eventSeconds: Long,
    sentAtMicros: Long,
    metrics: Array[MetricModel])

/** One message on the input topic: `value == null` is a tombstone. */
final case class Msg(value: Array[Byte])

/** Generated messages and, per message, the event it delivers. */
final case class Slice(msgs: Array[Msg], owners: Array[EventModel])

/** The traffic dimensions the generator varies. */
final case class Shape(
    maxMetrics: Int,          // metrics per event: Zipf(1.1) over 1..maxMetrics
    maxPayload: Int,          // b64_data length: log-uniform over 8..maxPayload chars
    sensors: Int,             // sensor keys: Zipf(1.0) over this many ids
    dupShare: Double,         // share of messages that redeliver a recent event
    oooSeconds: Int,          // event time jitter bound (out-of-order)
    poisonShare: Double,      // share of tombstones + corrupt frames
    eventsPerSecond: Int)     // event-time density (events per event-second)

/** Seeded generator of registry-framed SensorEvent messages.
  *
  * Everything is derived from one `java.util.SplittableRandom`, so the same
  * seed yields byte-identical messages. The protobuf writer below is the
  * benchmark's own (field numbers from the SensorEvent .proto), so the
  * program under test only ever sees bytes.
  */
final class Gen(seed: Long, shape: Shape) {
  import Gen._
  private val rnd = new java.util.SplittableRandom(seed)
  private val metricCdf = zipfCdf(shape.maxMetrics, 1.1)
  private val sensorCdf = zipfCdf(shape.sensors, 1.0)
  private val recent = new Array[Array[Byte]](RecentRing)
  private val recentEvents = new Array[EventModel](RecentRing)
  private var produced = 0L

  /** Messages generated so far that were tombstones or corrupt frames. */
  var poison = 0L
  /** Messages generated so far that redeliver an earlier event. */
  var duplicates = 0L

  /** Next `n` messages. `events` receives each first-delivered event;
    * `owners(i)` is the event message i delivers (null for poison).
    * `baseSecond` is the event-time origin of this slice. */
  def next(n: Int, baseSecond: Long, events: collection.mutable.Growable[EventModel]): Slice = {
    val out = new Array[Msg](n)
    val owners = new Array[EventModel](n)
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      if (u < shape.poisonShare) { poison += 1; out(i) = Msg(poisonFrame()) }
      else if (u < shape.poisonShare + shape.dupShare && produced > 0) {
        duplicates += 1
        val back = 1 + rnd.nextInt(math.min(produced, RecentRing.toLong).toInt)
        val slot = ((produced - back) % RecentRing).toInt
        out(i) = Msg(recent(slot)); owners(i) = recentEvents(slot)
      } else {
        val e = event(baseSecond + i / shape.eventsPerSecond)
        events += e
        val bytes = frame(encode(e), explicitIndexes = rnd.nextInt(8) == 0)
        val slot = (produced % RecentRing).toInt
        recent(slot) = bytes; recentEvents(slot) = e
        produced += 1
        out(i) = Msg(bytes); owners(i) = e
      }
      i += 1
    }
    Slice(out, owners)
  }

  private def event(second: Long): EventModel = {
    val es = second - (if (shape.oooSeconds > 0) rnd.nextInt(shape.oooSeconds + 1) else 0)
    val nm = draw(metricCdf)
    val sensor = f"sensor-${draw(sensorCdf)}%04d"
    val metrics = Array.tabulate(nm) { k =>
      val micros = rnd.nextInt(1000000)
      // ~3% of metrics carry an unparseable Snort timestamp, exercising the
      // seconds fallback of the event-time stamp
      val ts =
        if (rnd.nextInt(32) == 0) "not-a-time"
        else SnortFmt.format(java.time.LocalDateTime.ofEpochSecond(es, micros * 1000, java.time.ZoneOffset.UTC))
      val len = math.exp(math.log(8.0) + rnd.nextDouble() * (math.log(shape.maxPayload.toDouble) - math.log(8.0))).toInt
      MetricModel(k.toLong, ts, b64(len), s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}",
        rnd.nextInt(65536).toLong, Flags(rnd.nextInt(Flags.length)))
    }
    EventModel(hex64(), sensor, 1L + rnd.nextInt(4),
      if (rnd.nextInt(10) == 0) null else Classes(rnd.nextInt(Classes.length)),
      Messages(rnd.nextInt(Messages.length)), es,
      es * 1000000L + rnd.nextInt(1000000), metrics)
  }

  private def draw(cdf: Array[Double]): Int = {
    val u = rnd.nextDouble()
    var k = 0
    while (k < cdf.length - 1 && cdf(k) < u) k += 1
    k + 1
  }

  private def hex64(): String = {
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < 4) { sb.append(f"${rnd.nextLong()}%016x"); i += 1 }
    sb.toString
  }

  private def b64(len: Int): String = {
    val cs = new Array[Char](len)
    var i = 0
    while (i < len) { cs(i) = B64(rnd.nextInt(64)); i += 1 }
    new String(cs)
  }

  /** A tombstone or a frame the decoder must count as malformed. */
  private def poisonFrame(): Array[Byte] = rnd.nextInt(3) match {
    case 0 => null
    case 1 => // bad magic byte
      val b = frame(Array[Byte](0x12, 0x00), explicitIndexes = false); b(0) = 1; b
    case _ => // field 1 (metrics) announces 127 bytes that never come
      frame(Array[Byte](0x0a, 0x7f), explicitIndexes = false)
  }
}

object Gen {
  val SchemaId = 42
  private val RecentRing = 512
  val SnortFmt: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yy/MM/dd-HH:mm:ss.SSSSSS")
  private val B64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/".toCharArray
  private val Flags = Array("******S*", "***A**S*", "***A****", "***AP***", "*****R**")
  private val Classes = Array("Attempted Information Leak", "Potentially Bad Traffic",
    "Misc activity", "Detection of a Network Scan", "Web Application Attack")
  private val Messages = Array("ICMP PING", "SCAN nmap XMAS", "SQL injection attempt",
    "ET POLICY curl User-Agent", "Possible TCP DoS", "DNS zone transfer")

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  // ---- protobuf wire writer (field numbers from the SensorEvent .proto) ----

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def long(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    varint(out, (field << 3).toLong); varint(out, v)
  }
  private def bytes(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    varint(out, ((field << 3) | 2).toLong); varint(out, b.length.toLong); out.write(b, 0, b.length)
  }
  private def str(out: ByteArrayOutputStream, field: Int, s: String): Unit = bytes(out, field, s.getBytes(UTF_8))

  def encode(e: EventModel): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    e.metrics.foreach { m =>
      val mo = new ByteArrayOutputStream(64 + m.b64.length)
      str(mo, 1, m.snortTs); str(mo, 2, m.b64)
      long(mo, 3, 1200L + m.pktNum); long(mo, 4, 3L)
      str(mo, 5, "192.168.1.10"); long(mo, 6, m.dstPort)
      str(mo, 8, "00:1a:2b:3c:4d:5e"); long(mo, 9, 74L)
      long(mo, 22, 60L); long(mo, 23, m.pktNum)
      str(mo, 27, m.srcAddr); long(mo, 28, 40000L + m.pktNum)
      str(mo, 32, m.tcpFlags); long(mo, 36, 64L)
      bytes(out, 1, mo.toByteArray)
    }
    str(out, 2, e.hash); long(out, 3, e.metrics.length.toLong); long(out, 4, e.eventSeconds)
    str(out, 5, e.sensorId); str(out, 6, "3.1.0")
    long(out, 7, e.sentAtMicros - 2000); long(out, 8, e.sentAtMicros); long(out, 9, e.sentAtMicros + 1500)
    str(out, 10, "allow")
    if (e.classification != null) str(out, 11, e.classification)
    str(out, 12, "C2S"); str(out, 13, "eth0"); str(out, 14, e.message)
    long(out, 15, e.priority); str(out, 16, "TCP")
    long(out, 17, 1L); long(out, 18, 3L); long(out, 19, 1000000L + e.priority)
    str(out, 20, "1:1000001:3"); long(out, 21, e.eventSeconds); str(out, 22, "http")
    out.toByteArray
  }

  /** Confluent registry framing: magic 0, big-endian schema id, then the
    * message-indexes block — the one-byte [0] shorthand, or (for some
    * messages) the explicit count-1 list [0]. */
  def frame(payload: Array[Byte], explicitIndexes: Boolean): Array[Byte] = {
    val idx = if (explicitIndexes) Array[Byte](2, 0) else Array[Byte](0)
    val out = new Array[Byte](5 + idx.length + payload.length)
    out(1) = (SchemaId >> 24).toByte; out(2) = (SchemaId >> 16).toByte
    out(3) = (SchemaId >> 8).toByte; out(4) = SchemaId.toByte
    System.arraycopy(idx, 0, out, 5, idx.length)
    System.arraycopy(payload, 0, out, 5 + idx.length, payload.length)
    out
  }
}
