package alertbench

import graft.streaming.KafkaSink.PreparedRecord
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** Checks produced SnortAlert records against the generator's model.
  *
  * Every event must yield exactly one record per metric. Each sampled record
  * is fully decoded: Confluent header, key, event-time timestamp, the four
  * routing headers and the Avro body fields the pipeline maps.
  */
final class Check(avroSchema: Schema, topic: String) {
  private val reader = new GenericDatumReader[GenericRecord](avroSchema)

  /** Problems found in `records` produced from `events`; empty = correct. */
  def problems(events: Iterable[EventModel], records: Iterable[PreparedRecord],
      perKey: java.util.Map[String, Capture.Seen], totalRecords: Long): Vector[String] = {
    val out = Vector.newBuilder[String]
    val byHash = events.iterator.map(e => e.hash -> e).toMap
    val expected = events.iterator.map(_.metrics.length.toLong).sum
    if (totalRecords != expected) out += s"record count $totalRecords != expected $expected"
    events.foreach { e =>
      val s = perKey.get(e.hash)
      val n = if (s == null) 0 else s.n
      if (n != e.metrics.length) out += s"event ${e.hash.take(12)}: $n records, expected ${e.metrics.length}"
    }
    perKey.keySet.asScala.filterNot(byHash.contains).take(3).foreach(k => out += s"unexpected key ${k.take(12)}")
    records.foreach { r =>
      byHash.get(new String(r.key, UTF_8)) match {
        case None => out += "sampled record with unknown key"
        case Some(e) => out ++= recordProblems(e, r)
      }
    }
    out.result()
  }

  def recordProblems(e: EventModel, r: PreparedRecord): Seq[String] = {
    val p = Vector.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) p += s"${e.hash.take(12)} $what: got $got, want $want"
    expect("topic", r.topic, topic)
    expect("key", new String(r.key, UTF_8), e.hash)
    expect("magic", r.value(0), 0.toByte)
    expect("schema id", java.nio.ByteBuffer.wrap(r.value, 1, 4).getInt, Gen.SchemaId)
    expect("headers", r.headers, Map(
      "hash_sha256" -> e.hash, "sensor_id" -> e.sensorId,
      "priorityStr" -> Check.priorityLabel(e.priority),
      "classification" -> Option(e.classification).getOrElse("")))
    val a = try reader.read(null, DecoderFactory.get().binaryDecoder(r.value, 5, r.value.length - 5, null))
    catch { case ex: Exception => p += s"${e.hash.take(12)} avro: $ex"; return p.result() }
    def s(rec: GenericRecord, f: String): Any = rec.get(f) match {
      case u: org.apache.avro.util.Utf8 => u.toString
      case v => v
    }
    val pkt = a.get("pkt_num").asInstanceOf[Long]
    e.metrics.find(_.pktNum == pkt) match {
      case None => p += s"${e.hash.take(12)} pkt_num $pkt not generated"
      case Some(m) =>
        expect("timestampMs", r.timestampMs, Check.eventMillis(m.snortTs, e.eventSeconds))
        expect("b64_data", s(a, "b64_data"), m.b64)
        expect("src_addr", s(a, "src_addr"), m.srcAddr)
        expect("dst_port", s(a, "dst_port"), m.dstPort)
        expect("tcp_flags", s(a, "tcp_flags"), m.tcpFlags)
        expect("timestamp", s(a, "timestamp"), m.snortTs)
    }
    val md = a.get("metadata").asInstanceOf[GenericRecord]
    expect("metadata.sensor_id", s(md, "sensor_id"), e.sensorId)
    expect("metadata.hash_sha256", s(md, "hash_sha256"), e.hash)
    expect("metadata.sent_at", s(md, "sent_at"), Check.isoMillis(e.sentAtMicros))
    expect("msg", s(a, "msg"), e.message)
    expect("priority", s(a, "priority"), e.priority)
    expect("priority_str", s(a, "priority_str"), Check.priorityLabel(e.priority))
    expect("class", s(a, "class"), e.classification)
    expect("seconds", s(a, "seconds"), e.eventSeconds)
    p.result()
  }
}

object Check {
  def priorityLabel(p: Long): String = p match {
    case 1 => "High"; case 2 => "Medium"; case 3 => "Low"; case _ => "Informational"
  }

  /** Record timestamp: the Snort timestamp (µs truncated to ms) when it
    * parses, else the event's seconds. */
  def eventMillis(snortTs: String, seconds: Long): Long =
    try java.time.LocalDateTime.parse(snortTs, Gen.SnortFmt).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException => seconds * 1000L }

  /** ISO-8601 UTC with milliseconds truncated and trailing zeros trimmed. */
  def isoMillis(micros: Long): String = {
    val ms = Math.floorMod(micros / 1000L, 1000L)
    val base = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .format(java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L), 0, java.time.ZoneOffset.UTC))
    if (ms == 0) base + "Z" else base + "." + f"$ms%03d".reverse.dropWhile(_ == '0').reverse + "Z"
  }
}
