package alertbench

import graft.streaming.KafkaSink.{PreparedRecord, RecordWriter}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

/** In-memory stand-in for the Kafka producer. Spark runs `local[k]`, so the
  * executor-side writers and the checks that read them after each pass
  * share this one JVM-wide object.
  *
  * Per record it keeps only what the checks need: a per-key count, the
  * latest send time per key, and the full record for a 1-in-16 sample of
  * event keys (chosen by the key's first hex digit, so the sample is fixed
  * by the seed).
  */
object Capture {
  final class Seen { var n = 0; var lastNs = 0L }

  val perKey = new ConcurrentHashMap[String, Seen]()
  val sampled = new ConcurrentLinkedQueue[PreparedRecord]()
  val records = new LongAdder
  val valueBytes = new LongAdder

  def reset(): Unit = { perKey.clear(); sampled.clear(); records.reset(); valueBytes.reset() }

  def send(r: PreparedRecord): Unit = {
    val now = System.nanoTime()
    val key = new String(r.key, java.nio.charset.StandardCharsets.UTF_8)
    val s = perKey.computeIfAbsent(key, _ => new Seen)
    s.synchronized { s.n += 1; if (now > s.lastNs) s.lastNs = now }
    if (key.charAt(0) == '0') sampled.add(r)
    records.increment()
    valueBytes.add(r.value.length.toLong)
  }

  /** Writer factory handed to the program's sink. */
  val writer: () => RecordWriter = () => CaptureWriter
}

object CaptureWriter extends RecordWriter {
  def send(r: PreparedRecord): Unit = Capture.send(r)
}
