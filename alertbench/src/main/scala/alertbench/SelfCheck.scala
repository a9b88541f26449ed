package alertbench

import graft.streaming.KafkaSink.PreparedRecord

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Checks on the benchmark itself, run (untimed) after the drain phase of
  * every etl run: the generator is deterministic in its seed, and the
  * verifier rejects deliberately corrupted output. */
object SelfCheck {
  def run(ctx: Ctx, regenerate: Long => Array[Array[Msg]], original: Array[Array[Msg]],
      check: Check, events: Seq[EventModel]): Unit = {
    val r = ctx.report
    def same(a: Array[Array[Msg]], b: Array[Array[Msg]]) =
      a.length == b.length && a.indices.forall(i => a(i).length == b(i).length &&
        a(i).indices.forall(j => java.util.Arrays.equals(a(i)(j).value, b(i)(j).value)))
    if (!same(original, regenerate(ctx.seed))) r.problem("self-check: same seed gave different input bytes")
    if (same(original, regenerate(ctx.seed + 1))) r.problem("self-check: different seeds gave identical input")

    val byHash = events.map(e => e.hash -> e).toMap
    val sample = Capture.sampled.asScala.headOption
    if (sample.isEmpty) r.problem("self-check: no sampled record to corrupt")
    sample.foreach { good =>
      val e = byHash(new String(good.key, "UTF-8"))
      if (check.recordProblems(e, good).nonEmpty) r.problem("self-check: verifier rejected a good record")
      val flipped = good.value.clone() // one character of the alert's msg field
      flipped(flipped.indexOfSlice(e.message.getBytes("UTF-8"))) = '#'.toByte
      val corrupt: Seq[(String, PreparedRecord)] = Seq(
        "timestamp" -> good.copy(timestampMs = good.timestampMs + 1),
        "header" -> good.copy(headers = good.headers.updated("priorityStr", "Bogus")),
        "magic" -> good.copy(value = 1.toByte +: good.value.tail),
        "avro body" -> good.copy(value = flipped))
      corrupt.foreach { case (what, bad) =>
        if (check.recordProblems(e, bad).isEmpty) r.problem(s"self-check: verifier accepted a corrupted $what")
      }
      val missing = new java.util.HashMap[String, Capture.Seen](Capture.perKey)
      val short = new Capture.Seen; short.n = e.metrics.length - 1
      missing.put(e.hash, short)
      if (check.problems(events, Nil, missing, Capture.records.sum - 1).isEmpty)
        r.problem("self-check: verifier accepted a missing record")
    }
    r.note("self_check", if (r.problems.exists(_.startsWith("self-check"))) "\"failed\"" else "\"passed\"")
  }
}
