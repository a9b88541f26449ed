package alertbench

import graft.pipeline.{SensorSchemas, SnortPipeline}
import graft.streaming.{AvroCodec, KafkaSink, ProtobufWire}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The Kafka→Kafka alert ETL: framed SensorEvents → `decodeFramed` →
  * `KafkaSink.sinkAlerts` → the in-memory writer. */
final class Etl(ctx: Ctx) {
  import Etl._
  import ctx.spark.implicits._

  private val malformed = ProtobufWire.malformedCounter(ctx.spark)
  val check = new Check(alertAvroSchema(ctx), Topic)

  def start(): (MemoryStream[Msg], StreamingQuery) = {
    val in = MemoryStream[Msg](ctx.spark, ctx.cores)
    val events = ProtobufWire.decodeFramed(in.toDF(), "value", Some(malformed))
    val q = KafkaSink.sinkAlerts(events, Topic, Gen.SchemaId, Capture.writer)
      .option("checkpointLocation", ctx.checkpoint()).start()
    (in, q)
  }

  def malformedSoFar: Long = malformed.value

  /** Untimed warm-up through the running query: four backlog-sized
    * triggers, then a few live-sized ones. Returns its seconds. */
  def warmUp(in: MemoryStream[Msg], q: StreamingQuery): Double = {
    val gen = new Gen(ctx.seed ^ WarmSalt, EtlShape)
    val chunks = (Seq.fill(4)(BacklogChunk) ++ Seq.fill(4)(250)).map(n =>
      gen.next(n, BaseSecond, ArrayBuffer[EventModel]()).msgs)
    ctx.warmUp(chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() })
  }

  /** Verify one pass: every event's records, the sampled bodies, and the
    * malformed count against the injected poison. */
  def verify(events: Iterable[EventModel], poison: Long, malformedDelta: Long): Seq[String] = {
    val ps = check.problems(events, Capture.sampled.asScala, Capture.perKey, Capture.records.sum)
    if (malformedDelta != poison) ps :+ s"decode.malformed $malformedDelta != injected poison $poison" else ps
  }
}

object Etl {
  val Topic = "snort-alerts"
  val BaseSecond = 1760000000L
  /** Skewed metrics-per-event (1..12), payloads 8..1024 chars, 1% poison. */
  val EtlShape = Shape(maxMetrics = 12, maxPayload = 1024, sensors = 64, dupShare = 0.0,
    oooSeconds = 0, poisonShare = 0.01, eventsPerSecond = 1000)
  /** Events per trigger while draining the backlog, and triggers per pass. */
  val BacklogChunk = 5000
  val BacklogChunks = 2
  val BacklogPassSeconds = 1.4
  /** Open-loop rate of the live phase (events/s): about a ninth of the
    * drain's saturation on 4 cores, so each micro-batch is small and its
    * fixed cost dominates. */
  val LiveRate = 700
  /** Generator wake-up granularity in the live phase. */
  val TickMs = 2
  val WarmSalt = 0x5eedL
  val LiveSalt = 0x11feL

  /** The Avro schema the sink writes (what a registry would hand a
    * consumer), derived from the program's own alert projection. */
  def alertAvroSchema(ctx: Ctx): org.apache.avro.Schema = {
    val empty = ctx.spark.createDataFrame(java.util.List.of[Row](), SensorSchemas.sensorEventSchema)
    val env = SnortPipeline.withEnvelope(SnortPipeline.alerts(empty))
    val cols = env.columns.filterNot(Set("kafka_key", "event_time", "headers"))
    val t = env.select(struct(cols.map(col): _*).as("a")).schema("a").dataType.asInstanceOf[StructType]
    AvroCodec.avroSchema(t, "SnortAlert")
  }

  /** The first batch each query start processes. */
  private def firstBatch(ctx: Ctx): Array[Msg] =
    new Gen(ctx.seed ^ WarmSalt, EtlShape).next(BacklogChunk / 2, BaseSecond, ArrayBuffer[EventModel]()).msgs

  /** etl: a consumer that first catches up on a lagging topic, then follows
    * its live tail, through one running query.
    *
    * Drain phase: a fixed seeded backlog, `BacklogChunk` events per trigger,
    * a fixed number of passes of about the run's seconds in total.
    * Live phase: an open loop at `LiveRate` events/s for the run's seconds.
    * One generator thread hands each event to the source when it is due
    * (checking every `TickMs`), whether or not the query keeps up; an
    * event's latency runs from its due time to the send of its last
    * record. */
  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val gen = new Gen(ctx.seed, EtlShape)
    val events = ArrayBuffer[EventModel]()
    def generate(g: Gen, into: ArrayBuffer[EventModel]) = Array.tabulate(BacklogChunks)(i =>
      g.next(BacklogChunk, BaseSecond + i * BacklogChunk / EtlShape.eventsPerSecond, into).msgs)
    val chunks = generate(gen, events)
    val etl = new Etl(ctx)
    val (in, q, starts) = ctx.startRepeatedly(firstBatch(ctx))(etl.start)
    ctx.putSetup(starts, etl.warmUp(in, q))

    /** One drain of the whole backlog: wall seconds. */
    def pass(): Double = {
      Capture.reset()
      val m0 = etl.malformedSoFar
      val t0 = System.nanoTime()
      chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      val wall = (System.nanoTime() - t0) / 1e9
      r.attempted += chunks.map(_.length.toLong).sum
      val ps = etl.verify(events, gen.poison, etl.malformedSoFar - m0)
      r.failed += ps.size
      ps.foreach(r.problem)
      wall
    }

    val records = events.map(_.metrics.length.toLong).sum
    val liveSeed = ctx.seed ^ LiveSalt
    if (ctx.trace) {
      val drainLog = new ProgressLog
      val (untraced, traced) = Trace.alternate(() => ctx.spark.streams.addListener(drainLog),
        () => ctx.spark.streams.removeListener(drainLog))(pass())
      Trace.putOverhead(r, untraced, traced)
      r.put("drain.us_per_record", untraced * 1e6 / records, "us")
      val liveLog = new ProgressLog
      val live = schedule(ctx, etl, in, q, ctx.seconds, liveSeed, Some(liveLog))
      ProgressLog.putBatch(r, liveLog.of(q))
      r.put("gen.late_ms_p90", Report.quantile(live.lateMs, 0.9), "ms")
      tracePrefixes(ctx, chunks, events.toSeq, gen.poison, etl.check)
    } else {
      val passes = Seq.fill(ctx.passes(BacklogPassSeconds))(pass())
      SelfCheck.run(ctx, seed => generate(new Gen(seed, EtlShape), ArrayBuffer()), chunks, etl.check, events.toSeq)
      val live = schedule(ctx, etl, in, q, ctx.seconds, liveSeed, None)
      r.put("records_per_s", Report.median(passes.map(records / _)), "1/s")
      r.put("latency_p50_ms", Report.quantile(live.latencyMs, 0.5), "ms")
      r.put("latency_p90_ms", Report.quantile(live.latencyMs, 0.9), "ms")
      r.put("pass_s", Report.median(passes), "s")
      r.note("passes_s", Report.arr(passes))
      r.note("live_events", s"${live.latencyMs.size}")
      r.note("live_batches", s"${live.batches}")
      r.note("live_gen_late_ms_p90", Report.num(Report.quantile(live.lateMs, 0.9)))
    }
    q.stop()
  }

  /** Per event of a schedule: latency and how late the generator was;
    * and the micro-batches the schedule took. */
  final case class Played(latencyMs: Seq[Double], lateMs: Seq[Double], batches: Long)

  /** Play one open-loop schedule into the running query and check it. */
  private def schedule(ctx: Ctx, etl: Etl, in: MemoryStream[Msg], q: StreamingQuery,
      seconds: Double, seed: Long, log: Option[ProgressLog]): Played = {
    val r = ctx.report
    val gen = new Gen(seed, EtlShape)
    val n = (LiveRate * seconds).toInt
    val events = ArrayBuffer[EventModel]()
    val Slice(msgs, owners) = gen.next(n, BaseSecond, events)
    log.foreach(ctx.spark.streams.addListener)
    Capture.reset()
    val m0 = etl.malformedSoFar
    val batch0 = q.lastProgress.batchId

    val dueNs = new Array[Long](n)
    val lateMs = new Array[Double](n)
    val t0 = System.nanoTime() + 50000000L
    var i = 0
    while (i < n) { dueNs(i) = t0 + (i * 1e9 / LiveRate).toLong; i += 1 }
    val generator = new Thread(() => {
      var next = 0
      while (next < n) {
        val now = System.nanoTime()
        var upTo = next
        while (upTo < n && dueNs(upTo) <= now) upTo += 1
        if (upTo > next) {
          in.addData(msgs.slice(next, upTo).toSeq)
          val added = System.nanoTime()
          while (next < upTo) { lateMs(next) = (added - dueNs(next)) / 1e6; next += 1 }
        } else java.util.concurrent.locks.LockSupport.parkNanos(
          math.min(dueNs(next) - now, TickMs * 1000000L))
      }
    }, "alertbench-generator")
    generator.start()
    generator.join()
    q.processAllAvailable()
    log.foreach(ctx.spark.streams.removeListener)

    r.attempted += n
    val ps = etl.verify(events, gen.poison, etl.malformedSoFar - m0)
    r.failed += ps.size
    ps.foreach(r.problem)
    // events with a missing record are already counted as failed above
    val latencies = (0 until n).flatMap { i =>
      Option(owners(i)).map(ev => Capture.perKey.get(ev.hash))
        .filter(_ != null).map(s => (s.lastNs - dueNs(i)) / 1e6)
    }
    Played(latencies, lateMs.toSeq, q.lastProgress.batchId - batch0)
  }

  /** Per-layer prefix times over the backlog, run as batch jobs. */
  private def tracePrefixes(ctx: Ctx, chunks: Array[Array[Msg]], events: Seq[EventModel],
      poison: Long, check: Check): Unit = {
    val r = ctx.report
    val records = events.map(_.metrics.length.toLong).sum
    // The prefixes run chunk by chunk, one batch job per trigger's worth
    // of input, so they pay the same per-job costs the drain pays; what
    // the drain adds on top is per-trigger streaming work (batch.* metrics).
    import ctx.spark.implicits._
    val inputs = chunks.map(c => ctx.spark.createDataset(c.toSeq).toDF().repartition(ctx.cores).cache())
    inputs.foreach(_.count())
    val malformed = ProtobufWire.malformedCounter(ctx.spark)
    def decoded(in: DataFrame) = ProtobufWire.decodeFramed(in, "value", Some(malformed))
    def envelope(in: DataFrame) = SnortPipeline.withEnvelope(SnortPipeline.alerts(decoded(in)))
    def prepared(in: DataFrame) = KafkaSink.prepareRecords(envelope(in), Topic, Gen.SchemaId)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "decode" -> (() => inputs.foreach(in => noop(decoded(in)))),
      "explode" -> (() => inputs.foreach(in => noop(envelope(in)))),
      "encode" -> (() => inputs.foreach(in => KafkaSink.emit(prepared(in), () => DiscardWriter))),
      "emit" -> (() => { Capture.reset(); inputs.foreach(in => KafkaSink.emit(prepared(in), Capture.writer)) }))
    val reps = 5
    val times = Trace.prefixTimes(prefixes, reps)
    val decodes = prefixes.size * reps
    val ms = prefixes.map(p => times(p._1))
    r.put("decode.ms", ms(0), "ms")
    r.put("explode.ms", Trace.layerMs(ms(1), ms(0)), "ms")
    r.put("encode.ms", Trace.layerMs(ms(2), ms(1)), "ms")
    r.put("sink.send_ms", Trace.layerMs(ms(3), ms(2)), "ms")
    r.put("decode.events_in", chunks.map(_.length).sum.toDouble, "count")
    r.put("decode.malformed", malformed.value.toDouble / decodes, "count")
    r.put("explode.rows_out", records.toDouble, "rows")
    r.put("explode.fanout", records.toDouble / events.size, "rows/event")
    r.put("encode.bytes_out", Capture.valueBytes.sum.toDouble, "bytes")
    r.put("sink.records", Capture.records.sum.toDouble, "count")
    r.put("prefix.us_per_record", ms(3) * 1000 / records, "us")
    val ps = check.problems(events, Nil, Capture.perKey, Capture.records.sum)
    r.failed += ps.size
    ps.foreach(p => r.problem("batch emit: " + p))
    if (malformed.value != poison * decodes)
      r.problem(s"batch decode.malformed ${malformed.value} != ${poison * decodes}")
    inputs.foreach(_.unpersist())
  }
}

/** Consumes records without keeping them: the encode prefix's sink. */
object DiscardWriter extends KafkaSink.RecordWriter {
  def send(r: KafkaSink.PreparedRecord): Unit = ()
}
