package alertbench

import graft.functions.Scalars
import graft.pipeline.SnortPipeline
import graft.streaming.{ProtobufWire, StreamOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, timestamp_seconds, window}
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** alert_windows: framed SensorEvents with redeliveries and bounded
  * out-of-order event time over many sensors → `decodeFramed` →
  * `StreamOps.streamingDedup` on the event hash → `SnortPipeline.explodeMetrics`
  * → watermarked one-minute tumbling alert counts per (sensor, priority
  * label), in update mode. The sink keeps the latest count of every window.
  *
  * The count is grouped here rather than through `StreamOps.tumblingCounts`,
  * which applies its own `withWatermark`: Spark refuses a second watermark
  * after the dedup's. */
object Windows {
  /** 10% redeliveries, event time up to 20 s out of order, 256 sensors. */
  val WinShape = Shape(maxMetrics = 6, maxPayload = 64, sensors = 256, dupShare = 0.10,
    oooSeconds = 20, poisonShare = 0.01, eventsPerSecond = 100)
  val Chunk = 2000
  val ChunksPerPass = 2
  val PassSeconds = 2.5
  /** Untimed passes before timing: the JIT is still speeding up. */
  val WarmPasses = 2
  val Watermark = "2 minutes"
  /** Event-time distance between passes: every window of a pass is final
    * (and evicted) before the next pass starts. */
  val PassSpanSeconds: Long = ((Chunk * ChunksPerPass / WinShape.eventsPerSecond + 600) / 60 + 1) * 60L

  type Key = (Long, String, String) // window start (epoch s), sensor, priority label
  private val latest = new ConcurrentHashMap[Key, java.lang.Long]()

  def start(ctx: Ctx, malformed: org.apache.spark.util.LongAccumulator): (MemoryStream[Msg], StreamingQuery) = {
    import ctx.spark.implicits._
    val in = MemoryStream[Msg](ctx.spark, ctx.cores)
    val events = ProtobufWire.decodeFramed(in.toDF(), "value", Some(malformed))
      .withColumn("ets", timestamp_seconds(col("event_seconds")))
    val unique = StreamOps.streamingDedup(events, "ets", Watermark, "event_hash_sha256")
    val counts = SnortPipeline.explodeMetrics(unique)
      .groupBy(window(col("ets"), "1 minute"), col("sensor_id"),
        Scalars.priorityLabel(col("snort_priority")).as("priority"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("sensor_id"), col("priority"), col("n"))
    val q = counts.writeStream.outputMode("update")
      .option("checkpointLocation", ctx.checkpoint())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach { row =>
          latest.put((row.getTimestamp(0).getTime / 1000, row.getString(1), row.getString(2)), row.getLong(3))
        }
      }.start()
    (in, q)
  }

  /** The generator's own tally of alerts per window key. */
  def tally(events: Iterable[EventModel]): Map[Key, Long] =
    events.groupMapReduce(e =>
      (e.eventSeconds - Math.floorMod(e.eventSeconds, 60L), e.sensorId, Check.priorityLabel(e.priority)))(
      _.metrics.length.toLong)(_ + _)

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val malformed = ProtobufWire.malformedCounter(ctx.spark)
    val firstBatch = new Gen(ctx.seed ^ Etl.WarmSalt, WinShape)
      .next(Chunk / 4, Etl.BaseSecond - 10 * PassSpanSeconds, ArrayBuffer[EventModel]()).msgs
    val (in, q, starts) = ctx.startRepeatedly(firstBatch)(() => start(ctx, malformed))
    val log = new ProgressLog

    var pass = 0
    var unique, duplicates, alertsIn = 0L
    /** Generate pass `pass` (untimed), drain it, check its final counts. */
    def runPass(): (Double, Seq[Double], Long) = {
      val gen = new Gen(ctx.seed * 1000003L + pass, WinShape)
      val events = ArrayBuffer[EventModel]()
      val base = Etl.BaseSecond + pass * PassSpanSeconds
      val chunks = Array.tabulate(ChunksPerPass)(c =>
        gen.next(Chunk, base + c * Chunk / WinShape.eventsPerSecond, events).msgs)
      val expected = tally(events)
      val m0 = malformed.value
      val batches = ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      chunks.foreach { c =>
        val tb = System.nanoTime()
        in.addData(c.toSeq)
        q.processAllAvailable()
        batches += (System.nanoTime() - tb) / 1e6
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val n = Chunk.toLong * ChunksPerPass
      r.attempted += n
      unique += events.size; duplicates += gen.duplicates
      alertsIn += expected.values.sum
      val lo = base - 120 // out-of-order events land up to 20 s before `base`
      val got = latest.asScala.filter { case ((w, _, _), _) => w >= lo && w < lo + PassSpanSeconds }
      val wrong = expected.filter { case (k, v) => got.get(k).map(_.longValue) != Some(v) }
      val extra = got.keySet.diff(expected.keySet)
      r.failed += wrong.size + extra.size
      wrong.take(3).foreach { case (k, v) => r.problem(s"window $k: count ${got.get(k)}, generator tally $v") }
      extra.take(3).foreach(k => r.problem(s"window $k: not in generator tally"))
      if (malformed.value - m0 != gen.poison) {
        r.failed += 1
        r.problem(s"decode.malformed ${malformed.value - m0} != injected poison ${gen.poison}")
      }
      pass += 1
      (wall, batches.toSeq, expected.values.sum)
    }

    ctx.putSetup(starts, ctx.warmUp((1 to WarmPasses).foreach(_ => runPass())))
    if (ctx.trace) {
      val (u0, a0) = (unique, alertsIn)
      val (untraced, traced) = Trace.alternate(() => ctx.spark.streams.addListener(log),
        () => ctx.spark.streams.removeListener(log))(runPass()._1)
      val ps = log.of(q)
      ProgressLog.putBatch(r, ps)
      ProgressLog.putState(r, ps)
      Trace.putOverhead(r, untraced, traced)
      val dropped = ps.flatMap(_.stateOperators.toSeq)
        .map(o => Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
      r.put("dedup.dropped", dropped.toDouble, "rows")
      r.put("dedup.drop_ratio", dropped.toDouble / ps.map(_.numInputRows).sum, "ratio")
      r.put("explode.rows_out", (alertsIn - a0).toDouble, "rows")
      r.put("explode.fanout", (alertsIn - a0).toDouble / (unique - u0), "rows/event")
      tracePrefixes(ctx)
    } else {
      val passes = Seq.fill(ctx.passes(PassSeconds))(runPass())
      val batchMs = passes.flatMap(_._2)
      r.put("records_per_s", Report.median(passes.map(p => p._3 / p._1)), "1/s")
      r.put("latency_p50_ms", Report.quantile(batchMs, 0.5), "ms")
      r.put("latency_p90_ms", Report.quantile(batchMs, 0.9), "ms")
      r.put("pass_s", Report.median(passes.map(_._1)), "s")
      r.note("passes_s", Report.arr(passes.map(_._1)))
      r.note("latency_samples", s"${batchMs.size}")
      r.note("duplicates", s"$duplicates")
    }
    q.stop()
  }

  /** Decode and explode timed as batch prefixes over one pass of input. */
  private def tracePrefixes(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    val gen = new Gen(ctx.seed, WinShape)
    val msgs = (0 until ChunksPerPass).flatMap(c =>
      gen.next(Chunk, Etl.BaseSecond + c * Chunk / WinShape.eventsPerSecond, ArrayBuffer[EventModel]()).msgs)
    val input = ctx.spark.createDataset(msgs).toDF().repartition(ctx.cores).cache()
    input.count()
    val malformed = ProtobufWire.malformedCounter(ctx.spark)
    def decoded = ProtobufWire.decodeFramed(input, "value", Some(malformed))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val reps = 3
    val t = Trace.prefixTimes(Seq(
      "decode" -> (() => noop(decoded)),
      "explode" -> (() => noop(SnortPipeline.explodeMetrics(decoded)))), reps)
    ctx.report.put("decode.ms", t("decode"), "ms")
    ctx.report.put("explode.ms", Trace.layerMs(t("explode"), t("decode")), "ms")
    ctx.report.put("decode.events_in", msgs.size.toDouble, "count")
    ctx.report.put("decode.malformed", malformed.value.toDouble / (2 * reps), "count")
    if (malformed.value != gen.poison * 2 * reps)
      ctx.report.problem(s"batch decode.malformed ${malformed.value} != ${gen.poison * 2 * reps}")
    input.unpersist()
  }
}
