package graft.streaming

import graft.{Graft, SparkSpec}
import graft.pipeline.{SensorSchemas, SnortPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryException}

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Checkpoints move between Spark's default checkpoint file manager and
  * [[LocalCheckpointFileManager]] in both directions without losing or
  * repeating state, the chained alert summary recovers its dedup and
  * window state across a restart, and the Kafka sink keeps its
  * at-least-once contract across a crash under the product manager.
  */
class CheckpointManagerRestartSpec extends SparkSpec {
  import spark.implicits._

  private val defaultManager =
    LocalCheckpointFileManager.ConfKey -> classOf[FileContextBasedCheckpointFileManager].getName

  private def putJson(dir: String)(rows: Seq[String]): Unit = {
    Files.writeString(Files.createTempFile(Paths.get(dir), "part", ".json"), rows.mkString("\n") + "\n")
    ()
  }

  /** Regular files of the checkpoint's offset and commit logs, relative to
    * the checkpoint root, without their hidden `.crc` siblings.
    */
  private def logFiles(ckpt: String): Set[String] =
    Seq("offsets", "commits").flatMap { d =>
      Option(new File(ckpt, d).list()).toSeq.flatten.filterNot(_.startsWith(".")).map(n => s"$d/$n")
    }.toSet

  /** One SensorEvent as a JSON line: `metrics` alerts, all at `seconds`. */
  private def sensorEvent(hash: String, metrics: Int, sensor: String = "s",
      seconds: Long = 1738296906L): String =
    s"""{"metrics":[${Seq.fill(metrics)("""{"snort_timestamp":"25/01/31-04:15:06.927463"}""").mkString(",")}],
      "event_hash_sha256":"$hash","event_metrics_count":$metrics,"event_seconds":$seconds,
      "sensor_id":"$sensor","sensor_version":"1","event_read_at":1738296906927463,
      "event_sent_at":1738296906900000,"event_received_at":1738296906000000,
      "snort_interface":"eth0","snort_message":"m","snort_priority":1,
      "snort_protocol":"TCP","snort_rule_gid":1,"snort_rule_rev":1,
      "snort_rule_sid":1,"snort_rule":"r","snort_seconds":$seconds}""".replaceAll("\n\\s*", "")

  private def hasCrc(ckpt: String, rel: String): Boolean = {
    val f = new File(ckpt, rel)
    new File(f.getParentFile, s".${f.getName}.crc").exists()
  }

  /** Deduplicated one-minute counts per sensor over three runs of one
    * checkpoint: default manager, product manager, default manager. Each
    * run brings new events and redeliveries of earlier ones; the latest
    * count of every window must equal the count of distinct events.
    */
  private def dedupWindowsAcrossManagers(): Unit = {
    val in = newDir("graft-xcfm-in")
    val ckpt = newDir("graft-xcfm-ckpt")
    val latest = new ConcurrentHashMap[(Long, String), Long]()
    def start(): StreamingQuery = {
      val events = spark.readStream.schema("id bigint, ts bigint, sensor string")
        .option("maxFilesPerTrigger", 1).json(in)
        .withColumn("ets", timestamp_seconds($"ts"))
      StreamOps.streamingDedup(events, "ets", "1 hour", "id")
        .groupBy(window($"ets", "1 minute"), $"sensor").count()
        .writeStream.outputMode(OutputMode.Update).option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach { r =>
            latest.put((r.getStruct(0).getTimestamp(0).getTime / 1000, r.getString(1)), r.getLong(2))
          }
        }.start()
    }
    final case class Ev(id: Long, ts: Long, sensor: String) {
      def json = s"""{"id":$id,"ts":$ts,"sensor":"$sensor"}"""
    }
    val events = (0L until 60L).map(id => Ev(id, 600L + id * 7 % 300, s"s${id % 3}"))
    val rnd = new scala.util.Random(7)
    val runs = Seq(defaultManager, Graft.checkpointFileManager, defaultManager)
    runs.zipWithIndex.foreach { case (manager, run) =>
      val fresh = events.slice(run * 20, run * 20 + 20)
      val redelivered = rnd.shuffle(events.take(run * 20 + 10)).take(8)
      val before = logFiles(ckpt)
      withConf(manager) {
        // two files: two batches per run, each with redeliveries
        putJson(in)((fresh.take(10) ++ redelivered.take(4)).map(_.json))
        putJson(in)((fresh.drop(10) ++ redelivered.drop(4)).map(_.json))
        val q = start()
        try q.processAllAvailable() finally q.stop()
      }
      val written = logFiles(ckpt) -- before
      assert(written.exists(_.startsWith("offsets/")) && written.exists(_.startsWith("commits/")), s"run $run")
      // the default manager leaves a .crc beside each file; the product one none
      assert(written.forall(hasCrc(ckpt, _) == (manager == defaultManager)), s"run $run: $written")
    }
    val expected = events.groupMapReduce(e => (e.ts - e.ts % 60, e.sensor))(_ => 1L)(_ + _)
    assert(latest.asScala.toMap == expected)
  }

  test("HDFS-provider dedup → windowed counts stay exact across default → product → default restarts") {
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")(dedupWindowsAcrossManagers())
  }

  test("RocksDB changelog dedup → windowed counts stay exact across default → product → default restarts") {
    withRocksDBProvider {
      withConf("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")(
        dedupWindowsAcrossManagers())
    }
  }

  /** PARITY row 18, the reference's AlertSummary as a chain: SensorEvents
    * with redeliveries → `streamingDedup` on the event hash →
    * `explodeMetrics` → one-minute `tumblingCounts` per sensor, and the
    * running per-sensor total as a plain update-mode groupBy count over the
    * same deduplicated alerts; each is its own checkpointed query over one
    * file source. The second run's first batch redelivers the first run's
    * last batch verbatim, so only recovered dedup state can absorb it. The
    * first batch carries the bucketed alert-summary rows (2, 3 and 1 alerts
    * at 100 s, 119 s and 130 s), and the next one the late 5 alerts at
    * 110 s, inside the watermark.
    */
  private def alertSummaryAcrossRestart(): Unit = {
    val in = newDir("graft-summary-in")
    val (ckptWindows, ckptTotals) = (newDir("graft-summary-win"), newDir("graft-summary-tot"))
    val windows = new ConcurrentHashMap[(Long, String), Long]()
    val totals = new ConcurrentHashMap[String, Long]()
    def alerts: DataFrame = {
      val events = spark.readStream.schema(SensorSchemas.sensorEventSchema)
        .option("maxFilesPerTrigger", 1).json(in)
        .withColumn("ets", timestamp_seconds($"event_seconds"))
      SnortPipeline.explodeMetrics(StreamOps.streamingDedup(events, "ets", "1 hour", "event_hash_sha256"))
    }
    def start(): Seq[StreamingQuery] = Seq(
      StreamOps.tumblingCounts(alerts, "ets", "1 minute", "sensor_id")
        .writeStream.outputMode(OutputMode.Update).option("checkpointLocation", ckptWindows)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach { r =>
            windows.put((r.getTimestamp(0).getTime / 1000, r.getString(2)), r.getLong(3))
          }
        }.start(),
      alerts.groupBy($"sensor_id").count()
        .writeStream.outputMode(OutputMode.Update).option("checkpointLocation", ckptTotals)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => totals.put(r.getString(0), r.getLong(1)))
        }.start())
    final case class Ev(hash: String, metrics: Int, sensor: String, seconds: Long) {
      def json = sensorEvent(hash, metrics, sensor, seconds)
    }
    val summary = Seq(Ev("b100", 2, "s1", 100L), Ev("b119", 3, "s1", 119L), Ev("b130", 1, "s1", 130L))
    val late = Ev("b110", 5, "s1", 110L)
    val fresh = (0 until 36).map(i => Ev(s"h$i", 1 + i % 3, s"s${i % 3}", 600L + i * 7 % 300))
    val batch0 = summary ++ fresh.take(12)
    val batch1 = late +: (fresh.slice(12, 24) ++ Seq(summary(1), fresh(3)))
    val batch2 = batch1 ++ fresh.drop(24) :+ summary(0) // batch1 redelivered after the restart
    def run(batches: Seq[Seq[Ev]]): Unit = {
      batches.foreach(b => putJson(in)(b.map(_.json)))
      val qs = start()
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }
    run(Seq(batch0, batch1))
    run(Seq(batch2))
    val unique = (summary ++ fresh :+ late).map(e => e.hash -> e).toMap.values
    assert(unique.size == 40)
    assert(windows.asScala.toMap ==
      unique.groupMapReduce(e => (e.seconds - e.seconds % 60, e.sensor))(_.metrics.toLong)(_ + _))
    assert(windows.get((60L, "s1")) == 10L && windows.get((120L, "s1")) == 1L)
    assert(totals.asScala.toMap == unique.groupMapReduce(_.sensor)(_.metrics.toLong)(_ + _))
  }

  test("HDFS-provider alert summary (dedup → explode → tumbling counts, per-sensor totals) is exact across a restart") {
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")(alertSummaryAcrossRestart())
  }

  test("RocksDB changelog alert summary (dedup → explode → tumbling counts, per-sensor totals) is exact across a restart") {
    withRocksDBProvider {
      withConf("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")(
        alertSummaryAcrossRestart())
    }
  }

  test("sinkAlerts crashed mid-batch and restarted: every record at least once, duplicates only from the replayed batch") {
    val in = newDir("graft-xcfm-sink-in")
    val ckpt = newDir("graft-xcfm-sink-ckpt")
    val sent = new ConcurrentLinkedQueue[KafkaSink.PreparedRecord]()
    CrashingWriter.queue = sent
    def event(hash: String, metrics: Int): String = sensorEvent(hash, metrics)
    val batches = (0 until 3).map(b => (0 until 12).map(i => s"h$b-$i" -> (1 + (b + i) % 3)))
    val expected = batches.flatten.toMap
    def start(): StreamingQuery = KafkaSink.sinkAlerts(
        spark.readStream.schema(SensorSchemas.sensorEventSchema).option("maxFilesPerTrigger", 1).json(in),
        "alerts", 1, () => new CrashingWriter)
      .option("checkpointLocation", ckpt).start()

    CrashingWriter.sendsLeft.set(Int.MaxValue)
    putJson(in)(batches(0).map { case (h, m) => event(h, m) })
    val q1 = start()
    q1.processAllAvailable()
    // batch 1 crashes its writer after 5 records: the offset log holds the
    // batch, the commit log does not
    CrashingWriter.sendsLeft.set(5)
    putJson(in)(batches(1).map { case (h, m) => event(h, m) })
    intercept[StreamingQueryException](q1.processAllAvailable())
    q1.stop()
    assert(new File(ckpt, "offsets/1").exists() && !new File(ckpt, "commits/1").exists())
    assert(sent.size == expected.filter(_._1.startsWith("h0-")).values.sum + 5)

    CrashingWriter.sendsLeft.set(Int.MaxValue)
    val q2 = start()
    try {
      q2.processAllAvailable()
      putJson(in)(batches(2).map { case (h, m) => event(h, m) })
      q2.processAllAvailable()
    } finally q2.stop()

    val got = sent.asScala.toSeq.groupMapReduce(r => new String(r.key, "UTF-8"))(_ => 1)(_ + _)
    assert(got.keySet == expected.keySet)
    assert(expected.forall { case (h, n) => got(h) >= n }, "a record was lost")
    val extra = got.map { case (h, n) => h -> (n - expected(h)) }.filter(_._2 > 0)
    assert(extra.keys.forall(_.startsWith("h1-")), s"duplicates outside the replayed batch: $extra")
    assert(extra.values.sum == 5) // exactly the records sent before the crash
  }
}

/** Collects into a static queue and fails every send once `sendsLeft`
  * runs out: a producer that crashes part-way through a batch. Executors
  * share the JVM in local mode, so the statics are visible to the test.
  */
class CrashingWriter extends KafkaSink.RecordWriter {
  def send(r: KafkaSink.PreparedRecord): Unit = {
    if (CrashingWriter.sendsLeft.getAndDecrement() <= 0)
      throw new java.io.IOException("producer crashed")
    CrashingWriter.queue.add(r)
  }
}
object CrashingWriter {
  val sendsLeft = new AtomicInteger(Int.MaxValue)
  @volatile var queue: ConcurrentLinkedQueue[KafkaSink.PreparedRecord] = _
}
