package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kafka ingest wiring (reference A1/A2: consumer loop + registry-framed
  * protobuf deserialize, internal/app/app.go:125-181).
  *
  * Executing it requires the spark-sql-kafka-0-10 connector jar on the
  * classpath (standard in any Spark+Kafka deployment). The Spark jars this
  * project builds and tests against carry no such connector, so no spec,
  * demo or benchmark runs [[sensorEvents]]. Unverified, therefore: the
  * Kafka source options (`kafka.bootstrap.servers`, `subscribe`),
  * `startingOffsets=earliest` and the `maxOffsetsPerTrigger` rate limit.
  * Verified through the same `ProtobufWire.decodeFramed` kernel fed from
  * non-Kafka sources: the framed-bytes decode, its malformed-record
  * accounting and the hostile-input corpus (ProtobufWireSpec), and the
  * decode of framed events with redeliveries and poison records inside a
  * running stream (alertbench's etl and alert_windows workloads, which
  * feed it from a MemoryStream).
  */
object KafkaSource {

  /** readStream plan: topic → framed bytes → decoded SensorEvent columns. Offsets/consumer-group semantics: checkpointing
    * supplies the reference's manual-commit at-least-once contract
    * (SURVEY.md A10) — `startingOffsets=earliest` mirrors
    * `auto.offset.reset=earliest`. `malformed` counts the poison records
    * the decode drops; register it once per query
    * (`ProtobufWire.malformedCounter`) and read it on the driver.
    */
  def sensorEvents(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      malformed: org.apache.spark.util.LongAccumulator,
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val reader = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
    val withRate = maxOffsetsPerTrigger.fold(reader)(n =>
      reader.option("maxOffsetsPerTrigger", n.toString))
    val framed = withRate.load()
    // Full Confluent-protobuf unframing (magic + schema id + zigzag-varint
    // message-indexes block) happens inside the decode kernel — the indexes
    // block is variable-length, so a static substring would corrupt every
    // record whose producer wrote more than the single-0x00 shorthand.
    // Bad frames / poison messages are counted on the caller's
    // `malformed` accumulator, not fatal (reference failed-event
    // accounting, app.go:85-97).
    ProtobufWire.decodeFramed(framed.select(col("value")), "value", Some(malformed))
  }
}

/** Interval throughput/latency stats (reference A12: PrintStats ticker,
  * internal/app/app.go:75-123) — expressed as a StreamingQueryListener over
  * QueryProgressEvent, which already carries rows/sec and batch duration;
  * no user-space accumulation needed. Each batch with input prints one
  * line that also splits the trigger into its phases and the checkpoint
  * cost: the offset-log write (`walCommit`), planning, `addBatch`, the
  * commit-log write (`commitOffsets`) and the state stores' commit time
  * summed over the stateful operators.
  */
class StatsListener(keepLast: Int = 1024)
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  import StatsListener.BatchStats

  /** Bounded ring of recent batches — the reference keeps only interval
    * counters, so an unbounded buffer would be a driver-heap leak on
    * week-long streams.
    */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchStats]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val s = BatchStats(event.progress)
    progress.add(s)
    while (progress.size > keepLast) progress.poll()
    if (s.rows > 0) println(s.line)
  }
}

object StatsListener {

  /** One batch's throughput and phase durations (ms); a phase the batch
    * did not run reads 0.
    */
  final case class BatchStats(batchId: Long, rows: Long, rowsPerSecond: Double, batchMs: Long,
      walCommitMs: Long, planningMs: Long, addBatchMs: Long, commitOffsetsMs: Long,
      stateCommitMs: Long) {
    def line: String =
      f"[stats] batch=$batchId rows=$rows rows/s=$rowsPerSecond%.1f batchMs=$batchMs " +
        s"walCommitMs=$walCommitMs planningMs=$planningMs addBatchMs=$addBatchMs " +
        s"commitOffsetsMs=$commitOffsetsMs stateCommitMs=$stateCommitMs"
  }

  object BatchStats {
    def apply(p: org.apache.spark.sql.streaming.StreamingQueryProgress): BatchStats = {
      def phase(name: String): Long = p.durationMs.getOrDefault(name, 0L)
      BatchStats(p.batchId, p.numInputRows, p.inputRowsPerSecond, p.batchDuration,
        phase("walCommit"), phase("queryPlanning"), phase("addBatch"), phase("commitOffsets"),
        p.stateOperators.map(_.commitTimeMs).sum)
    }
  }
}
