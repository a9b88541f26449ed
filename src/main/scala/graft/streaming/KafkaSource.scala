package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kafka ingest wiring (reference A1/A2: consumer loop + registry-framed
  * protobuf deserialize, internal/app/app.go:125-181).
  *
  * The plan construction is complete engine code; executing it requires the
  * spark-sql-kafka-0-10 connector jar on the cluster classpath (standard in
  * any Spark+Kafka deployment; absent from this test image, so runtime
  * coverage lives in ProtobufWireSpec/StreamDemo via the same decode path
  * fed from non-Kafka sources).
  */
object KafkaSource {

  /** readStream plan: topic → framed bytes → decoded SensorEvent columns. Offsets/consumer-group semantics: checkpointing
    * supplies the reference's manual-commit at-least-once contract
    * (SURVEY.md A10) — `startingOffsets=earliest` mirrors
    * `auto.offset.reset=earliest`.
    */
  def sensorEvents(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      maxOffsetsPerTrigger: Option[Long] = None,
      malformed: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
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
    // Bad frames / poison messages are counted, not fatal (reference
    // failed-event accounting, app.go:85-97). Pass your own accumulator to
    // observe the count programmatically — creating one per call would pile
    // up duplicate same-named accumulators on the driver and leave callers
    // without the handle.
    ProtobufWire.decodeFramed(
      framed.select(col("value")), "value",
      malformed.orElse(Some(ProtobufWire.malformedCounter(spark))))
  }
}

/** Interval throughput/latency stats (reference A12: PrintStats ticker,
  * internal/app/app.go:75-123) — expressed as a StreamingQueryListener over
  * QueryProgressEvent, which already carries rows/sec and batch duration;
  * no user-space accumulation needed.
  */
class StatsListener(keepLast: Int = 1024)
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  /** Bounded ring of recent (rows, rows/s, batchMs) — the reference keeps
    * only interval counters, so an unbounded buffer would be a driver-heap
    * leak on week-long streams.
    */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Long)]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    progress.add((p.numInputRows, p.inputRowsPerSecond, p.batchDuration))
    while (progress.size > keepLast) progress.poll()
    if (p.numInputRows > 0)
      println(f"[stats] batch=${p.batchId} rows=${p.numInputRows} " +
        f"rows/s=${p.inputRowsPerSecond}%.1f batchMs=${p.batchDuration}")
  }
}
