package graft.streaming

import graft.pipeline.SnortPipeline
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeSeq, BindReferences, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeAndComment, CodeFormatter, CodeGenerator, CodegenContext, ExpressionCanonicalizer,
  GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{ArrayType, BinaryType, StructField, StructType}
import scala.util.control.NonFatal

/** Kafka producer-side preparation (SURVEY.md A9 + §7.4 hard-part 1).
  *
  * Spark's Kafka sink supports key/value/headers/partition columns but NOT a
  * per-record timestamp; the reference stamps records with true EVENT time
  * (internal/app/app.go:211). The engine therefore prepares fully-resolved
  * producer records and emits them through `foreachBatch` + a pluggable
  * [[RecordWriter]] — in production a thin wrapper over a KafkaProducer
  * constructing ProducerRecord(topic, null, timestampMs, key, value,
  * headers); in tests a collector (no Kafka broker, and no kafka-clients
  * jar, ship with this image).
  *
  * The streaming sink plans the SnortAlert record projection once per
  * query, when [[sinkAlerts]] is called, and generates and compiles its
  * projection source there, on the driver: each micro-batch then runs one
  * RDD job over the decoded batch, with no per-trigger analysis,
  * optimisation, physical planning or typed deserializer, and each task
  * only instantiates the compiled projection, as whole-stage codegen's
  * tasks do. The batch path (`emit(prepareRecords(...))`) plans per call
  * and writes the same records.
  */
object KafkaSink {

  /** One ready-to-produce record: everything a ProducerRecord needs. */
  final case class PreparedRecord(
      topic: String,
      key: Array[Byte],
      value: Array[Byte],
      timestampMs: Long,
      headers: Map[String, String])

  /** Pluggable producer boundary (idempotent-producer semantics — acks=all,
    * retries — live in the implementation's config, as in the reference's
    * internal/kafka_client/producer.go:8-21).
    */
  trait RecordWriter extends Serializable {
    def send(r: PreparedRecord): Unit
    def flushAndClose(): Unit = ()
  }

  implicit val preparedEncoder: Encoder[PreparedRecord] = Encoders.product[PreparedRecord]

  /** The producer-record columns of an envelope, in [[PreparedRecord]]
    * order after the topic: key = event hash (utf8), value =
    * Confluent-framed Avro of the alert struct, timestamp = event time
    * millis, headers = the four routing headers (app.go:182-188).
    */
  private def recordColumns(envelope: DataFrame, schemaId: Int): Seq[Column] = {
    val alertCols = envelope.columns.toSeq.filterNot(Set("kafka_key", "event_time", "headers"))
    Seq(
      col("kafka_key").cast(BinaryType).as("key"),
      AvroCodec.confluentValue(struct(alertCols.map(col): _*), schemaId).as("value"),
      unix_millis(col("event_time")).as("timestampMs"),
      col("headers"))
  }

  /** SnortAlert envelope rows → PreparedRecords. */
  def prepareRecords(envelope: DataFrame, topic: String, schemaId: Int): Dataset[PreparedRecord] =
    envelope.select(lit(topic).as("topic") +: recordColumns(envelope, schemaId): _*).as[PreparedRecord]

  /** Batch/stream-agnostic emit: per partition, one writer, drain, close —
    * the at-least-once contract is the checkpoint's (SURVEY.md A10).
    */
  def emit(records: Dataset[PreparedRecord], writerFactory: () => RecordWriter): Unit =
    records.foreachPartition { (it: Iterator[PreparedRecord]) =>
      val w = writerFactory()
      try it.foreach(w.send)
      finally w.flushAndClose()
    }

  /** Full reference pipeline as a streaming sink: SensorEvents → alerts →
    * envelope → prepared records → writer, via foreachBatch. The events
    * are read under the declared SensorEvent schema in the stream, and
    * the record projection is planned here, once; each micro-batch is one
    * job over the batch's rows, the job `RDD.foreachPartition` would run.
    * Its function is a plain class, not a closure, so Spark's closure
    * cleaner does not re-read a class file every batch. Spark session settings
    * that analysis fixes in the plan (ANSI mode), and the one the
    * projection's code generation reads
    * (`spark.sql.subexpressionElimination.enabled`), are those in force when
    * `sinkAlerts` is called; a projection that does not compile fails the
    * call, naming its stage. The session time zone shapes no record: the
    * ISO-8601 metadata fields and the event time are UTC, as the
    * reference's are.
    */
  def sinkAlerts(
      sensorEvents: DataFrame,
      topic: String,
      schemaId: Int,
      writerFactory: () => RecordWriter): DataStreamWriter[Row] = {
    val events = SnortPipeline.declared(sensorEvents)
    val send = AlertRecords.plan(events, topic, schemaId, writerFactory)
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val rows = batch.queryExecution.toRdd
      rows.sparkContext.runJob(rows, send)
      ()
    }
  }

  /** The SnortAlert record projection of one event row per metric,
    * generated and compiled once: `stages` are the optimised plan's chain
    * of projections, each as the source of its `UnsafeProjection` class
    * and the objects that source references, the first reading the event
    * row joined with its metric `m`.
    */
  private[streaming] final class AlertRecords(
      stages: Seq[(CodeAndComment, Array[Any])],
      metricsOrdinal: Int,
      metricFields: Int,
      topic: String,
      writerFactory: () => RecordWriter) extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {

    /** Explode, project and send one partition's event rows, as
      * `emit(prepareRecords(withEnvelope(alerts(events))))` does: a null
      * or empty metrics array yields no record, as `explode` does. Each
      * stage's class comes from the compile cache; its references are this
      * task's own deserialised copy, as they hold mutable builders.
      */
    def apply(task: TaskContext, events: Iterator[InternalRow]): Unit = {
      val projections = stages.map { case (code, references) =>
        val p = CodeGenerator.compile(code)._1.generate(references).asInstanceOf[UnsafeProjection]
        p.initialize(task.partitionId())
        p
      }
      val metric = new GenericInternalRow(1)
      val joined = new JoinedRow(null, metric)
      val w = writerFactory()
      try events.foreach { event =>
        if (!event.isNullAt(metricsOrdinal)) {
          val metrics = event.getArray(metricsOrdinal)
          joined.withLeft(event)
          var i = 0
          while (i < metrics.numElements()) {
            metric.update(0, metrics.getStruct(i, metricFields))
            var r: InternalRow = joined
            projections.foreach(p => r = p(r))
            w.send(record(r))
            i += 1
          }
        }
      }
      finally w.flushAndClose()
    }

    /** The projected (key, value, timestampMs, headers) row as a record. */
    private def record(r: InternalRow): PreparedRecord = {
      val h = r.getMap(3)
      val headers = Map.newBuilder[String, String]
      var i = 0
      while (i < h.numElements()) {
        headers += h.keyArray().getUTF8String(i).toString -> h.valueArray().getUTF8String(i).toString
        i += 1
      }
      PreparedRecord(topic, r.getBinary(0), r.getBinary(1), r.getLong(2), headers.result())
    }
  }

  private[streaming] object AlertRecords {

    /** Plan the record projection ([[recordPlan]]); fail by name unless
      * the optimised plan is a chain of projections over its placeholder
      * relation, or if a stage's code does not compile.
      *
      * The chain is two projections, the envelope's 56 expressions under
      * the record's 4: `CollapseProject` inlines a producer only where it
      * is read once or is cheap (an attribute, literal, alias or field
      * access, or a struct read by at most one non-field access), and the
      * record columns read `priority_str`, the CASE WHEN of
      * `Scalars.priorityLabel`, twice (in the Avro value and in the
      * `priorityStr` header). One collapsed projection (planned with
      * `spark.sql.optimizer.collapseProjectAlwaysInline`) was not
      * measurably faster on the alert ETL.
      */
    def plan(events: DataFrame, topic: String, schemaId: Int, writerFactory: () => RecordWriter): AlertRecords = {
      val metricsOrdinal = events.schema.fieldIndex("metrics")
      val metricType = events.schema(metricsOrdinal).dataType.asInstanceOf[ArrayType].elementType
        .asInstanceOf[StructType]
      val (input, optimized) = recordPlan(events, schemaId)
      def stages(p: LogicalPlan): List[Seq[Expression]] = p match {
        case Project(list, child) => stages(child) :+ BindReferences.bindReferences(list, AttributeSeq(child.output))
        case leaf if leaf.children.isEmpty && leaf.output == input => Nil
        case other => throw new IllegalStateException(
          s"sinkAlerts: the SnortAlert record plan is not a chain of projections over the event row " +
            s"(found ${other.nodeName}):\n${optimized.treeString}")
      }
      val subexpressionElimination = events.sparkSession.conf.get(SQLConf.SUBEXPRESSION_ELIMINATION_ENABLED.key).toBoolean
      val bound = stages(optimized)
      val generated = bound.zipWithIndex.map { case (exprs, i) =>
        try generate(exprs, subexpressionElimination)
        catch {
          case NonFatal(e) => throw new IllegalStateException(
            s"sinkAlerts: SnortAlert record projection stage ${i + 1} of ${bound.size} " +
              s"(${exprs.size} expressions) does not compile", e)
        }
      }
      new AlertRecords(generated, metricsOrdinal, metricType.length, topic, writerFactory)
    }

    /** The optimised plan of [[recordColumns]] of `withEnvelope` of the
      * alert projection over a placeholder relation of the declared event
      * columns plus `m`, the metric element type, and that relation's
      * output.
      */
    private[streaming] def recordPlan(events: DataFrame, schemaId: Int): (Seq[Attribute], LogicalPlan) = {
      val metrics = events.schema("metrics").dataType.asInstanceOf[ArrayType]
      val spark = events.sparkSession
      val rows = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(events.schema.fields :+ StructField("m", metrics.elementType, metrics.containsNull)))
      val envelope = SnortPipeline.withEnvelope(rows.select(SnortPipeline.alertColumns: _*))
      (rows.queryExecution.analyzed.output,
        envelope.select(recordColumns(envelope, schemaId): _*).queryExecution.optimizedPlan)
    }

    /** The source of `exprs`' `UnsafeProjection` class, the class
      * `GenerateUnsafeProjection.generate` writes, compiled here so a
      * task's compile is a cache hit, and the objects it references.
      */
    private def generate(exprs: Seq[Expression], subexpressionElimination: Boolean): (CodeAndComment, Array[Any]) = {
      val ctx = new CodegenContext
      val eval = GenerateUnsafeProjection.createCode(
        ctx, exprs.map(ExpressionCanonicalizer.execute), subexpressionElimination)
      val body =
        s"""
           |public java.lang.Object generate(Object[] references) {
           |  return new SpecificUnsafeProjection(references);
           |}
           |class SpecificUnsafeProjection extends ${classOf[UnsafeProjection].getName} {
           |  private Object[] references;
           |  ${ctx.declareMutableStates()}
           |  public SpecificUnsafeProjection(Object[] references) {
           |    this.references = references;
           |    ${ctx.initMutableStates()}
           |  }
           |  public void initialize(int partitionIndex) {
           |    ${ctx.initPartition()}
           |  }
           |  public java.lang.Object apply(java.lang.Object row) {
           |    return apply((InternalRow) row);
           |  }
           |  public UnsafeRow apply(InternalRow ${ctx.INPUT_ROW}) {
           |    ${eval.code}
           |    return ${eval.value};
           |  }
           |  ${ctx.declareAddedFunctions()}
           |}""".stripMargin
      val code = CodeFormatter.stripOverlappingComments(new CodeAndComment(body, ctx.getPlaceHolderToComments()))
      CodeGenerator.compile(code)
      (code, ctx.references.toArray)
    }
  }
}
