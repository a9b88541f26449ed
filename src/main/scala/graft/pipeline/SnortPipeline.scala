package graft.pipeline

import graft.functions.Scalars
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** The reference's whole live data path as one declarative Spark plan
  * (SURVEY.md §3.1, internal/app/app.go:173-225):
  *
  *   SensorEvent --explode metrics--> N rows --project--> SnortAlert
  *
  * Catalyst fuses scan → Generate(Explode) → Project into a single
  * whole-stage-codegen span, which is the Spark-native equivalent of the
  * reference's per-message fused goroutine loop — no RDDs, no UDFs.
  */
object SnortPipeline {

  /** Explode the nested metrics array: one SensorEvent × N metrics → N rows.
    * Reference: internal/app/app.go:192-216. Plain `explode` drops events
    * with empty/null metrics arrays, matching the reference loop which simply
    * produces nothing for them.
    */
  def explodeMetrics(events: DataFrame): DataFrame =
    events.select(col("*"), explode(col("metrics")).as("m")).drop("metrics")

  /** Event+metric → flat SnortAlert projection.
    * Mapping: internal/processor/processor.go:31-93; output field names from
    * the struct's json tags, internal/types/types.go:27-188. Column order
    * follows types.go declaration order.
    */
  val alertColumns: Seq[Column] = Seq(
    struct(
      col("sensor_id").as("sensor_id"),
      col("sensor_version").as("sensor_version"),
      Scalars.isoMicrosTrimmed(col("event_sent_at")).as("sent_at"),
      col("event_hash_sha256").as("hash_sha256"),
      Scalars.isoMicrosTrimmed(col("event_read_at")).as("read_at"),
      Scalars.isoMicrosTrimmed(col("event_received_at")).as("received_at")
    ).as("metadata"),
    col("snort_action").as("action"),
    col("m.snort_base64_data").as("b64_data"),
    col("snort_classification").as("class"),
    col("m.snort_client_bytes").as("client_bytes"),
    col("m.snort_client_pkts").as("client_pkts"),
    col("snort_direction").as("dir"),
    col("m.snort_dst_address").as("dst_addr"),
    col("m.snort_dst_ap").as("dst_ap"),
    col("m.snort_dst_port").as("dst_port"),
    col("m.snort_eth_dst").as("eth_dst"),
    col("m.snort_eth_len").as("eth_len"),
    col("m.snort_eth_src").as("eth_src"),
    col("m.snort_eth_type").as("eth_type"),
    col("m.snort_flowstart_time").as("flowstart_time"),
    col("m.snort_geneve_vni").as("geneve_vni"),
    col("snort_rule_gid").as("gid"),
    col("m.snort_icmp_code").as("icmp_code"),
    col("m.snort_icmp_id").as("icmp_id"),
    col("m.snort_icmp_seq").as("icmp_seq"),
    col("m.snort_icmp_type").as("icmp_type"),
    col("snort_interface").as("iface"),
    col("m.snort_ip_id").as("ip_id"),
    col("m.snort_ip_length").as("ip_len"),
    col("m.snort_mpls").as("mpls"),
    col("snort_message").as("msg"),
    col("m.snort_pkt_gen").as("pkt_gen"),
    col("m.snort_pkt_length").as("pkt_len"),
    col("m.snort_pkt_number").as("pkt_num"),
    col("snort_priority").as("priority"),
    Scalars.priorityLabel(col("snort_priority")).as("priority_str"),
    col("snort_protocol").as("proto"),
    col("snort_rule_rev").as("rev"),
    col("snort_rule").as("rule"),
    col("snort_seconds").as("seconds"),
    col("m.snort_server_bytes").as("server_bytes"),
    col("m.snort_server_pkts").as("server_pkts"),
    col("snort_service").as("service"),
    col("m.snort_sgt").as("sgt"),
    col("snort_rule_sid").as("sid"),
    col("m.snort_src_address").as("src_addr"),
    col("m.snort_src_ap").as("src_ap"),
    col("m.snort_src_port").as("src_port"),
    col("m.snort_target").as("target"),
    col("m.snort_tcp_ack").as("tcp_ack"),
    col("m.snort_tcp_flags").as("tcp_flags"),
    col("m.snort_tcp_len").as("tcp_len"),
    col("m.snort_tcp_seq").as("tcp_seq"),
    col("m.snort_tcp_win").as("tcp_win"),
    col("m.snort_timestamp").as("timestamp"),
    col("snort_type_of_service").as("tos"),
    col("m.snort_time_to_live").as("ttl"),
    col("m.snort_udp_length").as("udp_len"),
    col("m.snort_vlan").as("vlan"))

  /** Full pipeline: SensorEvent batch → flat SnortAlert records. The
    * events are read under the declared SensorEvent schema first, so the
    * SnortAlert type, and with it the sink's Avro layout, is one whatever
    * frame carried them.
    */
  def alerts(events: DataFrame): DataFrame =
    explodeMetrics(declared(events)).select(alertColumns: _*)

  /** `events` under [[SensorSchemas.sensorEventSchema]] by proto3 rules (a
    * `from_json` frame, say, is nullable throughout): an `optional` field
    * is nullable, a null in any other field reads as its proto3 default
    * ("" or 0, what the decoder emits for an absent field), and a null
    * metrics element is dropped, as the wire cannot carry one. Only
    * nullability is read: a column of another type fails here, by name.
    * Input already under the declared schema passes through unchanged.
    */
  private[graft] def declared(events: DataFrame): DataFrame = {
    val reads = SensorSchemas.sensorEventSchema.fields.flatMap { want =>
      val have = events.schema(want.name)
      if (have.dataType == want.dataType && have.nullable == want.nullable) None
      else Some(want.name -> proto3Read(col(want.name), have, want))
    }
    if (reads.isEmpty) events else events.withColumns(reads.toMap)
  }

  private def proto3Read(c: Column, have: StructField, want: StructField): Column = {
    val read = (have.dataType, want.dataType) match {
      case (ArrayType(h: StructType, _), ArrayType(w: StructType, _)) =>
        transform(filter(c, _.isNotNull), m =>
          struct(w.fields.map(f => proto3Read(m(f.name), h(f.name), f).as(f.name)).toSeq: _*))
      case (h, w) if h == w => c
      case (h, w) => throw new IllegalArgumentException(
        s"SensorEvent column '${want.name}' is ${h.sql}, declared ${w.sql}")
    }
    if (want.nullable) ColumnBridge.column(KnownNullable(ColumnBridge.expression(read)))
    else coalesce(read, ColumnBridge.column(SensorSchemas.proto3Default(want)))
  }

  /** Kafka producer envelope (internal/app/app.go:182-215): record key,
    * the four routing headers, and the true event-time record timestamp
    * (Snort timestamp parse with seconds fallback, app.go:195-198).
    *
    * Null-safety divergence (documented, SURVEY.md A11): the reference
    * dereferences a nil classification and crashes; we coalesce to "".
    */
  def withEnvelope(alerts: DataFrame): DataFrame =
    alerts
      .withColumn("kafka_key", col("metadata.hash_sha256"))
      .withColumn("event_time",
        Scalars.eventTimeWithFallback(col("timestamp"), col("seconds")))
      .withColumn("headers", map(
        lit("hash_sha256"), col("metadata.hash_sha256"),
        lit("sensor_id"), col("metadata.sensor_id"),
        lit("priorityStr"), col("priority_str"),
        lit("classification"), coalesce(col("class"), lit(""))))
}
