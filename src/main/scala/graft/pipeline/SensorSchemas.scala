package graft.pipeline

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

/** Explicit input schemas mirroring the reference's protobuf contract
  * (protos/sensor_event.proto:8-73). proto3 `optional` → nullable column;
  * plain scalar fields are non-null.
  *
  * DataFrame-first with explicit StructTypes (SURVEY.md §1.3): Catalyst can
  * prune and push down against a declared schema, and a 38-field struct is
  * friendlier as Rows than as a case class at the engine rim.
  */
object SensorSchemas {

  /** One packet-level metric record (protos/sensor_event.proto:8-47). */
  val metricSchema: StructType = StructType(Seq(
    StructField("snort_timestamp", StringType, nullable = false),
    StructField("snort_base64_data", StringType),
    StructField("snort_client_bytes", LongType),
    StructField("snort_client_pkts", LongType),
    StructField("snort_dst_address", StringType),
    StructField("snort_dst_port", LongType),
    StructField("snort_dst_ap", StringType),
    StructField("snort_eth_dst", StringType),
    StructField("snort_eth_src", StringType),
    StructField("snort_eth_type", StringType),
    StructField("snort_eth_len", LongType),
    StructField("snort_flowstart_time", LongType),
    StructField("snort_geneve_vni", LongType),
    StructField("snort_icmp_code", LongType),
    StructField("snort_icmp_id", LongType),
    StructField("snort_icmp_seq", LongType),
    StructField("snort_icmp_type", LongType),
    StructField("snort_ip_id", LongType),
    StructField("snort_ip_length", LongType),
    StructField("snort_mpls", LongType),
    StructField("snort_pkt_gen", StringType),
    StructField("snort_pkt_length", LongType),
    StructField("snort_pkt_number", LongType),
    StructField("snort_server_bytes", LongType),
    StructField("snort_server_pkts", LongType),
    StructField("snort_sgt", LongType),
    StructField("snort_src_address", StringType),
    StructField("snort_src_port", LongType),
    StructField("snort_src_ap", StringType),
    StructField("snort_target", StringType),
    StructField("snort_tcp_ack", LongType),
    StructField("snort_tcp_flags", StringType),
    StructField("snort_tcp_len", LongType),
    StructField("snort_tcp_seq", LongType),
    StructField("snort_tcp_win", LongType),
    StructField("snort_time_to_live", LongType),
    StructField("snort_udp_length", LongType),
    StructField("snort_vlan", LongType)))

  /** One event batch (protos/sensor_event.proto:49-73): event-level scalars
    * plus the repeated metrics array.
    */
  val sensorEventSchema: StructType = StructType(Seq(
    StructField("metrics", ArrayType(metricSchema, containsNull = false), nullable = true),
    StructField("event_hash_sha256", StringType, nullable = false),
    StructField("event_metrics_count", LongType, nullable = false),
    StructField("event_seconds", LongType, nullable = false),
    StructField("sensor_id", StringType, nullable = false),
    StructField("sensor_version", StringType, nullable = false),
    StructField("event_read_at", LongType, nullable = false),
    StructField("event_sent_at", LongType, nullable = false),
    StructField("event_received_at", LongType, nullable = false),
    StructField("snort_action", StringType),
    StructField("snort_classification", StringType),
    StructField("snort_direction", StringType),
    StructField("snort_interface", StringType, nullable = false),
    StructField("snort_message", StringType, nullable = false),
    StructField("snort_priority", LongType, nullable = false),
    StructField("snort_protocol", StringType, nullable = false),
    StructField("snort_rule_gid", LongType, nullable = false),
    StructField("snort_rule_rev", LongType, nullable = false),
    StructField("snort_rule_sid", LongType, nullable = false),
    StructField("snort_rule", StringType, nullable = false),
    StructField("snort_seconds", LongType, nullable = false),
    StructField("snort_service", StringType),
    StructField("snort_type_of_service", LongType)))

  /** The proto3 default of a declared field: null for an `optional` one,
    * else "" or 0. The decoder reads an absent field as this, and
    * `SnortPipeline.alerts` reads a null in a non-optional field as it.
    */
  def proto3Default(f: StructField): Literal =
    if (f.nullable) Literal(null, f.dataType) else Literal.default(f.dataType)
}
