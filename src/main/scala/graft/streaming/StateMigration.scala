package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Offline state dump for the buffered-exact checkpoint migration (r14
  * verdict task 2).
  *
  * The r14 continuation changed the buffered-exact trio's buffer state
  * variable from `ValueState[Seq[event]]` to `ListState[event]` — a
  * state-layout break Spark rejects at restart with the named
  * `STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE` error (fail-fast, pinned by
  * the migration test in BufferedExactStreamSpec). Fail-fast is correct,
  * but a user holding a pre-change checkpoint needs a road FORWARD; this
  * is its read half:
  *
  * {{{
  * // 1. dump the old checkpoint offline (no streaming restart needed)
  * val snap = StateMigration.readOldBufferedExact[(Long, Long, Long)](spark, oldCkpt)
  * // 2. bootstrap a FRESH checkpoint through the *From entry point
  * StatefulOps.patternMatchCountsExactFrom(source.withWatermark("ts", delay), snap)
  *   .writeStream.option("checkpointLocation", newCkpt)...
  * // 3. resume the source from the old checkpoint's committed offsets
  * }}}
  *
  * Built on Spark's `statestore` batch reader (the same capability
  * StateReaderSpec audits): each state VARIABLE of a transformWithState
  * operator reads back as a DataFrame keyed by the grouping key, one task
  * per state partition — the dump scales like any parquet-ish scan, never
  * through the driver. The reader needs the old layout's schemas only,
  * so it keeps working precisely when the new operator does not.
  *
  * Fresh-session caveat (r16): in a session that has never started a
  * streaming query, the RocksDB load inside the statestore reader fails
  * with `CANNOT_LOAD_STATE_STORE` (root cause
  * `RpcEndpointNotFoundException: ...StateStoreCoordinator`) because
  * snapshot-upload-lag reporting asks for a coordinator endpoint only
  * streaming queries create. Offline-dump sessions must set
  * `spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag=false`
  * — [[graft.tools.StateMigrationDump]] does; pinned by
  * MigrationFixtureSpec against the committed golden checkpoints.
  *
  * Scale note: the dump→bootstrap round trip is shuffle-shaped, not
  * collect-shaped — `readOldBufferedExact` returns a distributed Dataset
  * that `transformWithState(..., initialState)` co-partitions with the
  * stream by key. A 1000-executor migration moves each key's buffer
  * exactly once.
  */
object StateMigration {

  /** Read a pre-change buffered-exact checkpoint's state — the
    * `buffer: ValueState[Seq[(tsMs, eventId, type, cents)]]` plus (when
    * the operator had settled anything) `folded: ValueState[S]` — into
    * one [[StatefulOps.BufferedSnapshot]] row per key. Keys with only a
    * buffer get `folded = None`; keys whose buffer had drained but whose
    * fold result lives on get an empty buffer. The armed-timer cache and
    * the timer registry are NOT dumped: both are derived state the
    * bootstrap's `handleInitialState` rebuilds from the snapshot.
    *
    * `S` is the operator's fold-state type: `(Long, Long, Long)` for the
    * CEP and CUSUM processors, `(Long, Long, String)` for attribution.
    */
  def readOldBufferedExact[S](spark: SparkSession, checkpoint: String)(
      implicit enc: Encoder[StatefulOps.BufferedSnapshot[S]])
      : Dataset[StatefulOps.BufferedSnapshot[S]] =
    // tuple-typed S: the statestore reader lays the folded tuple out as
    // value._1.._n, which struct(value.*) re-assembles into Option[S]'s
    // struct encoding
    readOldBuffered[S](spark, checkpoint, struct(col("value.*")))

  /** The session-shaped twin of [[readOldBufferedExact]] (r15 verdict
    * task 1): row 22's fold state is the open-fragment list
    * `Seq[(start, last, n, cents)]`, which the old layout's
    * `folded: ValueState[Seq[Frag]]` encoder lays out as ONE array column
    * named `value` — so the folded projection is `value.value`, not
    * `struct(value.*)` (a sequence is not a struct of its elements).
    * Everything else — the full-outer join, the drained-key empty-buffer
    * coalesce, the distributed shape — is shared.
    */
  def readOldBufferedSession(spark: SparkSession, checkpoint: String)
      : Dataset[StatefulOps.BufferedSnapshot[Seq[(Long, Long, Long, Long)]]] = {
    implicit val enc: Encoder[StatefulOps.BufferedSnapshot[Seq[(Long, Long, Long, Long)]]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[StatefulOps.BufferedSnapshot[Seq[(Long, Long, Long, Long)]]]()
    readOldBuffered(spark, checkpoint, col("value.value"))
  }

  // ==== CURRENT-layout dump (r16): insurance against the NEXT break ====
  //
  // readOldBuffered* rescues pre-r14 (ValueState-buffer) checkpoints;
  // these twins dump the SHIPPED layout (buffer as ListState — the
  // statestore reader presents it as one row per list ELEMENT in a
  // `list_element` struct, re-aggregated per key here). They exist so
  // that when a future state-layout change breaks restart compatibility
  // again, users holding today's checkpoints already have a working
  // dump→bootstrap road instead of waiting for a reader to be written
  // against a layout the new build can no longer open. BufferedSnapshot
  // is layout-independent, so the bootstrap half (`*From` entry points)
  // is shared unchanged.

  /** Dump a CURRENT-layout (ListState-buffer) buffered-exact checkpoint
    * for the trio's tuple-typed fold states. The buffer is re-assembled
    * per key in canonical (tsMs, eventId) order — order inside the
    * snapshot is semantically irrelevant (the settle fold sorts), sorted
    * here so dumps are deterministic and diffable.
    */
  def readCurrentBufferedExact[S](spark: SparkSession, checkpoint: String)(
      implicit enc: Encoder[StatefulOps.BufferedSnapshot[S]])
      : Dataset[StatefulOps.BufferedSnapshot[S]] =
    readBuffered[S](spark, checkpoint, currentBuffer(spark, checkpoint),
      struct(col("value.*")))

  /** CURRENT-layout twin of [[readOldBufferedSession]]. */
  def readCurrentBufferedSession(spark: SparkSession, checkpoint: String)
      : Dataset[StatefulOps.BufferedSnapshot[Seq[(Long, Long, Long, Long)]]] = {
    implicit val enc: Encoder[StatefulOps.BufferedSnapshot[Seq[(Long, Long, Long, Long)]]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[StatefulOps.BufferedSnapshot[Seq[(Long, Long, Long, Long)]]]()
    readBuffered(spark, checkpoint, currentBuffer(spark, checkpoint),
      col("value.value"))
  }

  /** The ListState buffer, one row per key: `list_element` rows grouped
    * and sorted into the snapshot's buffer array. The groupBy is by the
    * state key; measured (r16 verdict task 4, `graft.tools
    * .MigrationDumpProbe`), its exchange carries only O(keys) RECORDS —
    * each key's list elements live in one state partition, so the partial
    * `collect_list` collapses them to one record per key before the
    * shuffle — and O(buffered events) BYTES riding inside those records
    * (10k keys × 400 events = 4M buffered events: 10k records, ~54 MB,
    * dump wall 2.5 s vs 1.3 s at 1/100th the events; the old ValueState
    * layout measures the same because its rows already hold whole lists).
    */
  private def currentBuffer(spark: SparkSession, checkpoint: String): DataFrame =
    readVar(spark, checkpoint, "buffer")
      .groupBy(col("key.value").as("userId"))
      .agg(sort_array(collect_list(col("list_element"))).as("buffer"))

  /** The pre-r14 ValueState buffer, already one row per key. */
  private def oldBuffer(spark: SparkSession, checkpoint: String): DataFrame =
    readVar(spark, checkpoint, "buffer")
      .select(col("key.value").as("userId"), col("value.value").as("buffer"))

  private def readOldBuffered[S](spark: SparkSession, checkpoint: String,
      foldedCol: org.apache.spark.sql.Column)(
      implicit enc: Encoder[StatefulOps.BufferedSnapshot[S]])
      : Dataset[StatefulOps.BufferedSnapshot[S]] =
    readBuffered[S](spark, checkpoint, oldBuffer(spark, checkpoint), foldedCol)

  /** Shared dump shape: `buffer` joined full-outer with `folded`, the
    * buffer reader supplied per LAYOUT (old ValueState vs current
    * ListState) and the folded projection per fold-state KIND (tuple vs
    * sequence).
    */
  private def readBuffered[S](spark: SparkSession, checkpoint: String,
      buf: DataFrame, foldedCol: org.apache.spark.sql.Column)(
      implicit enc: Encoder[StatefulOps.BufferedSnapshot[S]])
      : Dataset[StatefulOps.BufferedSnapshot[S]] = {
    val folded = readVar(spark, checkpoint, "folded")
      .select(col("key.value").as("userId"), foldedCol.as("folded"))
    val bufferType = buf.schema("buffer").dataType
    buf.join(folded, Seq("userId"), "full_outer")
      .select(col("userId"),
        // a key can exist in only one of the two vars (buffer drained /
        // never settled); BufferedSnapshot.buffer is non-optional, so the
        // missing side reads as an empty buffer
        coalesce(col("buffer"), array().cast(bufferType)).as("buffer"),
        col("folded"))
      .as[StatefulOps.BufferedSnapshot[S]]
  }

  /** One transformWithState state variable of the checkpoint's operator 0,
    * raw (`key`, `value` structs as the statestore reader lays them out).
    */
  private[streaming] def readVar(spark: SparkSession, checkpoint: String,
      name: String): DataFrame =
    spark.read.format("statestore")
      .option("stateVarName", name)
      .load(checkpoint)
}
