package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operator surface (SURVEY.md §2C streaming row):
  * watermarked tumbling and session windows, streaming dedup, keyed state
  * accumulators, stream-stream joins and stream-static enrichment (B3
  * ip-lookup shape: dedup the key set, broadcast-join back).
  *
  * Event time is declared once, by the caller, with Spark's own
  * `withWatermark`; the operators here run on that watermarked input and
  * neither take nor stamp a watermark, so they chain: the reference's
  * AlertSummary intent (protos/sensor_event.proto:75-77 + B1 bucketing)
  * is `tumblingCounts(streamingDedup(...), ...)`. [[streamingDedup]] is
  * the one exception — it heads every at-least-once chain and declares
  * the watermark itself. An operator whose state Spark would let grow
  * without a watermark fails at plan build with a named error instead.
  * Keys are the shuffle partitioning, so state scales horizontally with
  * executors.
  */
object StreamOps {

  /** The watermark delay (ms) that `withWatermark` declared on `tsCol`,
    * read from the metadata Spark stamps on the event-time column. A
    * streaming input without one fails here, naming the operator: Spark
    * would accept it and keep the operator's state forever.
    */
  private[streaming] def requireWatermark(df: Dataset[_], tsCol: String, op: String): Long = {
    val md = df.schema(tsCol).metadata
    if (md.contains(EventTimeWatermark.delayKey)) md.getLong(EventTimeWatermark.delayKey)
    else if (!df.isStreaming) 0L
    else throw new IllegalArgumentException(
      s"$op: column '$tsCol' carries no event-time watermark; declare it upstream with " +
        s"withWatermark(\"$tsCol\", <delay>), or the operator's state is never evicted")
  }

  /** Tumbling-window counts with late-data drop. */
  def tumblingCounts(events: DataFrame, tsCol: String, width: String, keyCols: String*): DataFrame = {
    requireWatermark(events, tsCol, "tumblingCounts")
    val keyed = keyCols.map(col)
    events
      .groupBy(window(col(tsCol), width) +: keyed: _*)
      .agg(count(lit(1)).as("n"))
      .select(
        (Seq(col("window.start").as("window_start"), col("window.end").as("window_end")) ++
          keyed :+ col("n")): _*)
  }

  /** Session windows: rows gapped less than `gap` merge into one session. */
  def sessionCounts(events: DataFrame, tsCol: String, gap: String, keyCols: String*): DataFrame = {
    requireWatermark(events, tsCol, "sessionCounts")
    val keyed = keyCols.map(col)
    events
      .groupBy(session_window(col(tsCol), gap) +: keyed: _*)
      .agg(count(lit(1)).as("n"))
      .select(
        (Seq(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end")) ++ keyed :+ col("n")): _*)
  }

  /** Streaming dedup on a key (the at-least-once → exactly-once repair the
    * reference enables via its sha256 record key, SURVEY.md A10): state is
    * dropped once the watermark passes.
    */
  def streamingDedup(events: DataFrame, tsCol: String, watermark: String, keys: String*): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  /** Streaming snapshot-delta dedup — q_dedup_incremental's incremental
    * twin, the 100 TB continuous-ingestion shape: new documents stream in,
    * the EXISTING corpus's content digests sit in a static relation, and a
    * row survives only if its digest (md5 of the text, the same digest the
    * batch query uses) appears neither in the corpus nor earlier in the
    * stream itself. Order matters for state: the stream-static LEFT ANTI
    * join runs first (a stateless per-batch filter — corpus hits never
    * enter the dedup store), then `dropDuplicatesWithinWatermark` holds
    * one digest per UNSEEN document only, evicted once the watermark
    * passes. At 100 TB the static side is a digest-only projection the
    * optimizer broadcasts (or, beyond broadcast, a bloom-prefiltered
    * shuffle join per micro-batch — the same two-phase discipline as the
    * batch query's scaladoc).
    */
  def incrementalDedup(stream: DataFrame, corpusHashes: DataFrame, textCol: String): DataFrame =
    stream
      .withColumn("h", md5(col(textCol).cast("binary")))
      .join(corpusHashes, Seq("h"), "left_anti")
      .dropDuplicatesWithinWatermark("h")

  /** One CDC change record: `op` is "U" (upsert) or "D" (delete tombstone);
    * (tsUs, eventId) is the total version order. */
  final case class CdcChange(
    key: Long, tsUs: Long, eventId: Long, op: String, typ: String, cents: Long)
  /** Internal accumulator: the winning version per key. Public (not
    * `private`) because the state ENCODER's generated code instantiates it
    * reflectively — a private case class fails Janino compilation at
    * runtime ("no applicable constructor"). */
  final case class CdcState(
    tsUs: Long, eventId: Long, op: String, typ: String, cents: Long)
  /** Current snapshot row for a key; `deleted` = the latest change is a
    * tombstone (downstream drops the key, mirroring the batch filter). */
  final case class CdcSnapshotRow(
    key: Long, lastType: String, lastCents: Long, lastTsUs: Long, deleted: Boolean)

  /** Streaming twin of the batch changelog compaction (q_win_cdc_apply):
    * latest-wins-per-key materialization as an INCREMENTAL
    * `mapGroupsWithState` accumulator — each trigger emits the key's
    * current snapshot row instead of recomputing a window over history.
    * State per key is one fixed-size record (the winning version), so the
    * store is bounded by live keys, not changes seen; the keyed shuffle is
    * the same single exchange the batch plan pays. Out-of-order delivery is
    * absorbed by the version compare: a stale change (smaller
    * (tsUs, eventId)) never overwrites a newer state, so arrival order
    * cannot change the snapshot — the property CdcStreamSpec pins by
    * replaying the same changes in shuffled batch splits.
    */
  def cdcSnapshot(changes: Dataset[CdcChange]): Dataset[CdcSnapshotRow] = {
    import changes.sparkSession.implicits._
    val ord = Ordering[(Long, Long)]
    changes
      .groupByKey(_.key)
      .mapGroupsWithState[CdcState, CdcSnapshotRow](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[CdcChange], state: GroupState[CdcState]) =>
          val best = rows.foldLeft(state.getOption) { (acc, r) =>
            val cand = CdcState(r.tsUs, r.eventId, r.op, r.typ, r.cents)
            acc match {
              case Some(b) if ord.gteq((b.tsUs, b.eventId), (cand.tsUs, cand.eventId)) => acc
              case _ => Some(cand)
            }
          }.get // rows is non-empty for a non-timed-out group
          state.update(best)
          CdcSnapshotRow(key, best.typ, best.cents, best.tsUs, best.op == "D")
      }
  }

  /** Watermarked stream-stream equi-join with an event-time interval bound
    * — the one Structured-Streaming join shape the rest of this file doesn't
    * cover (enrichWithStatic is stream-STATIC). Correlates two live streams
    * (e.g. alert events with their later acknowledgements) where the right
    * row must land within [left.ts, left.ts + maxLag].
    *
    * State discipline at 100 TB: both sides' watermarks plus the time-range
    * predicate are what make the join's buffered state BOUNDED — Spark
    * evicts a buffered row once the other side's watermark passes its
    * join-window end. An equi-key alone would buffer both streams forever.
    * Outer joins additionally REQUIRE the range bound: the null-padded
    * result for an unmatched row can only be emitted once the engine can
    * prove no future match exists. Both sides shuffle on the key — the same
    * partitioning a keyed state store needs, so it scales with executors.
    *
    * Output columns: all left columns, then right columns renamed with
    * `rightPrefix` (callers of a self-shaped join would otherwise collide).
    */
  def streamStreamJoin(
      left: DataFrame,
      leftTs: String,
      right: DataFrame,
      rightTs: String,
      key: String,
      maxLag: String,
      joinType: String = "inner",
      rightPrefix: String = "r_"): DataFrame = {
    requireWatermark(left, leftTs, "streamStreamJoin")
    requireWatermark(right, rightTs, "streamStreamJoin")
    val r = right.columns.foldLeft(right)((df, c) => df.withColumnRenamed(c, rightPrefix + c))
    val cond = left(key) === r(rightPrefix + key) &&
      r(rightPrefix + rightTs) >= left(leftTs) &&
      r(rightPrefix + rightTs) <= left(leftTs) + expr(s"INTERVAL $maxLag")
    left.join(r, cond, joinType)
  }

  /** Stream-static enrichment, B3 shape: the stream side keeps its
    * cardinality; the static dim is broadcast so no stream shuffle happens.
    * (The reference dedups the key set before fan-out to an HTTP service —
    * with a broadcast dim table the dedup is unnecessary; Catalyst routes
    * each row through the broadcast hash table.)
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stream-static POINT-IN-TIME enrichment — the serving-side twin of
    * q_join_point_in_time: each streaming event joins the dimension
    * VERSION valid at its own event time. The dim ships as closed
    * validity INTERVALS (the q_win_scd2 product: valid_from ≤ t <
    * valid_to, intervals partition time per key), so the band predicate
    * matches exactly one version per event and the whole join rides the
    * broadcast hash on the key with the band as a residual filter — no
    * stream shuffle, no per-event aggregate, no state. This is the
    * training-serving-skew guard ON the serving path: the same versioned
    * dim the batch PIT join trains against, consulted with the same
    * validity rule at inference time (StreamingPitSpec pins version
    * selection at boundaries and the no-version null path).
    */
  def pointInTimeEnrich(stream: DataFrame, dimVersions: DataFrame,
      key: String, tsCol: String): DataFrame = {
    val cond = stream(key) === dimVersions(key) &&
      stream(tsCol) >= dimVersions("valid_from_us") &&
      stream(tsCol) < dimVersions("valid_to_us")
    stream.join(broadcast(dimVersions), cond, "left").drop(dimVersions(key))
  }

  /** One user event on the attribution stream (ts/ids as plain longs so the
    * lexicographic (tsUs, eventId) order is encoder-cheap). */
  final case class UserEvent(
    userId: Long, tsUs: Long, eventId: Long, eventType: String, cents: Long)

  /** Best-so-far marketing touch for a user: the lexicographically largest
    * (tsUs, eventId) click/view seen. One fixed-size record per live user. */
  final case class TouchState(tsUs: Long, eventId: Long, touchType: String)

  /** A purchase credited to its most recent preceding touch ('none' if the
    * user has no touch on record yet). */
  final case class AttributedPurchase(
    userId: Long, purchaseEventId: Long, tsUs: Long, cents: Long, touchType: String)

  /** Streaming twin of the batch q_events_attribution (StatsQueries): credit
    * each purchase to the user's most recent strictly-preceding click/view,
    * incrementally. Within a trigger the user's rows are sorted by
    * (tsUs, eventId) — the same total order the batch window uses — and
    * scanned once: touches advance the best-so-far state (monotone max, so
    * a late touch older than the recorded one is correctly ignored for
    * FUTURE purchases), purchases emit immediately with the current state.
    * The incremental trade-off vs batch, stated explicitly: a touch
    * arriving AFTER the purchase it should have claimed cannot retro-edit
    * the already-emitted attribution (append mode emits once); when every
    * event of a user lands in arrival order — or in one trigger — the
    * output equals the batch query row for row (AttributionStreamSpec pins
    * both, plus the trigger-split invariance of in-order delivery;
    * PARITY.md row 9).
    *
    * Scale shape: one keyed shuffle (the state-store partitioning), one
    * fixed-size state record per live user, per-trigger sort bounded by the
    * user's rows IN THAT TRIGGER — never history.
    */
  def lastTouchAttribution(events: Dataset[UserEvent]): Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[TouchState, AttributedPurchase](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[TouchState]) =>
          var best = state.getOption
          val out = Vector.newBuilder[AttributedPurchase]
          rows.toVector.sortBy(r => (r.tsUs, r.eventId)).foreach { r =>
            r.eventType match {
              case "purchase" =>
                out += AttributedPurchase(userId, r.eventId, r.tsUs, r.cents,
                  best.map(_.touchType).getOrElse("none"))
              case "click" | "view" =>
                if (best.forall(b =>
                    Ordering[(Long, Long)].gt((r.tsUs, r.eventId), (b.tsUs, b.eventId))))
                  best = Some(TouchState(r.tsUs, r.eventId, r.eventType))
              case _ => ()
            }
          }
          best.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming twin of the batch q_ts_ohlc (StatsQueries): per-key OHLC
    * bars over a tumbling event-time window. Open/close are min_by/max_by
    * over the same composite (ts, eventId) struct order the batch anchor
    * uses — algebraic aggregates that partial-merge across triggers, so a
    * bar's open survives arriving mid-bar rows in any order; ties are
    * impossible by construction (the struct key is unique per row). The
    * watermark bounds state to the live bars per key and makes append-mode
    * emission final — the late row past the watermark is DROPPED, exactly
    * the trade the batch query never has to make (OhlcStreamSpec pins both
    * parity and the drop). Scale shape: one keyed state-store shuffle,
    * fixed-size bar state, no sort, no per-bar buffering of events.
    */
  def ohlcBars(events: DataFrame, tsCol: String, keyCol: String,
      eventIdCol: String, centsCol: String, windowDur: String = "1 day"): DataFrame = {
    requireWatermark(events, tsCol, "ohlcBars")
    val pick = struct(col(tsCol), col(eventIdCol))
    events
      .groupBy(col(keyCol), window(col(tsCol), windowDur).as("w"))
      .agg(
        min_by(col(centsCol), pick).as("open_cents"),
        max(col(centsCol)).as("high_cents"),
        min(col(centsCol)).as("low_cents"),
        max_by(col(centsCol), pick).as("close_cents"),
        count(lit(1)).as("n_trades"),
        sum(col(centsCol)).as("volume_cents"))
      .select(col(keyCol), col("w.start").as("bar_start"),
        col("open_cents"), col("high_cents"), col("low_cents"),
        col("close_cents"), col("n_trades"), col("volume_cents"))
  }

  /** Output-mode helper used by specs: run a streaming Dataset to a named
    * in-memory table and block until all available input is processed.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }
}
