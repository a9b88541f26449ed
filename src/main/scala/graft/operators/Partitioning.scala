package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shuffle-management utilities for the 100 TB deployment shapes
  * (SURVEY.md §4 / builder contract "Partitioning & shuffle"):
  *
  * - `saltedAggregate`: two-phase aggregation for skewed group keys. A hot
  *   key that would pin one reducer is split across `saltBuckets` partial
  *   groups (map-side spread), then the partials combine in a second, tiny
  *   aggregation. Works for any algebraic aggregate (sum/count/min/max).
  *
  * - `saltedJoin`: skew-safe equi-join of a skewed LEFT against a small-ish
  *   RIGHT: left rows get a random-but-deterministic salt, right rows are
  *   replicated across all salts, and the join key becomes (key, salt) —
  *   the hot key's rows spread over `saltBuckets` reducers. (AQE's skew
  *   handling covers sort-merge joins automatically; this is the explicit
  *   form for when the optimizer can't see the skew, e.g. post-UDF keys.)
  *
  * Bucketed tables (`bucketBy` + `saveAsTable`) are the third leg —
  * exercised in PartitioningSpec, where a bucketed-bucketed join plans with
  * NO Exchange on either side.
  */
object Partitioning {

  /** Deterministic salt in [0, buckets) from arbitrary tiebreak columns. */
  def salt(buckets: Int, from: Column*): Column =
    pmod(hash(from: _*), lit(buckets))

  /** Two-phase skew-safe aggregation: groupBy(key) sum(valueCol) with the
    * first phase spread over (key, salt).
    */
  def saltedAggregate(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      saltBuckets: Int = 16,
      saltFrom: Seq[String] = Seq.empty): DataFrame = {
    val saltCols = if (saltFrom.nonEmpty) saltFrom.map(col) else Seq(col(valueCol))
    df.withColumn("__salt", salt(saltBuckets, saltCols: _*))
      .groupBy(col(keyCol), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"), count(lit(1)).as("__n"))
      .groupBy(col(keyCol))
      .agg(sum(col("__partial")).as(s"sum_$valueCol"), sum(col("__n")).as("n"))
  }

  /** Skew-safe equi-join: salt the skewed left, replicate the right across
    * all salt values, join on (key, salt). The salt derives from stable row
    * CONTENT (hash of `saltFrom` columns, default all left columns), never
    * from monotonically_increasing_id(): that id changes under task retry /
    * recomputation, so a re-executed partition would send the same row to a
    * different salt — results stay correct but plans and partition
    * placement stop being reproducible, which poisons debugging and any
    * downstream that assumes deterministic lineage.
    *
    * Limitation of content salting: IDENTICAL rows get identical salts, so a
    * hot key composed of full-duplicate rows gets zero spread. If that is
    * your skew shape, pass `saltFrom` naming a stable unique tiebreak column
    * (an event id, a file+offset) so duplicates still fan out — same
    * contract as `saltedAggregate.saltFrom`.
    */
  def saltedJoin(
      skewedLeft: DataFrame,
      right: DataFrame,
      key: String,
      saltBuckets: Int = 16,
      saltFrom: Seq[String] = Seq.empty): DataFrame = {
    val saltCols =
      if (saltFrom.nonEmpty) saltFrom.map(col)
      else skewedLeft.columns.map(col).toIndexedSeq
    val saltedL = skewedLeft.withColumn("__salt", salt(saltBuckets, saltCols: _*))
    val replicatedR = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedL.join(replicatedR, Seq(key, "__salt")).drop("__salt")
  }

  /** Null-skew-safe LEFT OUTER equi-join. A null join key can never match,
    * but outer-join semantics must keep the row — so in a plain shuffle
    * plan every null-key row hashes to the SINGLE hash(null) reducer. On
    * fact tables where the foreign key is sparsely populated (clickstreams
    * with mostly-anonymous user ids, logs with optional order ids) that
    * one reducer receives 90%+ of the data and the stage runs at 1× no
    * matter how many executors exist — the classic null-skew incident.
    *
    * Fix by construction: route null-key rows AROUND the shuffle entirely.
    * They cannot match, so their joined shape is known without joining —
    * left columns + all-null right columns. The non-null stream shuffles
    * evenly; the null stream stays map-side and unions back narrow.
    * Result is EXACTLY the left join's (proven by q_join_null_skew's
    * oracle, which replays the plain LEFT JOIN in SQL).
    *
    * Catalyst does not perform this rewrite itself (it only strips nulls
    * from inner/semi sides via IsNotNull inference — for outer joins the
    * null rows must flow through the join), and AQE's skew-join splitting
    * rescues only sort-merge joins AFTER the skewed shuffle is already
    * materialized; this rewrite removes that shuffle's input instead.
    */
  def nullSkewLeftJoin(left: DataFrame, right: DataFrame, key: String): DataFrame = {
    val rightCols = right.columns.filterNot(_ == key)
    val matched = left.filter(col(key).isNotNull)
      .join(right, Seq(key), "left")
    val unmatched = rightCols.foldLeft(left.filter(col(key).isNull)) {
      case (df, c) => df.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }
    matched.unionByName(unmatched.select(matched.columns.map(col).toIndexedSeq: _*))
  }

  /** Distributed strictly-preceding running max — the two-pass scan that
    * replaces `Window.orderBy(k)` (which moves EVERY row to one partition;
    * Spark warns and serializes) for global prefix aggregates at scale.
    *
    * Requires `orderCol` values to be UNIQUE (group first if not — the
    * callers here feed grouped-by-key tables), so "rows preceding" equals
    * "strictly smaller orderCol" and tie semantics cannot differ between
    * this and the single-partition form.
    *
    * Pass 1: range-repartition on orderCol (equal keys co-located, ascending
    * ranges on ascending partition ids) and compute the WITHIN-partition
    * running max with a pid-partitioned window — fully parallel. Pass 2:
    * per-partition maxima (one row per partition) get their own
    * strictly-preceding prefix via a single-partition window over
    * `numPartitions` rows — constant-sized, not data-sized — and broadcast
    * back. prev = greatest(local running max, preceding partitions' prefix).
    *
    * The boundary placement the range partitioner samples is run-dependent;
    * the RESULT is not — any split yields the same prefix maxima.
    */
  def prefixMax(df: DataFrame, orderCol: String, valueCol: String,
      numPartitions: Int = 32): DataFrame = {
    val withPid = df.repartitionByRange(numPartitions, col(orderCol))
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withPid.withColumn("__local_prev", max(col(valueCol)).over(wLocal))
    val wParts = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = withPid.groupBy(col("__pid"))
      .agg(max(col(valueCol)).as("__pmax"))
      .withColumn("__prefix", max(col("__pmax")).over(wParts))
      .select(col("__pid"), col("__prefix"))
    local.join(broadcast(prefixes), "__pid")
      .withColumn("prev_max", greatest(col("__local_prev"), col("__prefix")))
      .drop("__pid", "__local_prev", "__prefix")
  }

  /** Distributed global `row_number` over a UNIQUE total order — the
    * two-pass range-partitioned twin of
    * `row_number().over(Window.orderBy(...))`, which moves EVERY row to
    * one partition (Spark warns and serializes; a 100 TB scale-killer —
    * the r19 unpartitioned-window audit's rewrite pattern, same shape as
    * [[prefixMax]]).
    *
    * Requires the `orderCols` tuple to be UNIQUE per row (callers here
    * order by (value, unique id)): with a unique total order the global
    * rank is partitioning-independent, so the range partitioner's
    * run-dependent boundary sampling cannot change the RESULT.
    *
    * Pass 1: range-repartition on `orderCols` (ascending ranges on
    * ascending partition ids) and compute the within-partition
    * `row_number` with a pid-partitioned window — fully parallel. Pass 2:
    * per-partition row counts (one row per partition — O(numPartitions),
    * constant, never data-sized) get their exclusive prefix sum via a
    * single-partition window and broadcast back; the global rank is
    * prefix + local row number.
    *
    * Both passes read `__pid` from ONE eager local checkpoint: computed in
    * two independent subtrees, the pid assignment would agree only while
    * exchange reuse (or identical range-bound sampling) made both
    * executions place every row alike.
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column],
      rankCol: String = "i", numPartitions: Int = 32): DataFrame = {
    val withPid = df.repartitionByRange(numPartitions, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val wLocal = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    val local = withPid.withColumn("__lrn", row_number().over(wLocal))
    val wParts = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = withPid.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pn"))
      .withColumn("__prefix", coalesce(sum(col("__pn")).over(wParts), lit(0L)))
      .select(col("__pid"), col("__prefix"))
    local.join(broadcast(prefixes), "__pid")
      .withColumn(rankCol, col("__prefix") + col("__lrn"))
      .drop("__pid", "__lrn", "__prefix")
  }

  /** The bucket `ntile(n)` assigns to global rank `i` (1-based) of `total`
    * rows — Spark's (and DuckDB's, and the SQL standard's) semantics: the
    * first `total % n` buckets hold `total / n + 1` rows, the rest
    * `total / n`; with fewer rows than buckets, row i lands in bucket i.
    * Lets an ntile over a data-sized relation ride [[globalRowNumber]]'s
    * two-pass rank instead of a single-partition window: the formula is a
    * per-row expression once (i, total) are columns.
    */
  def ntileFromRank(i: Column, total: Column, n: Int): Column = {
    // integral div via exact-dividend double division: (a - a%b) / b has a
    // mathematically integral quotient, and for counts below 2^53 the
    // double arithmetic is exact (same argument as Layout.binPack)
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val t = total.cast("long")
    val q = idiv(t, lit(n.toLong))
    val r = t % n
    val cut = r * (q + 1)
    when(i <= cut, idiv(i - 1, q + 1) + 1)
      .otherwise(r + idiv(i - cut - 1, q) + 1)
  }

  /** Scale-adaptive read fan-out ahead of heavy per-row kernels
    * (r18 optimization; the optimization guide §2.5 remedy for
    * unsplittable inputs: "repartition immediately after the read").
    * When the plan yields fewer partitions than the session's default
    * parallelism — a single-row-group parquet file (the bench testdata's
    * shape), a gzip input, one small file — the downstream per-row
    * compute (token/shingle/MinHash/SimHash kernels) runs on ONE core
    * while the rest idle. A round-robin repartition spreads it; the
    * shuffled bytes are bounded by the trigger condition itself (an input
    * too small or too unsplit to fill the cores). At 100 TB the scan
    * arrives in thousands of splits, the condition is false, and this is
    * the identity — never a payload shuffle at scale. Results are
    * partitioning-independent (per-row expressions; round-robin
    * repartition sorts-before-repartition for retry determinism, Spark's
    * default).
    *
    * BYTE-BUDGETED target (r19, the driver-confirmed r18 regression on
    * q_dedup_simhash_bands: fanning a ~600 KB corpus to 32 round-robin
    * partitions cost more in full-text shuffle + 32-way task scheduling
    * than the kernel parallelism bought — the driver's 8-core run beat
    * its 32-core run 2×). The target is now
    * `clamp(planBytes / bytesPerTask, 1, defaultParallelism)`: partitions
    * are never smaller than `bytesPerTask` of estimated input, so the
    * per-task kernel work always amortizes the task overhead, and the
    * fan-out GROWS with the input until the cores are filled — scale-
    * adaptive in both directions instead of a constant tuned to the core
    * count. 64 KB (compressed parquet text) per task is the measured
    * amortization point on the bench corpus: at sf0.1 it yields ~9
    * partitions, which times within noise of the empirical optimum
    * (8-way: 1.16 s vs 32-way: 1.38 s vs none: 1.46 s, medians of
    * single-query runs), and any corpus big enough to saturate the budget×cores
    * product fans out exactly as before.
    *
    * Input-plan guard (r19 verdict task 7): the partition-count probe
    * goes through `df.rdd`, and under AQE that FINALIZES the plan, which
    * materializes any shuffle stages below it — harmless on a bare scan,
    * an eager pre-execution anywhere else. The scaladoc restriction
    * ("call only on exchange-free inputs") is now enforced: any logical
    * node outside the narrow whitelist (leaf scan + per-row operators)
    * throws before the probe can pre-execute work.
    */
  def fanOutNarrowScan(df: DataFrame,
      bytesPerTask: Long = 64L * 1024): DataFrame = {
    requireNarrowScan(df)
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBudget =
      ((bytes + bytesPerTask - 1) / bytesPerTask).min(BigInt(cores)).max(BigInt(1))
    val target = byBudget.toInt
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Throw unless `df`'s analyzed plan is a leaf scan under per-row
    * (narrow, exchange-free) operators — the only inputs
    * [[fanOutNarrowScan]]'s AQE-finalizing partition probe may touch.
    * Whitelist, not blacklist: an unknown operator fails loudly and the
    * call site must prove it narrow before extending the list.
    */
  private[graft] def requireNarrowScan(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def walk(p: LogicalPlan): Unit = p match {
      case _: LeafNode => ()
      // Union is narrow too (it concatenates partitions, no exchange) —
      // ScaleProbeSpec's factor×-replicated corpus is a Union of
      // per-replica projections and flows through the dedup call site
      case n @ (_: Project | _: Filter | _: Generate | _: SubqueryAlias | _: Union) =>
        n.children.foreach(walk)
      case other => throw new IllegalArgumentException(
        s"fanOutNarrowScan requires an exchange-free scan + narrow projections; " +
          s"found ${other.nodeName} — its partition probe would pre-execute " +
          s"shuffle stages under AQE")
    }
    walk(df.queryExecution.analyzed)
  }
}
