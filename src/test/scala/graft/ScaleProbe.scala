package graft

import graft.SparkSpec.planNodes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Replicates the testdata tables factor× while preserving each workload's
  * SHAPE, so a probe at factor× measures the same plan over more data:
  *
  * - join keys shift by `KeyStride` per replica, so the fact-fact join
  *   fan-out grows linearly (disjoint key ranges), never quadratically;
  * - document text gets a per-replica token injected between every word,
  *   so every shingle differs across replicas: LSH near-dup pairs stay
  *   within-replica and the pair count scales exactly linearly (clones
  *   colliding across replicas would be quadratic in the factor);
  * - events grow in users, not in per-user history;
  * - dimension tables pass through as one copy.
  */
object ScaleProbe {

  private val KeyStride = 100000000L // > any key at the testdata scale factors

  def replicate(spark: SparkSession, sfDir: String, name: String,
      factor: Int): DataFrame = {
    val base = Graft.table(spark, sfDir, name)
    // Dimension tables (nation, region, part, supplier, …) pass through as
    // ONE copy at any factor — that is the 100 TB reality the probe models
    // (facts grow, dims do not), and unioning factor identical copies
    // would wrongly multiply every dim join's fan-out.
    val growable = Set("customer", "orders", "lineitem", "documents", "events")
    if (!growable(name)) return base
    val copies = (0 until factor).map { i =>
      val off = i * KeyStride
      name match {
        case "customer" =>
          base.withColumn("c_custkey", col("c_custkey") + off)
        case "orders" =>
          base.withColumn("o_orderkey", col("o_orderkey") + off)
            .withColumn("o_custkey", col("o_custkey") + off)
        case "lineitem" =>
          base.withColumn("l_orderkey", col("l_orderkey") + off)
        case "documents" =>
          base.withColumn("doc_id", col("doc_id") + off)
            .withColumn("text", regexp_replace(col("text"), lit("\\s+"), lit(s" r$i ")))
        case "events" =>
          // more USERS over the same time range (the realistic growth
          // axis): per-user history length stays fixed, keyed operators
          // must scale in user count
          base.withColumn("event_id", col("event_id") + off)
            .withColumn("user_id", col("user_id") + off)
      }
    }
    copies.reduce(_ union _)
  }

  /** Synthetic inputs that force the interval join's spill regime (run
    * with `inMemoryRows`=16) on the FdProbe shape:
    *
    *  - per key, `perKey` rights at stride 10; even rights effectively
    *    never expire (hi = lo + 1e6 — the active set grows toward
    *    perKey/2 ≫ 16, all row bytes on disk), odd rights live 50 units
    *    (they evict as the sweep advances, creating dead file ranges that
    *    exercise amortized compaction under a lowered `compactMinBytes`);
    *  - sawtooth lefts: every other left reads 1500 units forward (a
    *    positional-read burst over the spilled prefix), the rest 5 units
    *    (abandoned short prefixes — the pattern that leaked under the
    *    discarded EAUA draft, see FdProbe).
    *
    * Per-key depth stays constant as `keys` grows, so the spillSize metric
    * is a pure function of the data: drift across identical runs is a real
    * change in the store's I/O pattern.
    */
  def sawtoothIntervals(spark: SparkSession, keys: Int, perKey: Int): (DataFrame, DataFrame) = {
    // `div`, not `/`: Spark's `/` on longs is DOUBLE division — a
    // fractional key would make every group ~1 row deep and nothing
    // would ever spill
    val l = spark.range(keys.toLong * perKey).select(
      expr(s"id div $perKey").as("k"),
      ((col("id") % perKey) * 10).as("lo"),
      (col("id") % 2).as("par"))
      .withColumn("hi",
        when(col("par") === 0, col("lo") + 1500L).otherwise(col("lo") + 5L))
      .drop("par")
    val r = spark.range(keys.toLong * perKey).select(
      expr(s"id div $perKey").as("k2"),
      ((col("id") % perKey) * 10).as("lo2"),
      (col("id") % 2).as("par"))
      .withColumn("hi2",
        when(col("par") === 0, col("lo2") + 1000000L).otherwise(col("lo2") + 50L))
      .drop("par")
    (l, r)
  }

  /** Run `df` and sum the `spillSize` SQLMetric across every
    * IntervalJoinExec in its own executed plan.
    */
  def intervalSpillBytes(df: DataFrame): Long = {
    df.queryExecution.toRdd.count()
    planNodes(df.queryExecution.executedPlan).map {
      case e: graft.plans.IntervalJoinExec => e.metrics("spillSize").value
      case _ => 0L
    }.sum
  }
}

/** Record-count evidence for the exchange-volume levers: counts of rows
  * entering exchanges or landing on the busiest reducer, which unlike wall
  * clock are deterministic at any scale factor.
  *
  *  - bloom: the same fact⋈dim shuffle join with and without the explicit
  *    bloom prefilter, broadcast and Spark's own runtime bloom injection
  *    disabled on BOTH legs so the delta is the operator alone. The dim
  *    predicate keeps ~1/5 of suppliers, so the prefiltered fact exchange
  *    carries ~20% + fpp of the rows at ANY factor (the bloom rides a
  *    scalar subquery: one build, a literal in every task).
  *  - superstep: one PageRank-shaped consuming join (edges ⋈ ranks →
  *    contribution sum) over a key-checkpointed edge set, built with
  *    Checkpoints.partitioned vs a bare `repartition(n, key)
  *    .localCheckpoint(true)`. The bare checkpoint forgets its hash layout
  *    under AQE, so its join re-exchanges ALL edges; the preserving leg's
  *    join shuffles only the rank side.
  *  - PageRank contribution skew, salted-join skew and LSH banding: see
  *    the scaladoc on each [[Volumes]] ratio; the per-dst in-degree at 1×
  *    and factor× shows how replication densifies part nodes.
  */
object ExchangeProbe {

  final case class Volumes(bloomWith: Long, bloomWithout: Long,
      superPreserving: Long, superBare: Long,
      skewMaxUnsalted: Long, skewMaxSalted: Long,
      lshBandedPairs: Long, lshAllPairs: Long,
      prNaiveMax: Long, prPartialMax: Long,
      prMaxInDeg1: Long, prMaxInDegN: Long) {
    private def ratio(num: Long, den: Long): Double =
      num.toDouble / math.max(den, 1L).toDouble
    def bloomCut: Double = ratio(bloomWithout, bloomWith)
    def superCut: Double = ratio(superBare, superPreserving)
    /** hot-task load ratio: rows the busiest reduce partition receives
      * without vs with salting. */
    def skewBalance: Double = ratio(skewMaxUnsalted, skewMaxSalted)
    /** Σ|bucket|²-vs-all-pairs cut: candidate pairs the band join
      * generates vs the n·(n−1)/2 a blocking-free near-dup pass would
      * compare. */
    def lshCut: Double = ratio(lshAllPairs, lshBandedPairs)
    /** PageRank contribution-aggregation skew: rows the busiest reduce
      * task would receive WITHOUT map-side combine vs the rows it receives
      * under the partial-agg plan Spark actually runs — partial aggregation
      * IS two-level (each hub's sum collapses to ≤ one row per map
      * partition before the exchange), so a cut > 1 shows the hub dst
      * needs no explicit salting stage. */
    def prCombineCut: Double = ratio(prNaiveMax, prPartialMax)
  }

  /** Fully run `df` and sum shuffle records written across every exchange
    * in ITS OWN executed plan (metric values are final once the action
    * returns — accumulators merge on task completion, before the job
    * unblocks). The action is `toRdd.count()` on df's own QueryExecution,
    * NOT a noop write: `df.write` plans a fresh QueryExecution whose exec
    * nodes own fresh metric accumulators, and this plan's metrics would
    * stay zero.
    */
  private def shuffleRecords(df: DataFrame): Long = {
    df.queryExecution.toRdd.count()
    planNodes(df.queryExecution.executedPlan).map {
      case s: ShuffleExchangeLike =>
        s.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
      case _ => 0L
    }.sum
  }

  /** Rows landing on the BUSIEST post-exchange partition of `df`'s own
    * plan — the hot-task load a skewed key concentrates. Deterministic:
    * hash partitioning over fixed data with a fixed partition count maps
    * the same row to the same reducer every run.
    */
  private def maxPartitionRows(df: DataFrame): Long =
    df.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(it.size.toLong))
      .fold(0L)(math.max)

  def run(spark: SparkSession, sfDir: String, factor: Int): Volumes =
    SparkSpec.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
      // facts grow factor×, the dim stays fixed — the 100 TB reality
      val fact = ScaleProbe.replicate(spark, sfDir, "lineitem", factor)
      val dim = Graft.table(spark, sfDir, "supplier")
        .filter(col("s_nationkey") % 5 === 3)
        .select(col("s_suppkey"), col("s_name"))
      def joined(f: DataFrame): DataFrame =
        f.join(dim, col("l_suppkey") === col("s_suppkey"))
          .select(col("l_suppkey"), col("s_name"), col("l_extendedprice"))
      val bloomWithout = shuffleRecords(joined(fact))
      val prefiltered = graft.operators.BloomPrefilter.prefilter(
        fact, "l_suppkey", dim.select(col("s_suppkey")), expectedItems = 10000L)
      val bloomWith = shuffleRecords(joined(prefiltered))

      // superstep leg: both checkpoints materialize OUTSIDE the measured
      // query (identical build shuffles either way); the measured plan is
      // one consuming join+aggregate over the checkpoint scan
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val edges = fact.select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
      val ranks = edges.select(col("src").as("node")).distinct()
        .withColumn("rank", lit(1.0))
      val cpEdges = graft.operators.Checkpoints.partitioned(edges, col("src"))
      def consuming(cp: DataFrame): DataFrame =
        cp.join(ranks, col("src") === col("node"))
          .groupBy(col("dst")).agg(sum(col("rank")).as("contrib"))
      val superPreserving = shuffleRecords(consuming(cpEdges))
      val superBare = shuffleRecords(consuming(
        edges.repartition(n, col("src")).localCheckpoint(true)))

      // PageRank contribution-skew leg: two busiest-reduce-task counts over
      // the SAME contribution relation at factor×:
      //  - nocombine: rows hash-partitioned raw by dst — what the exchange
      //    would carry if the sum were NOT partially aggregated;
      //  - partial: distinct (map-partition, dst) pairs by dst — exactly
      //    the rows the partial-agg exchange carries (each map partition
      //    emits at most one partial sum per dst).
      val contribs = cpEdges.join(ranks, col("src") === col("node")).select(col("dst"))
      val prNaiveMax = maxPartitionRows(contribs.repartition(n, col("dst")))
      val prPartialMax = maxPartitionRows(
        contribs.withColumn("pid", spark_partition_id()).distinct()
          .repartition(n, col("dst")))
      // densification: max per-dst in-degree at 1× vs factor× (replicated
      // orderkeys share partkeys, so part-node degrees grow with the
      // factor)
      def maxInDeg(e: DataFrame): Long =
        e.groupBy(col("dst")).agg(count(lit(1)).as("c"))
          .agg(max(col("c")).as("m")).collect()(0).getLong(0)
      val prMaxInDeg1 = maxInDeg(
        Graft.table(spark, sfDir, "lineitem")
          .select(col("l_orderkey").as("src"), col("l_partkey").as("dst")))
      val prMaxInDegN = maxInDeg(edges)

      // skew leg: rows the BUSIEST reduce partition receives in the join
      // exchange, salted vs unsalted, on the q_join_salted_skew key shape
      // (even l_orderkey → key 0, so ~50% of rows share one key).
      // Unsalted, the hot key's entire volume lands on one reducer;
      // salted, it spreads over 16 buckets. An explicit-numPartitions
      // repartition is exactly the exchange the shuffled join performs on
      // its fact side (and is never AQE-coalesced).
      val skewLeft = fact.select(
        when(col("l_orderkey") % 2 === 0, lit(0L))
          .otherwise(lit(1L) + col("l_orderkey") % 997).as("k"),
        col("l_orderkey"), col("l_linenumber"))
      val skewMaxUnsalted = maxPartitionRows(skewLeft.repartition(n, col("k")))
      val skewMaxSalted = maxPartitionRows(
        skewLeft
          .withColumn("__salt", graft.operators.Partitioning.salt(16,
            col("l_orderkey"), col("l_linenumber")))
          .repartition(n, col("k"), col("__salt")))

      // LSH banding leg: candidate pairs the band equi-join GENERATES (Σ
      // over (band, bucket) groups of |g|·(|g|−1)/2, the exact pre-distinct
      // fan-out of Dedup.lshNearDupPairs' candidate stage) vs the n·(n−1)/2
      // pairs a blocking-free near-dup pass would compare, over the same
      // shingle→minhash→band derivation as the shipped operator
      val docs = ScaleProbe.replicate(spark, sfDir, "documents", factor)
      val bands = docs
        .select(col("doc_id"),
          graft.operators.Dedup.tokenHashesFromText(col("text")).as("__th"))
        .select(col("doc_id"),
          graft.operators.Dedup.shingleHashesFromTokenHashes(col("__th"), 3).as("shd"))
        .select(col("doc_id"),
          explode(graft.operators.Dedup.lshBandKeys(
            graft.operators.Dedup.minhashSignature(col("shd")))).as("band_key"))
      val lshBandedPairs = bands
        .groupBy(col("band_key")).agg(count(lit(1)).as("c"))
        // DIV keeps the arithmetic integral end-to-end (c·(c−1) is even)
        .agg(sum(expr("c * (c - 1) DIV 2")).as("pairs"))
        .collect()(0).getLong(0)
      val nDocs = docs.count()
      val lshAllPairs = nDocs * (nDocs - 1) / 2

      Volumes(bloomWith, bloomWithout, superPreserving, superBare,
        skewMaxUnsalted, skewMaxSalted, lshBandedPairs, lshAllPairs,
        prNaiveMax, prPartialMax, prMaxInDeg1, prMaxInDegN)
    }
}
