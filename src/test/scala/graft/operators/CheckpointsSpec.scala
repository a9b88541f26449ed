package graft.operators

import graft.SparkSpec
import graft.SparkSpec.planNodes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** The checkpoint-partitioning contract behind the superstep family
  * (GraphPlanFenceSpec covers the operators; this pins the mechanism):
  * [[Checkpoints.partitioned]] and [[Checkpoints.preserving]] must produce
  * checkpoints whose recorded partitioning downstream joins can reuse —
  * a bare `localCheckpoint(true)` under AQE records UnknownPartitioning
  * (AdaptiveSparkPlanExec never overrides outputPartitioning) and every
  * consumer re-shuffles. The CC convergence probe is the production shape
  * of the `preserving` case: a (u, v) join of two distinct()-tailed
  * checkpoints.
  */
class CheckpointsSpec extends SparkSpec {

  private def shuffleCount(df: DataFrame): Int = {
    df.collect()
    planNodes(df.queryExecution.executedPlan)
      .count { case _: ShuffleExchangeLike => true; case _ => false }
  }

  private val forcedSmj = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  test("preserving keeps the tail distinct()'s (u, v) partitioning: probe join has no shuffle") {
    // coalescing off models the at-scale regime: an ENSURE_REQUIREMENTS
    // tail exchange (distinct's) is only plain-hash when AQE does not
    // coalesce it — at gated volume AQE coalesces and preserving falls
    // back (covered below); at 100 TB it does not, and the recording is
    // what removes the probe's two exchanges
    withConf(forcedSmj :+
      ("spark.sql.adaptive.coalescePartitions.enabled" -> "false"): _*) {
      def edges(n: Int) = spark.range(n)
        .select((col("id") % 40).as("u"), (col("id") % 23).as("v")).distinct()
      val a = Checkpoints.preserving(edges(500))
      val b = Checkpoints.preserving(edges(400))
      // the CC convergence-probe shape: full outer on both key columns
      val probe = a.withColumn("__a", lit(1))
        .join(b.withColumn("__b", lit(1)), Seq("u", "v"), "full_outer")
        .filter(col("__a").isNull || col("__b").isNull)
      assert(shuffleCount(probe) == 0,
        "both sides carry the checkpointed (u, v) hash partitioning; the " +
          "probe join must not re-exchange either")
      // control: bare checkpoints lose the partitioning under AQE and the
      // same join re-shuffles both sides — the defect preserving() exists for
      val a0 = edges(500).localCheckpoint(true)
      val b0 = edges(400).localCheckpoint(true)
      val probe0 = a0.withColumn("__a", lit(1))
        .join(b0.withColumn("__b", lit(1)), Seq("u", "v"), "full_outer")
        .filter(col("__a").isNull || col("__b").isNull)
      assert(shuffleCount(probe0) == 2, "bare checkpoints must show the defect")
    }
  }

  test("preserving falls back safely when AQE coalesces the tail (gated-scale regime)") {
    withConf(forcedSmj: _*) {
      // coalescing ON over tiny data: the distinct tail coalesces, the
      // layout is not hash%n, and preserving must DECLINE to record it —
      // the join re-shuffles (bare behavior) but results stay exact
      def edges(n: Int) = spark.range(n)
        .select((col("id") % 40).as("u"), (col("id") % 23).as("v")).distinct()
      val a = Checkpoints.preserving(edges(500))
      val joined = a.join(edges(400), Seq("u", "v"), "inner")
      val expected = edges(500).join(edges(400), Seq("u", "v"), "inner").count()
      assert(joined.count() == expected && expected > 0,
        "fallback must keep results exact — never an optimistic partitioning claim")
    }
  }

  test("canary: the recorded hash layout matches actual partition contents") {
    // The recording in PlanBridge.checkpointPreservingHash rests on two
    // behaviors outside this repo's control: AdaptiveSparkPlanExec
    // .executedPlan exposing the truly-final plan, and REPARTITION_BY_NUM
    // never being coalesced by AQE. The plan-shape tests above would KEEP
    // PASSING if a future Spark preserved those shapes but changed the
    // actual row→partition map (hash seed, pmod convention, a coalescing
    // rule reaching numbered repartitions) — the recorded claim would then
    // be unsound and downstream joins would silently co-locate the wrong
    // rows. This canary checks the claim against CONTENTS: every row of
    // the materialized checkpoint must sit in the partition its recorded
    // HashPartitioning computes, pmod(murmur3_hash(key), n) == partition id.
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cp = Checkpoints.partitioned(
      spark.range(997).select((col("id") % 131).as("u"), col("id").as("v")),
      col("u"))
    cp.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            assert(h.numPartitions == n,
              s"recorded ${h.numPartitions} partitions, session width is $n")
          case other => fail(
            s"partitioned() recorded $other, not a HashPartitioning: this " +
              "Spark likely started coalescing REPARTITION_BY_NUM shuffles " +
              "or changed AdaptiveSparkPlanExec.executedPlan — re-derive the " +
              "recording rule in PlanBridge.checkpointPreservingHash before " +
              "trusting any superstep plan fence")
        }
      case other => fail(s"checkpoint no longer scans a LogicalRDD:\n$other")
    }
    // spark_partition_id() over the bare scan (no exchange in this plan)
    // is the RDD partition index; compare with the SQL hash(), which is
    // the same Murmur3(seed=42) HashPartitioning.partitionIdExpression uses
    val mismatched = cp
      .select(spark_partition_id().as("pid"),
        pmod(hash(col("u")), lit(n)).as("expected"))
      .filter(col("pid") =!= col("expected")).count()
    assert(mismatched == 0,
      s"$mismatched rows sit outside their recorded hash partition — the " +
        "recorded HashPartitioning is UNSOUND on this Spark and every " +
        "shuffle-free superstep join built on it would be silently wrong; " +
        "audit PlanBridge.checkpointPreservingHash (hash seed, pmod " +
        "convention, AQE coalescing of numbered repartitions) immediately")
  }

  test("partitioned checkpoint feeds a same-key groupBy and join with no extra shuffle") {
    // note: NO coalescing override here — partitioned() pins the count
    // (REPARTITION_BY_NUM), which AQE never coalesces, so the recording
    // must survive with default confs even at tiny volume
    withConf(forcedSmj: _*) {
      val e = Checkpoints.partitioned(
        spark.range(600).select((col("id") % 50).as("u"), col("id").as("v")),
        col("u"))
      // kcore round shape: degree count on u, then a semi join back on u
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2).select(col("u").as("n"))
      val round = e.join(keep, col("u") === col("n"), "left_semi")
      assert(shuffleCount(round) == 0,
        "groupBy(u) and the u semi join must both reuse the checkpoint's hash partitioning")
    }
  }
}
