package graft.operators

import graft.{SparkSpec, Tables}
import graft.SparkSpec.planNodes
import graft.queries.AllQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** Plan fence for the superstep (Pregel-shaped) iteration family
  * (r10 verdict task 5): the scale contract of [[PageRank.run]] — and of
  * the same pattern inlined in q_graph_bfs / q_graph_sssp /
  * q_graph_label_prop — is that the static edge relation is hash-
  * partitioned on the superstep join key BEFORE its one-time checkpoint,
  * so each of the K per-round joins consumes the checkpointed edges
  * WITHOUT re-shuffling them; only the O(nodes) rank/frontier side moves.
  * That claim was comment-only; this spec executes the plans with
  * broadcast forced off (at test scale AQE would otherwise broadcast the
  * rank side and hide the question — at 100 TB ranks outgrow broadcast
  * and the join is SMJ, which is exactly the regime the fence pins) and
  * asserts structurally, per superstep join, that the side fed by the
  * checkpoint scan reaches the join through NO shuffle exchange. Dropping
  * the `repartition(src)` before the checkpoint fails this spec: the scan
  * comes back partitioned on distinct()'s (src, dst) — or scan order —
  * and EnsureRequirements inserts an exchange above it in every round.
  */
class GraphPlanFenceSpec extends SparkSpec {

  /** The unary chain from a join input downward: wrappers (sort, codegen,
    * AQE reads, exchanges, stage boundaries) until the first leaf or
    * multi-child node. A side whose chain terminates at the checkpoint's
    * RDD scan WITHOUT passing through an aggregate is an edge side; the
    * fence is that such a chain holds no shuffle. (The aggregate guard
    * exists because, since the r18 superstep-1 fold, the RANK side of a
    * later superstep also bottoms out at the checkpoint scan — through
    * its contribution HashAggregate + exchange, which is the rank
    * shuffle the contract explicitly allows.)
    */
  private def chain(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: chain(a.executedPlan)
    case q: QueryStageExec => p +: chain(q.plan)
    case u if u.children.size == 1 => p +: chain(u.children.head)
    case leafOrBranch => Seq(leafOrBranch)
  }

  private def assertEdgeSidesUnshuffled(df: DataFrame, expectedJoins: Int): Unit = {
    df.collect() // AQE finalizes stages only at runtime
    val smjs = planNodes(df.queryExecution.executedPlan)
      .collect { case j: SortMergeJoinExec => j }
    // >= not ==: the bfs/sssp unrolled rounds reference the prior frontier
    // twice (union + join), so the physical tree instantiates some round
    // joins more than once until exchange/stage reuse collapses them
    assert(smjs.size >= expectedJoins,
      s"expected at least $expectedJoins superstep SMJs, got ${smjs.size}:\n" +
        df.queryExecution.executedPlan)
    val edgeJoins = smjs.map { j =>
      Seq(j.left, j.right)
        .map(chain)
        .filter(c => c.lastOption.exists(_.isInstanceOf[RDDScanExec]) &&
          !c.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.aggregate.BaseAggregateExec]))
    }.filter(_.nonEmpty)
    assert(edgeJoins.size >= expectedJoins,
      s"expected at least $expectedJoins joins fed directly by the checkpoint " +
        s"scan, got ${edgeJoins.size}:\n" + df.queryExecution.executedPlan)
    edgeJoins.flatten.foreach { c =>
      val shuffles = c.count {
        case _: ShuffleExchangeLike => true
        case _ => false
      }
      assert(shuffles == 0,
        s"checkpointed edge side re-shuffles before the superstep join " +
          s"(the repartition-before-checkpoint contract is broken):\n" +
          c.map(_.nodeName).mkString(" <- "))
    }
  }

  private val forceSmj = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  test("PageRank supersteps consume checkpointed edges with no re-shuffle") {
    withConf(forceSmj: _*) {
      // the q_graph_pagerank edge shape, 3 supersteps = 2 rank JOINS under
      // the r18 algebraic fold (superstep 1 computes InitRank div deg
      // directly, join-free), so the fence still covers two rounds whose
      // rank side is a prior superstep
      val li = Tables(spark, sf()).lineitem
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val pr = PageRank.run(edges, iters = 3)
      assertEdgeSidesUnshuffled(pr, expectedJoins = 2)
    }
  }

  test("BFS supersteps consume checkpointed edges with no re-shuffle") {
    withConf(forceSmj: _*) {
      val df = AllQueries.all("q_graph_bfs").run(Tables(spark, sf()))
      assertEdgeSidesUnshuffled(df, expectedJoins = 3)
    }
  }

  test("SSSP relax rounds consume checkpointed edges with no re-shuffle") {
    withConf(forceSmj: _*) {
      val df = AllQueries.all("q_graph_sssp").run(Tables(spark, sf()))
      assertEdgeSidesUnshuffled(df, expectedJoins = 3)
    }
  }

  // ---- exchange-COUNT fences (r18 verdict task 3). The structural
  // no-shuffle-on-the-edge-side assertions above pin WHERE exchanges may
  // not appear; these pin HOW MANY the two most expensive headliners may
  // execute in total, so a future Spark/AQE change that re-introduces the
  // per-round double exchange the partition-preserving checkpoints
  // removed fails loudly instead of silently doubling shuffle volume at
  // 100×. Counts measured twice on this tree (stable run-to-run). ----

  private def countExchanges(df: DataFrame): Int = {
    df.collect()
    planNodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
  }

  /** Stages that actually wrote shuffle output while `body` ran — the
    * executed-exchange count of a multi-job iterative operator (CC's
    * per-round isEmpty probes split the work across jobs, so no single
    * executed plan exists to count structurally). Safe because the suite
    * JVM runs tests sequentially; reused (skipped) stages never complete
    * and so are not counted.
    */
  private def countShuffleWriteStages(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        if (sc.stageInfo.taskMetrics != null &&
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          n.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is async; completion events for the final stage
      // can trail the action returning
      Thread.sleep(1500)
    } finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }

  test("PageRank executes exactly iters exchanges past the edge build: contributions out, edges never") {
    withConf(forceSmj: _*) {
      // Under the r18 fold, superstep 1 is join-free (InitRank div deg)
      // and the old rank-side INIT exchange (a full second pass over the
      // edge pipeline) is gone. K supersteps = K contribution-sum
      // exchanges; superstep k>1 reuses superstep k-1's dst partitioning
      // for its rank side, and the checkpointed edge side never
      // re-shuffles. iters=1 additionally skips the checkpoint (single
      // consumer), so its counted plan INCLUDES the edge build: distinct
      // + deg agg + the SMJ's edge-side alignment + contribution sum.
      // The r11 regression (bare checkpoint -> UnknownPartitioning)
      // re-exchanges edges per superstep: iters=3 would jump 3 -> 6+.
      val li = Tables(spark, sf()).lineitem
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd
        .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val n1 = countExchanges(PageRank.run(edges, iters = 1))
      assert(n1 <= 4, s"q_graph_pagerank_1step shape: $n1 exchanges, expected <= 4 " +
        "(whole single-job plan: distinct + deg + join alignment + " +
        "contribution sum; before r18 the same run paid 3 checkpoint-job " +
        "exchanges + a full rank-side recompute)")
      val n3 = countExchanges(PageRank.run(edges, iters = 3))
      assert(n3 <= 3, s"3-superstep pagerank: $n3 exchanges past the checkpoint, " +
        "expected <= 3 (one contribution sum per superstep; more = the " +
        "per-round edge re-exchange regression)")
    }
  }

  test("CC executes a bounded shuffle-stage budget per convergence (path-32 worst case)") {
    // A 32-node path is the adversarial chain for large/small-star (max
    // rounds for its size) and is fully deterministic: 20 shuffle-write
    // stages on this tree (was 50 before r19 folded the convergence
    // probe into the checkpoint job via observe and collapsed the
    // small-star union into one explode pass — ~3 per round + the edge
    // build). The regression classes this fences: a bare checkpoint
    // re-exchanging both sides of a reintroduced probe join (+2 per
    // round), the star joins re-hashing their grouped sides, and the
    // union form's duplicated window pipeline coming back.
    val path = spark.range(31).select(col("id").as("a"), (col("id") + 1).as("b"))
    var labels: Array[org.apache.spark.sql.Row] = Array.empty
    val n = countShuffleWriteStages {
      labels = ConnectedComponents.label(path, "a", "b").collect()
    }
    assert(labels.nonEmpty && labels.forall(_.getLong(1) == 0L),
      "path graph must converge to component 0")
    assert(n <= 24, s"CC path-32 executed $n shuffle-write stages, budget 24 — " +
      "a checkpoint lost its partitioning (per-round re-exchange regression)")
  }

  test("q_dedup_cc's clustering stage stays inside its shuffle-stage budget") {
    // The real headliner shape: LSH pairs over documents at spec SF, the
    // pair relation materialized (cached) OUTSIDE the counting window so
    // the budget isolates the clustering loop the fence is about.
    val t = Tables(spark, sf())
    val pairs = Dedup.lshNearDupPairs(t.documents, "doc_id", "text", threshold = 0.5)
      .cache()
    try {
      pairs.count()
      val n = countShuffleWriteStages {
        ConnectedComponents.label(pairs, "a", "b").collect()
      }
      assert(n <= 10, s"q_dedup_cc clustering executed $n shuffle-write stages, " +
        "budget 10 (8 on this tree; was 18 pre-r19) — a checkpoint lost " +
        "its partitioning " +
        "(per-round re-exchange regression)")
    } finally { pairs.unpersist(); () }
  }
}
