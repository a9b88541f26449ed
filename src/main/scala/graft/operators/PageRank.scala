package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank (Page et al. 1999) by synchronous power iteration —
  * the Pregel formulation (Malewicz et al. 2010) expressed as Spark
  * relational plans: each superstep is one co-keyed join (edges ⋈ ranks on
  * src) plus one aggregation shuffle (sum of contributions by dst).
  *
  * All arithmetic is EXACT integer math in micro-units so the result is
  * deterministic and oracle-comparable — the usual floating PageRank sums
  * contributions in partial-aggregate merge order, which differs run to run
  * and engine to engine:
  *
  *   r₀(v)    = 1_000_000                       (rank mass in micro-units)
  *   c(u→v)   = r(u) div deg(u)                 (integral division)
  *   r'(v)    = 150_000 + (850 · Σ c(u→v)) div 1000
  *
  * i.e. damping 0.85 with the division order fixed. Truncation loses < 1
  * micro-unit per term — irrelevant for ranking, decisive for determinism.
  *
  * Scale shape at 100 TB: the edge relation (with its static per-src degree)
  * is materialized ONCE when K > 1 (eager localCheckpoint — always consumed,
  * and lazy checkpoints re-run their backfill job per consuming action, see
  * Dedup.lshNearDupPairs); superstep 1 is join-free (r₀ is constant, so the
  * contribution is InitRank div deg computed straight off the edge pass),
  * and each of the remaining K−1 iterations shuffles the rank table
  * (O(nodes), much smaller than edges) into the join and the contribution
  * sum — edges themselves never re-shuffle after the checkpoint. Partial
  * aggregation collapses per-dst contributions map-side. Overflow headroom:
  * 850 · Σc per node needs Σc < 1.08e16 micro-units — a hub would need to
  * absorb the full rank mass of ~1e10 nodes to overflow; beyond that scale,
  * renormalize the unit (divide r by 1000) before summing.
  *
  * The caller supplies directed edges; symmetrize first for an undirected
  * walk. Every node must appear as a src (true after symmetrization for any
  * node with an edge); isolated nodes are out of the walk by definition.
  */
object PageRank {

  val InitRank: Long = 1000000L

  /** @param edges two columns `src`, `dst` (long node ids), pre-deduplicated
    * @param iters number of synchronous supersteps (fixed, not converged —
    *              determinism over adaptivity; callers pick 3-20)
    * @return `node`, `pr` (micro-units, long)
    */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    if (iters == 0)
      return edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), lit(InitRank).as("pr"))
    // Degree attachment as ONE window pass (r18 optimization): the old
    // groupBy(src).count + edges⋈deg join made the edge pipeline appear
    // TWICE in the plan (once under the aggregate, once under the join —
    // two full passes unless exchange reuse rescues it), exchanged the
    // barely-compressing per-src partial counts (O(edges) rows for a
    // near-unique key), and at bench scale sometimes broadcast the
    // O(nodes) deg relation via a serial driver-side build. A
    // count().over(partitionBy(src)) computes the same deg in the SAME
    // hash(src) exchange the superstep join needs anyway: one edge
    // subtree, one O(edges) shuffle, no join, no driver build. Hub-node
    // buffering is the same placement the join already forced (all of a
    // src's edges in one partition); WindowExec spills gracefully.
    // The window output is hash(src)-partitioned, so for K > 1 the eager
    // checkpoint records that layout directly (Checkpoints.preserving —
    // a plain localCheckpoint under AQE records UnknownPartitioning and
    // the contract silently breaks, caught by GraphPlanFenceSpec) and
    // every remaining superstep join consumes it shuffle-free.
    // iters == 1 skips the checkpoint outright: the folded first
    // superstep below consumes the edge relation exactly once, so
    // materializing it buys zero reuse — at any scale, a single-consumer
    // relation should stay pipelined.
    def withDegWindow(e: DataFrame): DataFrame = e.withColumn("deg",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("src"))))
    val withDeg =
      if (iters > 1) {
        // K > 1: the ONE upfront exchange is an explicit
        // repartition(n, src) BELOW the window — it satisfies the
        // window's clustering requirement (no second exchange) and its
        // REPARTITION_BY_NUM origin is never AQE-coalesced, so the
        // checkpoint records a plain HashPartitioning(src, n) and every
        // superstep join consumes the edges shuffle-free (the bridge
        // degrades coalesced layouts to UnknownPartitioning — see
        // PlanBridge.checkpointPreservingHash).
        val n = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        Checkpoints.preserving(withDegWindow(edges.repartition(n, col("src"))))
      } else withDegWindow(edges)
    def step(contribs: DataFrame): DataFrame =
      contribs
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(850 * s) div 1000")).as("pr"))
    // Superstep 1 folded algebraically (r18 optimization): r₀(u) is the
    // CONSTANT InitRank for every src, so the rank-side join is the
    // identity and c(u→v) = InitRank div deg(u) directly — the whole
    // rank-relation build (a second pass over the edge pipeline) and the
    // first superstep join disappear. Exact-arithmetic-identical to the
    // joined form; at 100 TB it deletes the first O(nodes) rank shuffle
    // and the first edges⋈ranks join pass.
    var ranks = step(withDeg.select(col("dst"),
      expr(s"$InitRank div deg").as("contrib")))
    for (_ <- 2 to iters) {
      ranks = step(withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst"), expr("pr div deg").as("contrib")))
    }
    ranks
  }
}
