package graft.queries

import graft.operators.{Checkpoints, PageRank, Triangles}
import org.apache.spark.sql.functions._

/** Graph analytics over relations the engine already holds — the iterative
  * sibling of [[graft.operators.ConnectedComponents]]. The testdata graph is
  * the order–part bipartite graph implied by `lineitem` (node id encoding:
  * orderkey·2 / partkey·2+1 keeps the two key spaces disjoint), symmetrized
  * for an undirected walk. The oracle unrolls the fixed iteration count as
  * a CTE chain — exact because [[PageRank]]'s recurrence is pure BIGINT
  * arithmetic.
  */
object GraphQueries extends Catalog {

  /** Part co-occurrence edges (u < v, ≥ minShared shared orders) — the
    * basket-blocked graph every part-graph anchor walks. One definition so
    * a change to the graph (threshold, dedup) can't silently diverge
    * across queries; the SQL oracles legitimately restate it inline.
    */
  private def coEdges(t: graft.Tables, minShared: Long): org.apache.spark.sql.DataFrame = {
    val po = t.lineitem
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    po.join(po.select(col("l_orderkey").as("o2"), col("l_partkey").as("p2")),
        col("l_orderkey") === col("o2") && col("l_partkey") < col("p2"))
      .groupBy(col("l_partkey").as("u"), col("p2").as("v"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= minShared)
      .select(col("u"), col("v"))
  }

  /** Both directions of an undirected half-edge list. */
  private def symmetrize(half: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    half.union(half.select(col("v").as("u"), col("u").as("v")))

  /** The symmetrized order–part bipartite graph (order nodes even, part
    * nodes odd) — one definition for every anchor that walks it. Dedup
    * runs BEFORE the swap-union (r18 optimization): the two node spaces
    * are disjoint, so a swapped row can never collide with a forward row
    * and swapped distinct rows stay distinct — `fwd.distinct().union(swap)`
    * is set-identical to the old `union(swap).distinct()` while the
    * distinct exchange carries |lineitem| rows instead of 2·|lineitem| and
    * the fact is scanned once (the two union branches share the dedup
    * exchange via reuse) instead of twice. Holds at any scale.
    */
  private def bipartiteEdges(t: graft.Tables): org.apache.spark.sql.DataFrame = {
    val fwd = t.lineitem.select(
      (col("l_orderkey") * 2).as("src"),
      (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  def queries: Map[String, Q] = Map(

    "q_graph_pagerank" -> Q(
      t => {
        val edges = bipartiteEdges(t)
        PageRank.run(edges, iters = 3)
          .orderBy(col("pr").desc, col("node"))
          .limit(100)
      },
      Some("""WITH edges AS (
             |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
             |  UNION
             |  SELECT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem
             |), deg AS (
             |  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
             |), r0 AS (
             |  SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg
             |), it1 AS (
             |  SELECT e.dst AS node,
             |         CAST(150000 + (850 * SUM(r.pr // d.deg)) // 1000 AS BIGINT) AS pr
             |  FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON e.src = r.node
             |  GROUP BY e.dst
             |), it2 AS (
             |  SELECT e.dst AS node,
             |         CAST(150000 + (850 * SUM(r.pr // d.deg)) // 1000 AS BIGINT) AS pr
             |  FROM edges e JOIN deg d ON e.src = d.src JOIN it1 r ON e.src = r.node
             |  GROUP BY e.dst
             |), it3 AS (
             |  SELECT e.dst AS node,
             |         CAST(150000 + (850 * SUM(r.pr // d.deg)) // 1000 AS BIGINT) AS pr
             |  FROM edges e JOIN deg d ON e.src = d.src JOIN it2 r ON e.src = r.node
             |  GROUP BY e.dst
             |)
             |SELECT node, pr FROM it3
             |ORDER BY pr DESC NULLS FIRST, node NULLS FIRST
             |LIMIT 100""".stripMargin)),

    // Single-superstep pagerank: the headline anchor for the Pregel join+agg
    // shape (r9 verdict task 4). The 3-superstep q_graph_pagerank stays the
    // oracle-depth anchor, but at bench scale its ~12 small stages per run
    // made it the noisiest headline entry (runs spanned 2.5-5.4s on
    // identical code — GC/interference pauses amplified by stage count, not
    // a plan property). One superstep keeps the measured work exactly the
    // shape that matters (edge-checkpoint + rank join + contribution sum)
    // with a third of the interference surface.
    "q_graph_pagerank_1step" -> Q(
      t => {
        val edges = bipartiteEdges(t)
        PageRank.run(edges, iters = 1)
          .orderBy(col("pr").desc, col("node"))
          .limit(100)
      },
      Some("""WITH edges AS (
             |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
             |  UNION
             |  SELECT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem
             |), deg AS (
             |  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
             |), r0 AS (
             |  SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg
             |), it1 AS (
             |  SELECT e.dst AS node,
             |         CAST(150000 + (850 * SUM(r.pr // d.deg)) // 1000 AS BIGINT) AS pr
             |  FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON e.src = r.node
             |  GROUP BY e.dst
             |)
             |SELECT node, pr FROM it1
             |ORDER BY pr DESC NULLS FIRST, node NULLS FIRST
             |LIMIT 100""".stripMargin)),

    // Degree distribution — the first diagnostic every graph pipeline runs
    // (is the graph scale-free? where is the hub tail that will skew the
    // join?): per-node degree over the symmetrized order–part graph, then
    // the count of nodes at each degree. Two hash aggregates, both
    // partial-agg'd map-side; output is bounded by the number of DISTINCT
    // degrees (≤ max basket size here, ≤ a few thousand at any corpus
    // scale), so everything downstream of the second groupBy is tiny. The
    // hub tail this reports is exactly what decides when the pagerank /
    // CC joins need salting.
    // Degree assortativity — the Pearson correlation of endpoint degrees
    // over the symmetrized edge list (Newman 2002): negative r means
    // hubs attach to leaves (the bipartite order–part graph's expected
    // shape), and with q_graph_degree_dist it completes the skew
    // diagnosis: the distribution says hubs EXIST, assortativity says
    // where their edges GO — i.e. whether an edges⋈edges expansion
    // concentrates on hub×hub pairs. Moments are exact BIGINTs in ONE
    // aggregate over the degree-joined edges; r is the fixed-op-order
    // double of the q_events_regression convention. Scale shape: two
    // broadcast-or-shuffle equi joins of edges against the COLLAPSED
    // degree relation, then a single-row partial-merged aggregate.
    "q_graph_assortativity" -> Q(
      t => {
        val edges = bipartiteEdges(t)
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        val m = edges
          .join(deg, "src").select(col("dst"), col("d").as("du"))
          .join(deg.select(col("src").as("dst"), col("d").as("dv")), "dst")
          .agg(count(lit(1)).as("n_edges"), sum(col("du")).as("su"),
            sum(col("dv")).as("sv"), sum(col("du") * col("dv")).as("suv"),
            sum(col("du") * col("du")).as("suu"),
            sum(col("dv") * col("dv")).as("svv"))
        val n = col("n_edges").cast("double")
        val cov = n * col("suv") - col("su").cast("double") * col("sv")
        val varU = n * col("suu") - col("su").cast("double") * col("su")
        val varV = n * col("svv") - col("sv").cast("double") * col("sv")
        m.select(col("n_edges"), round(cov / sqrt(varU * varV), 6).as("r"))
      },
      Some("""WITH edges AS (
             |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
             |  UNION
             |  SELECT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem
             |), deg AS (
             |  SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
             |), m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
             |         CAST(SUM(du.d) AS BIGINT) AS su,
             |         CAST(SUM(dv.d) AS BIGINT) AS sv,
             |         CAST(SUM(du.d * dv.d) AS BIGINT) AS suv,
             |         CAST(SUM(du.d * du.d) AS BIGINT) AS suu,
             |         CAST(SUM(dv.d * dv.d) AS BIGINT) AS svv
             |  FROM edges e
             |  JOIN deg du ON e.src = du.src
             |  JOIN deg dv ON e.dst = dv.src
             |)
             |SELECT n_edges,
             |       ROUND((CAST(n_edges AS DOUBLE) * suv
             |           - CAST(su AS DOUBLE) * sv)
             |         / sqrt((CAST(n_edges AS DOUBLE) * suu
             |             - CAST(su AS DOUBLE) * su)
             |           * (CAST(n_edges AS DOUBLE) * svv
             |             - CAST(sv AS DOUBLE) * sv)) * 1000000) / 1000000 AS r
             |FROM m""".stripMargin)),

    "q_graph_degree_dist" -> Q(
      t => {
        val edges = bipartiteEdges(t)
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
          .orderBy(col("deg"), col("n_nodes"))
      },
      Some("""WITH edges AS (
             |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
             |  UNION
             |  SELECT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem
             |), deg AS (
             |  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
             |)
             |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
             |FROM deg GROUP BY deg
             |ORDER BY deg NULLS FIRST, n_nodes NULLS FIRST""".stripMargin)),

    // Neighbor-overlap similarity (the item-item collaborative-filtering /
    // SimRank-adjacent primitive): for part pairs sharing ≥3 orders, the
    // Jaccard of their order neighborhoods. Pairs are generated by ORDER
    // blocking — a self-join of the distinct (order, part) incidence on
    // orderkey — so the candidate space is Σ basket·(basket−1)/2, bounded
    // by the basket size (≤ ~15 here), NEVER all-pairs-of-parts; the same
    // Σ|block|² discipline as LSH banding and k-means-blocked semantic
    // dedup. A viral order at 100 TB makes its block quadratic → cap or
    // salt the hot order upstream (Partitioning.saltedJoin) — documented,
    // not needed at any tested SF. Intersection and union stay EXACT
    // BIGINTs; jaccard is one int/int IEEE division (engine-identical),
    // rounded the DuckDB way. The per-part degree table is O(parts) — AQE
    // broadcasts it at gated scale, shuffle-joins on partkey at 100 TB.
    "q_graph_neighbor_jaccard" -> Q(
      t => {
        val po = t.lineitem
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val cnt = po.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
        val pairs = po
          .join(po.select(col("l_orderkey").as("o2"), col("l_partkey").as("p2")),
            col("l_orderkey") === col("o2") && col("l_partkey") < col("p2"))
          .groupBy(col("l_partkey").as("p1"), col("p2"))
          .agg(count(lit(1)).as("inter"))
          .filter(col("inter") >= 3)
        pairs
          .join(cnt.select(col("l_partkey").as("k1"), col("n").as("n1")),
            col("p1") === col("k1"))
          .join(cnt.select(col("l_partkey").as("k2"), col("n").as("n2")),
            col("p2") === col("k2"))
          .select(col("p1"), col("p2"), col("inter"),
            (col("n1") + col("n2") - col("inter")).as("uni"),
            round(col("inter") / (col("n1") + col("n2") - col("inter")), 4)
              .as("jaccard"))
          .orderBy(col("inter").desc_nulls_last, col("p1"), col("p2"))
          .limit(100)
      },
      Some("""WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |cnt AS (SELECT l_partkey, COUNT(*) AS n FROM po GROUP BY 1),
             |pairs AS (
             |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS inter
             |  FROM po a JOIN po b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 3
             |)
             |SELECT p1, p2, inter, c1.n + c2.n - inter AS uni,
             |       ROUND(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter) * 10000) / 10000 AS jaccard
             |FROM pairs
             |JOIN cnt c1 ON p1 = c1.l_partkey
             |JOIN cnt c2 ON p2 = c2.l_partkey
             |ORDER BY inter DESC NULLS LAST, p1, p2
             |LIMIT 100""".stripMargin)),

    // Triangle counting by degree orientation — the scale rationale and
    // exactly-once argument live on operators/Triangles (Suri &
    // Vassilvitskii's oriented-wedge plan; wedge stream bounded O(m^1.5),
    // no "last reducer" hot node). Edges here are part co-occurrence
    // (≥2 shared orders, basket-blocked like q_graph_neighbor_jaccard);
    // output is the per-node triangle participation count — the local
    // clustering-coefficient numerator — in exact BIGINTs. TriangleSpec
    // cross-checks the orientation against a brute-force id-ordered
    // enumeration on adversarial degree profiles.
    "q_graph_triangles" -> Q(
      t => {
        Triangles.perNodeCounts(coEdges(t, minShared = 2))
          .orderBy(col("n_tri").desc_nulls_last, col("node"))
          .limit(50)
      },
      Some("""WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM po a JOIN po b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
             |), deg AS (
             |  SELECT node, COUNT(*) AS d FROM (
             |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
             |  GROUP BY 1
             |), oe AS (
             |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
             |  FROM edges e
             |  JOIN deg du ON e.u = du.node
             |  JOIN deg dv ON e.v = dv.node
             |), tri AS (
             |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
             |  FROM oe e1
             |  JOIN oe e2 ON e1.s = e2.s AND e1.t <> e2.t
             |  JOIN oe e3 ON e3.s = e1.t AND e3.t = e2.t
             |)
             |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
             |  SELECT a AS node FROM tri
             |  UNION ALL SELECT b FROM tri
             |  UNION ALL SELECT c FROM tri)
             |GROUP BY 1
             |ORDER BY n_tri DESC NULLS LAST, node
             |LIMIT 50""".stripMargin)),

    // Multi-source BFS hop distance — the reachability / blast-radius
    // primitive (fraud rings, lineage closure, k-hop feature extraction).
    // Seeds are the p_size=1 parts; three relational supersteps expand the
    // frontier over the symmetrized order–part graph, each superstep ONE
    // join + ONE min-aggregate (the Pregel shape, like [[PageRank]]).
    // Unreached nodes simply never appear — no sentinel distances. The
    // edge list is materialized once (eager localCheckpoint: consumed by
    // every superstep; lazy double-executes the backfill — see
    // Dedup.lshNearDupPairs).
    // At 100 TB the per-round state is O(reached nodes), the joins hash
    // on node id, and rounds are log-bounded by the target radius — the
    // same sublinear-iteration contract the CC probe measures. Distances
    // are exact BIGINT hops; the oracle unrolls the three supersteps.
    "q_graph_bfs" -> Q(
      t => {
        val edges = bipartiteEdges(t)
          // hash-partition on the superstep join key BEFORE the checkpoint
          // (same contract as PageRank.run, pinned by GraphPlanFenceSpec):
          // distinct() leaves the relation partitioned on (src, dst), which
          // does NOT satisfy the per-round join's src distribution — without
          // this, every superstep re-shuffles the full edge relation at SMJ
          // scale; with it, one upfront shuffle buys K shuffle-free sides.
          // Checkpoints.partitioned, not a bare repartition+localCheckpoint:
          // under AQE the latter records UnknownPartitioning and the
          // contract silently breaks (see Checkpoints scaladoc).
          .transform(Checkpoints.partitioned(_, col("src")))
        val seeds = t.part.filter(col("p_size") === 1)
          .select((col("p_partkey") * 2 + 1).as("node"), lit(0L).as("dist"))
        var dist = seeds
        for (_ <- 1 to 3) {
          val next = edges.join(dist, col("src") === col("node"))
            .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
          dist = dist.union(next).groupBy(col("node"))
            .agg(min(col("dist")).as("dist"))
        }
        dist.orderBy(col("node"), col("dist"))
      },
      Some("""WITH edges AS (
             |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
             |  UNION
             |  SELECT l_partkey * 2 + 1, l_orderkey * 2 FROM lineitem
             |), seeds AS (
             |  SELECT p_partkey * 2 + 1 AS node, CAST(0 AS BIGINT) AS dist
             |  FROM part WHERE p_size = 1
             |), h1 AS (
             |  SELECT node, MIN(dist) AS dist FROM (
             |    SELECT node, dist FROM seeds
             |    UNION ALL
             |    SELECT e.dst, s.dist + 1 FROM edges e JOIN seeds s ON e.src = s.node
             |  ) GROUP BY node
             |), h2 AS (
             |  SELECT node, MIN(dist) AS dist FROM (
             |    SELECT node, dist FROM h1
             |    UNION ALL
             |    SELECT e.dst, h.dist + 1 FROM edges e JOIN h1 h ON e.src = h.node
             |  ) GROUP BY node
             |), h3 AS (
             |  SELECT node, MIN(dist) AS dist FROM (
             |    SELECT node, dist FROM h2
             |    UNION ALL
             |    SELECT e.dst, h.dist + 1 FROM edges e JOIN h2 h ON e.src = h.node
             |  ) GROUP BY node
             |)
             |SELECT node, dist FROM h3
             |ORDER BY node NULLS FIRST, dist NULLS FIRST""".stripMargin)),

    // Synchronous label propagation (community detection): each node adopts
    // its neighbors' PLURALITY label each round — majority vote, ties to
    // the smallest label — which is a different fixed point than
    // ConnectedComponents' min-propagation (LPA splits a connected graph
    // into dense communities; min-prop collapses it to one id). Two
    // synchronous rounds from label(v)=v over the symmetrized part
    // co-occurrence graph (≥2 shared orders, basket-blocked like
    // q_graph_triangles). Per round: ONE join of edges to the label
    // relation (hash on node id) + ONE (dst, label) count + a per-dst
    // argmax — the Pregel shape; per-round state is O(nodes), rounds are
    // fixed, nothing quadratic. The vote argmax is a row_number pick over
    // exact BIGINT (count DESC, label ASC) on both engines — fully
    // deterministic. Output: community sizes after round 2.
    "q_graph_label_prop" -> Q(
      t => {
        val edges = symmetrize(coEdges(t, minShared = 2))
          // pre-partition on the vote-join key (see q_graph_bfs note;
          // pinned by GraphPlanFenceSpec)
          .transform(Checkpoints.partitioned(_, col("u")))
        var lab = edges.select(col("u").as("node")).distinct()
          .select(col("node"), col("node").as("lbl"))
        for (_ <- 1 to 2) {
          val votes = edges.join(lab, col("u") === col("node"))
            .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("n"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("v")).orderBy(col("n").desc, col("lbl"))
          lab = votes
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("v").as("node"), col("lbl"))
        }
        lab.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
          .orderBy(col("n_members").desc_nulls_last, col("lbl"))
          .limit(50)
      },
      Some("""WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |half AS (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM po a JOIN po b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
             |), edges AS (
             |  SELECT u, v FROM half UNION ALL SELECT v, u FROM half
             |), l0 AS (
             |  SELECT DISTINCT u AS node, u AS lbl FROM edges
             |), l1 AS (
             |  SELECT v AS node, lbl FROM (
             |    SELECT e.v, l.lbl, COUNT(*) AS n
             |    FROM edges e JOIN l0 l ON e.u = l.node
             |    GROUP BY 1, 2)
             |  QUALIFY row_number() OVER (PARTITION BY v ORDER BY n DESC, lbl) = 1
             |), l2 AS (
             |  SELECT v AS node, lbl FROM (
             |    SELECT e.v, l.lbl, COUNT(*) AS n
             |    FROM edges e JOIN l1 l ON e.u = l.node
             |    GROUP BY 1, 2)
             |  QUALIFY row_number() OVER (PARTITION BY v ORDER BY n DESC, lbl) = 1
             |)
             |SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_members FROM l2
             |GROUP BY 1
             |ORDER BY n_members DESC NULLS LAST, lbl
             |LIMIT 50""".stripMargin)),

    // Weighted single-source shortest path (Bellman-Ford, three relax
    // rounds) — the weighted sibling of q_graph_bfs: distance is the SUM
    // of edge weights (min quantity per bipartite edge), not the hop
    // count, so the frontier can REVISIT a node when a longer-hop path is
    // cheaper — which is why relaxing needs min over (old, candidate)
    // every round rather than BFS's first-visit discipline. Same Pregel
    // superstep shape: per round ONE hash join of edges to the tentative
    // distances + ONE min-aggregate; per-round state O(reached),
    // weights/distances exact BIGINT. The oracle unrolls the rounds.
    "q_graph_sssp" -> Q(
      t => {
        val fwd = t.lineitem
          .groupBy((col("l_orderkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .agg(min(col("l_quantity").cast("long")).as("w"))
        val edges = fwd
          .union(fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
          // pre-partition on the relax-join key (see q_graph_bfs note;
          // pinned by GraphPlanFenceSpec)
          .transform(Checkpoints.partitioned(_, col("src")))
        val seeds = t.part.filter(col("p_size") === 1)
          .select((col("p_partkey") * 2 + 1).as("node"), lit(0L).as("dist"))
        var dist = seeds
        for (_ <- 1 to 3) {
          val relaxed = edges.join(dist, col("src") === col("node"))
            .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
          dist = dist.union(relaxed).groupBy(col("node"))
            .agg(min(col("dist")).as("dist"))
        }
        dist.orderBy(col("node"), col("dist"))
      },
      Some("""WITH edges0 AS (
             |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst,
             |         CAST(MIN(l_quantity) AS BIGINT) AS w
             |  FROM lineitem GROUP BY 1, 2
             |), edges AS (
             |  SELECT src, dst, w FROM edges0
             |  UNION ALL SELECT dst, src, w FROM edges0
             |), seeds AS (
             |  SELECT p_partkey * 2 + 1 AS node, CAST(0 AS BIGINT) AS dist
             |  FROM part WHERE p_size = 1
             |), r1 AS (
             |  SELECT node, MIN(dist) AS dist FROM (
             |    SELECT node, dist FROM seeds
             |    UNION ALL
             |    SELECT e.dst, s.dist + e.w FROM edges e JOIN seeds s ON e.src = s.node
             |  ) GROUP BY node
             |), r2 AS (
             |  SELECT node, MIN(dist) AS dist FROM (
             |    SELECT node, dist FROM r1
             |    UNION ALL
             |    SELECT e.dst, r.dist + e.w FROM edges e JOIN r1 r ON e.src = r.node
             |  ) GROUP BY node
             |), r3 AS (
             |  SELECT node, MIN(dist) AS dist FROM (
             |    SELECT node, dist FROM r2
             |    UNION ALL
             |    SELECT e.dst, r.dist + e.w FROM edges e JOIN r2 r ON e.src = r.node
             |  ) GROUP BY node
             |)
             |SELECT node, dist FROM r3
             |ORDER BY node NULLS FIRST, dist NULLS FIRST""".stripMargin)),

    // k-core decomposition (k=3, three peel rounds): repeatedly delete
    // nodes of degree < k and the edges they carry — the standard
    // dense-subgraph / spam-ring / influence-core primitive, and a THIRD
    // iteration pattern next to Pregel message-passing (PageRank/BFS/SSSP)
    // and star contraction (CC): the working SET shrinks monotonically,
    // so each round is cheaper than the last. Per round: ONE degree
    // count + TWO semi joins restricting the edge list to surviving
    // endpoints — all hash-keyed on node id, nothing quadratic; at 100 TB
    // the first round dominates and later rounds ride the shrunken
    // relation. Fixed rounds (the testdata graph stabilizes by three;
    // a production run iterates to fixpoint via the same
    // count-unchanged check CC uses). Output: surviving nodes with their
    // within-core degree, exact BIGINTs, oracle unrolled.
    "q_graph_kcore" -> Q(
      t => {
        val K = 3
        // u-partitioned checkpoints (Checkpoints.partitioned — a bare
        // localCheckpoint under AQE records UnknownPartitioning): each
        // round's degree count AND first semi join both key on u, so the
        // preserved partitioning removes two edge-sized exchanges per
        // round, leaving only the unavoidable v-side exchange
        var edges = Checkpoints.partitioned(
          symmetrize(coEdges(t, minShared = 2)), col("u"))
        for (_ <- 1 to 3) {
          val keep = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
            .filter(col("d") >= K).select(col("u").as("n"))
          edges = Checkpoints.partitioned(edges
            .join(keep, col("u") === col("n"), "left_semi")
            .join(keep.select(col("n").as("n2")), col("v") === col("n2"), "left_semi"),
            col("u"))
        }
        edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
          .orderBy(col("node"))
      },
      Some("""WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |half AS (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM po a JOIN po b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
             |), e0 AS (
             |  SELECT u, v FROM half UNION ALL SELECT v, u FROM half
             |), k1 AS (
             |  SELECT u FROM e0 GROUP BY u HAVING COUNT(*) >= 3
             |), e1 AS (
             |  SELECT u, v FROM e0
             |  WHERE u IN (SELECT u FROM k1) AND v IN (SELECT u FROM k1)
             |), k2 AS (
             |  SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 3
             |), e2 AS (
             |  SELECT u, v FROM e1
             |  WHERE u IN (SELECT u FROM k2) AND v IN (SELECT u FROM k2)
             |), k3 AS (
             |  SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= 3
             |), e3 AS (
             |  SELECT u, v FROM e2
             |  WHERE u IN (SELECT u FROM k3) AND v IN (SELECT u FROM k3)
             |)
             |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
             |FROM e3 GROUP BY 1
             |ORDER BY node NULLS FIRST""".stripMargin)),

    // Local clustering coefficient — triangles ÷ wedges per node,
    // 2·tri/(deg·(deg−1)), the canonical community-density metric that
    // q_graph_triangles's participation counts are the numerator of.
    // Exact integer micro-units (ONE integer division, operands exact
    // BIGINTs), zero-triangle nodes kept via left join + coalesce, deg ≥ 2
    // (a wedge needs two edges). Reuses [[Triangles.perNodeCounts]]'s
    // degree-oriented O(m^1.5) enumeration — the scale argument lives
    // there; the degree table adds one O(nodes) aggregate and the combine
    // is a node-keyed join. Oracle restates the whole orientation chain
    // plus the wedge formula independently.
    "q_graph_cluster_coef" -> Q(
      t => {
        val edges = coEdges(t, minShared = 2)
          .localCheckpoint(true)
        val deg = edges.select(col("u").as("node"))
          .unionAll(edges.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("d"))
        val tri = Triangles.perNodeCounts(edges)
          .select(col("node"), col("n_tri"))
        deg.join(tri, Seq("node"), "left")
          .filter(col("d") >= 2)
          .select(col("node"), col("d"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            expr("2 * coalesce(n_tri, 0) * 1000000 div (d * (d - 1))").as("cc_u"))
          .orderBy(col("node"))
      },
      Some("""WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT a.l_partkey AS u, b.l_partkey AS v
             |  FROM po a JOIN po b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
             |), deg AS (
             |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
             |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
             |  GROUP BY 1
             |), oe AS (
             |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
             |  FROM edges e
             |  JOIN deg du ON e.u = du.node
             |  JOIN deg dv ON e.v = dv.node
             |), tri AS (
             |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
             |  FROM oe e1
             |  JOIN oe e2 ON e1.s = e2.s AND e1.t <> e2.t
             |  JOIN oe e3 ON e3.s = e1.t AND e3.t = e2.t
             |), cnt AS (
             |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
             |    SELECT a AS node FROM tri
             |    UNION ALL SELECT b FROM tri
             |    UNION ALL SELECT c FROM tri)
             |  GROUP BY 1
             |)
             |SELECT d.node, d.d, COALESCE(c.n_tri, 0) AS n_tri,
             |       (2 * COALESCE(c.n_tri, 0) * 1000000) // (d.d * (d.d - 1)) AS cc_u
             |FROM deg d LEFT JOIN cnt c ON d.node = c.node
             |WHERE d.d >= 2
             |ORDER BY d.node NULLS FIRST""".stripMargin)))
}
