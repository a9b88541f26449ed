package graft.queries

import graft.operators.{AsOf, Partitioning, RangeJoin}
import org.apache.spark.sql.functions._

/** Join surface (SURVEY.md §2C joins row): inner/left/right/full equi-joins,
  * semi, anti, cross, broadcast hint, non-equi theta, and the composed as-of
  * join. Dimension tables (region/nation/supplier/part) are broadcast-sized
  * at any scale factor; fact-fact joins shuffle on their equi-keys.
  */
object Joins extends Catalog {

  /** Shared oracle for the keyed-interval twins — the INDEPENDENT naive
    * formulation (equi-join + overlap conjunction), so the native sweep is
    * gate-proven against ground truth, not self-compared.
    */
  private val intervalKeyedSql =
    """WITH ev AS (
      |  SELECT user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS lo,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 + event_id % 50 AS hi
      |  FROM events
      |), pur AS (
      |  SELECT user_id AS u2,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS lo2,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 + 30 AS hi2
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT user_id, COUNT(*) AS n_pairs
      |FROM ev JOIN pur ON user_id = u2 AND lo <= hi2 AND lo2 <= hi
      |GROUP BY user_id
      |ORDER BY user_id NULLS FIRST""".stripMargin

  def queries: Map[String, Q] = Map(
    "q_join_inner" -> Q(
      // r18 optimization: the orderkey join is hinted SHUFFLE_HASH with
      // the orders(+customer) side as build. Unhinted, the optimizer
      // broadcast the 150k-row joined orders side at bench scale (it
      // squeaks under the 10 MB estimate) — a serial driver-side collect
      // + HashedRelation build measured at ~0.5 s/run (exec 1.4 s →
      // 0.9 s with the broadcast suppressed) — while at 100 TB
      // that side never fits a broadcast and the plan degrades to the
      // shuffle anyway. The hint makes bench plan == scale plan: both
      // sides exchange on the orderkey, the smaller joined-orders side
      // builds a per-partition hash table (guide §3.1: shuffled hash
      // beats sort-merge when one side is moderately smaller — no sort
      // of the fact), customer stays a broadcast dim inside the build
      // side. Results identical (join strategy only); oracle-checked.
      t => t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"))
        .hint("shuffle_hash")
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          round(psum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment,
                     ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE), 2) AS revenue,
                     COUNT(*) AS n_lines
              FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              GROUP BY c_mktsegment
              ORDER BY c_mktsegment NULLS FIRST""")),

    "q_join_left" -> Q(
      t => t.customer
        .join(t.orders.filter(col("o_totalprice") > 250000),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),   // skips nulls
          count(lit(1)).as("n_rows"),                // counts unmatched too
          countDistinct(col("c_custkey")).as("n_cust"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, COUNT(o_orderkey) AS n_orders, COUNT(*) AS n_rows,
                     COUNT(DISTINCT c_custkey) AS n_cust
              FROM customer
              LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 250000) o
                ON c_custkey = o_custkey
              GROUP BY c_mktsegment
              ORDER BY c_mktsegment NULLS FIRST""")),

    "q_join_right" -> Q(
      t => t.lineitem
        .join(t.part, col("l_partkey") === col("p_partkey"), "right")
        .groupBy(col("p_brand"))
        .agg(
          count(col("l_orderkey")).as("n_lines"),
          count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("p_brand")),
      Some("""SELECT p_brand, COUNT(l_orderkey) AS n_lines, COUNT(*) AS n_rows,
                     ROUND(SUM(l_quantity), 2) AS sum_qty
              FROM lineitem
              RIGHT JOIN part ON l_partkey = p_partkey
              GROUP BY p_brand
              ORDER BY p_brand NULLS FIRST""")),

    "q_join_full" -> Q(
      t => t.customer.filter(col("c_acctbal") < 0)
        .join(t.orders.filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "full")
        .select(
          when(col("c_custkey").isNull, "order_only")
            .when(col("o_orderkey").isNull, "customer_only")
            .otherwise("both").as("side"))
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("side")),
      Some("""SELECT side, COUNT(*) AS n FROM (
                SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
                            WHEN o_orderkey IS NULL THEN 'customer_only'
                            ELSE 'both' END AS side
                FROM (SELECT * FROM customer WHERE c_acctbal < 0) c
                FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
                  ON c_custkey = o_custkey)
              GROUP BY side
              ORDER BY side NULLS FIRST""")),

    "q_join_semi" -> Q(
      t => t.customer
        .join(t.orders.filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"), round(msum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, COUNT(*) AS n_cust,
                     ROUND(CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_bal
              FROM customer
              WHERE EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
              GROUP BY c_mktsegment
              ORDER BY c_mktsegment NULLS FIRST""")),

    "q_join_anti" -> Q(
      t => t.customer
        .join(t.orders.filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("n_name"), col("n_cust")),
      Some("""SELECT n_name, COUNT(*) AS n_cust
              FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              WHERE NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey AND o_totalprice > 400000)
              GROUP BY n_name
              ORDER BY n_name NULLS FIRST, n_cust NULLS FIRST""")),

    "q_join_cross" -> Q(
      t => t.region.select(col("r_name").as("r1"))
        .crossJoin(t.region.select(col("r_name").as("r2")))
        .orderBy(col("r1"), col("r2")),
      Some("""SELECT a.r_name AS r1, b.r_name AS r2
              FROM region a CROSS JOIN region b
              ORDER BY r1 NULLS FIRST, r2 NULLS FIRST""")),

    "q_join_theta" -> Q(
      t => {
        val n1 = t.nation.select(col("n_nationkey").as("k1"), col("n_regionkey").as("rk1"))
        val n2 = t.nation.select(col("n_nationkey").as("k2"), col("n_regionkey").as("rk2"))
        n1.join(n2, col("rk1") < col("rk2"))
          .groupBy(col("rk1"), col("rk2"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("rk1"), col("rk2"))
      },
      Some("""SELECT a.n_regionkey AS rk1, b.n_regionkey AS rk2, COUNT(*) AS n_pairs
              FROM nation a JOIN nation b ON a.n_regionkey < b.n_regionkey
              GROUP BY a.n_regionkey, b.n_regionkey
              ORDER BY rk1 NULLS FIRST, rk2 NULLS FIRST""")),

    "q_join_broadcast" -> Q(
      t => t.supplier
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_supp"), round(mavg(col("s_acctbal")), 2).as("avg_bal"))
        .orderBy(col("r_name")),
      Some("""SELECT r_name, COUNT(*) AS n_supp,
                     ROUND(CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(s_acctbal), 2) AS avg_bal
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name
              ORDER BY r_name NULLS FIRST""")),

    // Bloom semi-join reduction (operators/BloomPrefilter): the fact side
    // is cut to might-join rows BEFORE any exchange, via Spark's own
    // BloomFilterAggregate/BloomFilterMightContain pair planted explicitly
    // (a scalar-subquery bloom build over the filtered dim keys — the
    // rewrite InjectRuntimeFilter performs when its thresholds fire). The
    // oracle is the PLAIN join SQL: might_contain admits false positives
    // only, and the exact join that follows removes them, so the bloom
    // never changes the result — only the exchange volume. The broadcast
    // dim join here would of course not need the bloom at all; the shape
    // stands in for the shuffle join it protects at 100 TB (see
    // BloomPrefilterSpec for the measured reduction + plan fence).
    "q_join_bloom_prefilter" -> Q(
      t => {
        val dim = t.supplier.filter(col("s_nationkey") % 5 === 3)
          .select(col("s_suppkey"), col("s_name"))
        val fact = graft.operators.BloomPrefilter.prefilter(
          t.lineitem, "l_suppkey", dim.select(col("s_suppkey")),
          expectedItems = 10000L)
        fact.join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_suppkey"), col("s_name"))
          .agg(count(lit(1)).as("n_items"),
            round(msum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name, COUNT(*) AS n_items,
                     ROUND(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              WHERE s_nationkey % 5 = 3
              GROUP BY s_suppkey, s_name
              ORDER BY s_suppkey NULLS FIRST""")),

    // The purchase side is pre-aggregated to ONE row per (user_id, ts),
    // keeping max(event_id), in both the Spark query and the oracle SQL:
    // DuckDB's ASOF JOIN leaves the choice among right rows tying on the
    // join time unspecified, while AsOf.nearestEarlier deterministically
    // picks the max value struct — so with same-instant duplicates the gate
    // would be data-dependent. Collapsing ties before the join makes both
    // engines agree by construction under any testdata regeneration, and
    // matches the operator's documented max-struct tie rule.
    "q_join_asof" -> Q(
      t => {
        val events = t.events
        val purchases = events
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("event_id"))
        AsOf.nearestEarlier(
          events.select(col("event_id"), col("user_id"), col("ts")),
          purchases, key = "user_id", leftTime = "ts", rightTime = "ts",
          valueCols = Seq("event_id"))
          .select(col("event_id"), col("asof_event_id").as("prev_purchase_id"))
          .orderBy(col("event_id"), col("prev_purchase_id"))
      },
      Some("""SELECT e.event_id, p.event_id AS prev_purchase_id
              FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
              ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                                     MAX(event_id) AS event_id
                              FROM events WHERE event_type = 'purchase'
                              GROUP BY 1, 2) p
                ON e.user_id = p.user_id AND e.ts > p.ts
              ORDER BY e.event_id NULLS FIRST, prev_purchase_id NULLS FIRST""")),

    // Native-operator twin of q_join_asof: the same semantics through the
    // engine's whole-operator Catalyst extension (plans/AsOfJoin.scala —
    // custom LogicalPlan + injected Strategy + sort-merge AsOfJoinExec)
    // instead of the composed union+window plan. Two key-hash exchanges in
    // each side's OWN schema + two in-partition sorts + a one-pointer
    // per-partition merge with O(1) state — no union widening, no window
    // frame machinery. Bit-identical to the composed form by AsOfNativeSpec
    // (including the (key, time)-tie greatest-value contract) and gated
    // here against the SAME DuckDB ASOF oracle.
    "q_join_asof_native" -> Q(
      t => {
        val events = t.events
        val purchases = events
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("event_id"))
        graft.plans.NativeAsOf.backward(
          events.select(col("event_id"), col("user_id"), col("ts")),
          purchases, key = "user_id", leftTime = "ts", rightTime = "ts",
          valueCols = Seq("event_id"))
          .select(col("event_id"), col("asof_event_id").as("prev_purchase_id"))
          .orderBy(col("event_id"), col("prev_purchase_id"))
      },
      Some("""SELECT e.event_id, p.event_id AS prev_purchase_id
              FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
              ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                                     MAX(event_id) AS event_id
                              FROM events WHERE event_type = 'purchase'
                              GROUP BY 1, 2) p
                ON e.user_id = p.user_id AND e.ts > p.ts
              ORDER BY e.event_id NULLS FIRST, prev_purchase_id NULLS FIRST""")),

    // Forward as-of: each event's NEXT purchase (smallest strictly-later
    // purchase ts per user) — the mirror of q_join_asof, same single-shuffle
    // union+window plan with time sorted descending (operators/AsOf
    // .nearestLater). DuckDB's ASOF with a < condition states the semantics;
    // the purchase side is tie-collapsed per (user_id, ts) for the same
    // determinism reason documented on q_join_asof.
    "q_join_asof_forward" -> Q(
      t => {
        val events = t.events
        val purchases = events
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("event_id"))
        AsOf.nearestLater(
          events.select(col("event_id"), col("user_id"), col("ts")),
          purchases, key = "user_id", leftTime = "ts", rightTime = "ts",
          valueCols = Seq("event_id"))
          .select(col("event_id"), col("asof_event_id").as("next_purchase_id"))
          .orderBy(col("event_id"), col("next_purchase_id"))
      },
      Some("""SELECT e.event_id, p.event_id AS next_purchase_id
              FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
              ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                                     MAX(event_id) AS event_id
                              FROM events WHERE event_type = 'purchase'
                              GROUP BY 1, 2) p
                ON e.user_id = p.user_id AND e.ts < p.ts
              ORDER BY e.event_id NULLS FIRST, next_purchase_id NULLS FIRST""")),

    // Native-operator twin of q_join_asof_forward: the same semantics via
    // AsOfJoinExec's forward mode — the right child sorts values
    // DESCENDING so the first peeked qualifying row is the tie winner,
    // and the merge only peeks (several left rows can share one forward
    // match). Same two-exchange shape as the backward native twin.
    "q_join_asof_native_forward" -> Q(
      t => {
        val events = t.events
        val purchases = events
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("event_id"))
        graft.plans.NativeAsOf.forward(
          events.select(col("event_id"), col("user_id"), col("ts")),
          purchases, key = "user_id", leftTime = "ts", rightTime = "ts",
          valueCols = Seq("event_id"))
          .select(col("event_id"), col("asof_event_id").as("next_purchase_id"))
          .orderBy(col("event_id"), col("next_purchase_id"))
      },
      Some("""SELECT e.event_id, p.event_id AS next_purchase_id
              FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
              ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                                     MAX(event_id) AS event_id
                              FROM events WHERE event_type = 'purchase'
                              GROUP BY 1, 2) p
                ON e.user_id = p.user_id AND e.ts < p.ts
              ORDER BY e.event_id NULLS FIRST, next_purchase_id NULLS FIRST""")),

    // Nearest as-of in either direction (operators/AsOf.nearest): each
    // event's CLOSEST purchase by absolute time distance, earlier winning
    // an exact two-sided tie — the feature-join variant backward/forward
    // as-of can't express. Same single-shuffle union plan with TWO frames
    // over ONE in-partition sort. The oracle is the quadratic
    // all-pairs-per-user argmin formulation the window plan avoids at
    // scale; the purchase side is tie-collapsed per (user_id, ts) so both
    // formulations are deterministic.
    // Native-operator twin of q_join_asof_nearest: AsOfJoinExec's nearest
    // mode holds the carried backward candidate and the peeked forward
    // candidate in ONE merge pass and picks by exact integer µs distance
    // (backward wins the two-sided tie) — the composed form needs two
    // window frames over its union; the native form needs no union at
    // all. Same quadratic per-user argmin oracle as the composed twin.
    "q_join_asof_native_nearest" -> Q(
      t => {
        val events = t.events
        val purchases = events
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("event_id"))
        graft.plans.NativeAsOf.nearest(
          events.select(col("event_id"), col("user_id"), col("ts")),
          purchases, key = "user_id", leftTime = "ts", rightTime = "ts",
          valueCols = Seq("event_id"))
          .select(col("event_id"), col("asof_event_id").as("near_purchase_id"))
          .orderBy(col("event_id"), col("near_purchase_id"))
      },
      Some("""SELECT event_id, near_purchase_id FROM (
              |  SELECT e.event_id, p.event_id AS near_purchase_id,
              |         row_number() OVER (PARTITION BY e.event_id
              |           ORDER BY abs(epoch_us(CAST(e.ts AS TIMESTAMP))
              |                      - epoch_us(p.ts)),
              |                    p.ts) AS rn
              |  FROM events e
              |  LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
              |                    MAX(event_id) AS event_id
              |             FROM events WHERE event_type = 'purchase'
              |             GROUP BY 1, 2) p
              |    ON e.user_id = p.user_id)
              |WHERE rn = 1
              |ORDER BY event_id NULLS FIRST, near_purchase_id NULLS FIRST""".stripMargin)),

    "q_join_asof_nearest" -> Q(
      t => {
        val events = t.events
        val purchases = events
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("event_id"))
        AsOf.nearest(
          events.select(col("event_id"), col("user_id"), col("ts")),
          purchases, key = "user_id", leftTime = "ts", rightTime = "ts",
          valueCols = Seq("event_id"))
          .select(col("event_id"), col("asof_event_id").as("near_purchase_id"))
          .orderBy(col("event_id"), col("near_purchase_id"))
      },
      Some("""SELECT event_id, near_purchase_id FROM (
              |  SELECT e.event_id, p.event_id AS near_purchase_id,
              |         row_number() OVER (PARTITION BY e.event_id
              |           ORDER BY abs(epoch_us(CAST(e.ts AS TIMESTAMP))
              |                      - epoch_us(p.ts)),
              |                    p.ts) AS rn
              |  FROM events e
              |  LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
              |                    MAX(event_id) AS event_id
              |             FROM events WHERE event_type = 'purchase'
              |             GROUP BY 1, 2) p
              |    ON e.user_id = p.user_id)
              |WHERE rn = 1
              |ORDER BY event_id NULLS FIRST, near_purchase_id NULLS FIRST""".stripMargin)),

    // Bucketed range join (operators/RangeJoin): lineitems shipped within 30
    // days of a sampled order's date. The oracle states the NAIVE range
    // predicate; the Spark side must produce identical rows from the
    // bucket-equi-join + re-check plan — proving the scale formulation is
    // semantics-preserving. 16-day buckets ≈ half the interval length, so
    // each interval explodes to ~3 bucket rows.
    "q_join_range_bucketed" -> Q(
      t => {
        // o_orderdate / l_shipdate are parquet timestamp[ms] WITHOUT a
        // timezone, which Spark 4 reads as TIMESTAMP_NTZ — a type
        // unix_micros rejects. The session is pinned to UTC (Graft and
        // Verify both set spark.sql.session.timeZone=UTC), so the NTZ→LTZ
        // cast is the identity on the underlying instant and unix_micros
        // then matches DuckDB's epoch_us(o_orderdate) exactly.
        val dayUs = 86400000000L
        def dateUs(c: org.apache.spark.sql.Column) =
          unix_micros(c.cast("timestamp"))
        val iv = t.orders.filter(col("o_orderkey") % 997 === 0)
          .select(col("o_orderkey"),
            dateUs(col("o_orderdate")).as("lo"),
            (dateUs(col("o_orderdate")) + lit(30L * dayUs)).as("hi"))
        val pts = t.lineitem.select(
          dateUs(col("l_shipdate")).as("p"), col("l_extendedprice"))
        RangeJoin.pointInInterval(pts, "p", iv, "lo", "hi",
          bucketWidth = 16L * dayUs)
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_items"),
            round(msum(col("l_extendedprice")), 2).as("sum_price"))
          .orderBy(col("o_orderkey"), col("n_items"), col("sum_price"))
      },
      Some("""WITH iv AS (
              |  SELECT o_orderkey, epoch_us(o_orderdate) AS lo,
              |         epoch_us(o_orderdate) + 2592000000000 AS hi
              |  FROM orders WHERE o_orderkey % 997 = 0
              |)
              |SELECT iv.o_orderkey, COUNT(*) AS n_items,
              |       ROUND(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price
              |FROM iv JOIN lineitem
              |  ON epoch_us(l_shipdate) >= lo AND epoch_us(l_shipdate) <= hi
              |GROUP BY iv.o_orderkey
              |ORDER BY o_orderkey NULLS FIRST, n_items NULLS FIRST, sum_price NULLS FIRST""".stripMargin)),

    // Deep star-join anchor (r8 verdict task 7) — TPC-H Q10's shape over
    // five tables: a selective quarter filter on orders, returned-items
    // filter on lineitem, the lineitem⋈orders fact-fact edge, the
    // orders⋈customer mid edge, and the customer⋈nation⋈region dim chain,
    // then revenue per customer and a deterministic top-20 (ties broken on
    // c_custkey; revenue is psum-exact so the cut line is engine-stable).
    // Scale shape: both selective filters reach the parquet scans
    // (PushedFilters); nation⋈region is a forced broadcast (dims are
    // broadcast-sized at ANY scale factor); the fact-fact and mid edges are
    // left to AQE — at gated scale the 1/26-quarter orders side broadcasts
    // at runtime, at 100 TB both degrade to shuffles on their equi-keys
    // instead of OOMing. StarJoinPlanSpec pins the pushdowns and the
    // runtime broadcast; the headline bench carries it as the deepest
    // relational anchor.
    "q_join_star" -> Q(
      t => {
        val o = t.orders
          .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"))
        val l = t.lineitem.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val c = t.customer.select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        val nr = t.nation
          .join(broadcast(t.region.filter(col("r_name") === "EUROPE")
            .select(col("r_regionkey"))),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(round(psum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc_nulls_last, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
              |       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE), 2) AS revenue
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation   ON c_nationkey = n_nationkey
              |JOIN region   ON n_regionkey = r_regionkey
              |WHERE l_returnflag = 'R'
              |  AND o_orderdate >= TIMESTAMP '1996-10-01'
              |  AND o_orderdate <  TIMESTAMP '1997-01-01'
              |  AND r_name = 'EUROPE'
              |GROUP BY c_custkey, c_name, n_name
              |ORDER BY revenue DESC NULLS LAST, c_custkey
              |LIMIT 20""".stripMargin)),

    // TPC-H Q2's shape — minimum-cost supplier per part with ties KEPT:
    // a selective dim filter (p_size ≤ 3, pushed to the part scan), a
    // supplier⋈nation⋈region dim chain restricted to one region, a
    // per-(part, supplier) cost aggregate over the fact table, and the
    // correlated "= (SELECT MIN(...))" decorrelated the way Catalyst
    // plans it: a per-part min aggregate joined back on
    // (partkey, cost) — equality on exact cent BIGINTs, so tie survival
    // is engine-stable by construction (every supplier AT the min
    // survives on both engines; no float boundary to disagree on).
    // Scale shape: part filter and region chain are broadcast dims
    // (forced for nation⋈region — broadcast-sized at any SF; part and
    // supplier edges left to AQE, degrading to equi-shuffles at 100 TB);
    // the join-back side is one row per qualifying part, which AQE
    // broadcasts at runtime. Cost = MIN over the fact rows, a map-side
    // partial-agg'd shuffle on the (part, supplier) pair key.
    "q_join_min_cost_supplier" -> Q(
      t => {
        val sn = t.supplier
          .join(broadcast(t.nation
              .join(broadcast(t.region.filter(col("r_name") === "EUROPE")
                .select(col("r_regionkey"))),
                col("n_regionkey") === col("r_regionkey"))
              .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        val cost = t.lineitem
          .join(t.part.filter(col("p_size") <= 3)
            .select(col("p_partkey"), col("p_type")),
            col("l_partkey") === col("p_partkey"))
          .join(sn, col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("p_partkey"), col("p_type"), col("s_suppkey"),
            col("s_name"), col("n_name"))
          .agg(min(cents(col("l_extendedprice")).cast("long")).as("cost_cents"))
        val best = cost.groupBy(col("p_partkey").as("bk"))
          .agg(min(col("cost_cents")).as("best_cents"))
        cost.join(best, col("p_partkey") === col("bk") &&
            col("cost_cents") === col("best_cents"))
          .select(col("p_partkey"), col("p_type"), col("s_suppkey"),
            col("s_name"), col("n_name"), col("cost_cents"))
          .orderBy(col("p_partkey"), col("p_type"), col("s_suppkey"),
            col("s_name"), col("n_name"), col("cost_cents"))
      },
      Some("""WITH cost AS (
              |  SELECT p_partkey, p_type, s_suppkey, s_name, n_name,
              |         MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cost_cents
              |  FROM lineitem
              |  JOIN part     ON l_partkey = p_partkey AND p_size <= 3
              |  JOIN supplier ON l_suppkey = s_suppkey
              |  JOIN nation   ON s_nationkey = n_nationkey
              |  JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
              |  GROUP BY 1, 2, 3, 4, 5
              |), best AS (
              |  SELECT p_partkey AS bk, MIN(cost_cents) AS best_cents
              |  FROM cost GROUP BY 1
              |)
              |SELECT p_partkey, p_type, s_suppkey, s_name, n_name, cost_cents
              |FROM cost JOIN best ON p_partkey = bk AND cost_cents = best_cents
              |ORDER BY p_partkey NULLS FIRST, p_type NULLS FIRST,
              |         s_suppkey NULLS FIRST, s_name NULLS FIRST,
              |         n_name NULLS FIRST, cost_cents NULLS FIRST""".stripMargin)),

    // Null-skew-safe LEFT OUTER join under the oracle gate: 90% of the
    // fact rows carry a NULL foreign key (o_custkey blanked unless
    // o_orderkey % 10 = 0 — the sparse-FK shape of clickstreams with
    // anonymous users). A plain shuffle plan sends every null-key row to
    // the single hash(null) reducer; `Partitioning.nullSkewLeftJoin`
    // routes them around the join entirely (they cannot match — their
    // joined shape is left columns + null right columns by construction)
    // and shuffles only the 10% matchable stream. The oracle replays the
    // PLAIN LEFT JOIN in SQL, so the gate proves the rewrite is
    // result-identical on real data; NullSkewJoinSpec pins the synthetic
    // edge shapes (all-null, no-null, unmatched non-null keys).
    "q_join_null_skew" -> Q(
      t => {
        val l = t.orders.select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, col("o_custkey")).as("k"),
          cents(col("o_totalprice")).cast("long").as("price_cents"))
        val r = t.customer.select(col("c_custkey").as("k"), col("c_name"))
        Partitioning.nullSkewLeftJoin(l, r, "k")
          .select(col("o_orderkey"), col("k"), col("c_name"), col("price_cents"))
          .orderBy(col("o_orderkey"), col("k"), col("c_name"), col("price_cents"))
      },
      Some("""WITH l AS (
              |  SELECT o_orderkey,
              |         CASE WHEN o_orderkey % 10 = 0 THEN o_custkey END AS k,
              |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
              |  FROM orders
              |)
              |SELECT l.o_orderkey, l.k, c.c_name, l.price_cents
              |FROM l LEFT JOIN customer c ON l.k = c.c_custkey
              |ORDER BY o_orderkey NULLS FIRST, k NULLS FIRST,
              |         c_name NULLS FIRST, price_cents NULLS FIRST""".stripMargin)),

    // Lakehouse MERGE INTO (upsert + delete), stated relationally: base
    // table ⟕⟖ changes on the key, matched 'U' rows take the update's
    // values, matched 'D' rows vanish, unmatched 'U' rows insert,
    // unmatched 'D' tombstones no-op — every branch of the MERGE spec in
    // one full-outer join + one filter + coalesce projection, with a
    // change-type audit column. Both sides derive deterministically from
    // orders (base = keys ∤3, changes = keys ∣2, deletes = keys ∣10).
    // Scale shape: ONE shuffle on the merge key for both sides — a full
    // outer join admits no broadcast, which is why production MERGE
    // engines prune to touched files/partitions first (the q_layout_*
    // planners' stats are exactly what that pruning consults) and why the
    // streaming twin (StreamOps.cdcSnapshot) compacts per microbatch
    // instead of re-merging history.
    "q_merge_upsert" -> Q(
      t => {
        val base = t.orders.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("b_status"),
            cents(col("o_totalprice")).cast("long").as("b_cents"))
        val upd = t.orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("k"),
            when(col("o_orderkey") % 10 === 0, "D").otherwise("U").as("op"),
            lit("U").as("u_status"),
            (cents(col("o_totalprice")).cast("long") + 50).as("u_cents"))
        base.join(upd, Seq("k"), "full_outer")
          .filter(col("op").isNull || col("op") === "U")
          .select(col("k"),
            coalesce(col("u_status"), col("b_status")).as("status"),
            coalesce(col("u_cents"), col("b_cents")).as("price_cents"),
            when(col("op").isNull, "kept")
              .when(col("b_status").isNull, "inserted")
              .otherwise("updated").as("change"))
          .orderBy(col("k"), col("status"), col("price_cents"), col("change"))
      },
      Some("""WITH base AS (
              |  SELECT o_orderkey AS k, o_orderstatus AS b_status,
              |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS b_cents
              |  FROM orders WHERE o_orderkey % 3 <> 0
              |), upd AS (
              |  SELECT o_orderkey AS k,
              |         CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
              |         'U' AS u_status,
              |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 50 AS u_cents
              |  FROM orders WHERE o_orderkey % 2 = 0
              |)
              |SELECT COALESCE(b.k, u.k) AS k,
              |       COALESCE(u_status, b_status) AS status,
              |       COALESCE(u_cents, b_cents) AS price_cents,
              |       CASE WHEN op IS NULL THEN 'kept'
              |            WHEN b_status IS NULL THEN 'inserted'
              |            ELSE 'updated' END AS change
              |FROM base b FULL JOIN upd u ON b.k = u.k
              |WHERE op IS NULL OR op = 'U'
              |ORDER BY k NULLS FIRST, status NULLS FIRST,
              |         price_cents NULLS FIRST, change NULLS FIRST""".stripMargin)),

    // Skew-safe salted join under the oracle gate: every even l_orderkey
    // maps onto key 0 (≈50% of lineitem rows share one join key), the rest
    // fold into a ≤998-key space — the hot-key × small-dim shape the
    // explicit salt exists for, when the optimizer can't see the skew
    // (post-transform keys) or can't rescue it (non-sort-merge plans). The
    // dim side is one row per key (distinct + derived attr, honoring
    // saltedJoin's small-right replication contract); saltedJoin spreads
    // key 0 across 16 (key, salt) reducers; and salting must not change the
    // RESULT — the oracle replays the same join unsalted in plain SQL.
    // ScaleProbeSpec pins the busiest reducer's salted-vs-unsalted row
    // counts on this key shape.
    "q_join_salted_skew" -> Q(
      t => {
        val left = t.lineitem.select(
          when(col("l_orderkey") % 2 === 0, lit(0L))
            .otherwise(lit(1L) + col("l_orderkey") % 997).as("k"),
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        val dim = left.select(col("k")).distinct()
          .withColumn("grp", col("k") % 97)
        Partitioning.saltedJoin(left, dim, "k", saltBuckets = 16,
          saltFrom = Seq("l_orderkey", "l_linenumber"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), round(msum(col("l_quantity")), 2).as("qty"))
          .orderBy(col("grp"), col("n"), col("qty"))
      },
      Some("""WITH l AS (
              |  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE 1 + l_orderkey % 997 END AS k,
              |         l_quantity
              |  FROM lineitem
              |), d AS (
              |  SELECT DISTINCT k, k % 97 AS grp FROM l
              |)
              |SELECT d.grp, COUNT(*) AS n,
              |       ROUND(CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS qty
              |FROM l JOIN d USING (k)
              |GROUP BY d.grp
              |ORDER BY grp NULLS FIRST, n NULLS FIRST, qty NULLS FIRST""".stripMargin)),

    // Multi-correlation anchor — TPC-H Q21's shape: suppliers who were the
    // ONLY late shipper in a multi-supplier order. Two correlated
    // subqueries over the same fact — EXISTS(another supplier in the
    // order) and NOT EXISTS(another LATE supplier in the order) — written
    // as the semi/anti joins Catalyst decorrelates them to, because the
    // DataFrame API states the join form directly (the oracle keeps the
    // EXISTS/NOT EXISTS spelling). "Late" is l_shipdate > o_orderdate +
    // 900 days (this lineitem has no receipt/commit dates; the cutoff
    // keeps the late side ~5% selective like the original predicate).
    // Scale shape (r18): `late` is distinct-collapsed to (orderkey,
    // suppkey) and consumed by exactly one arm (its per-order count), so
    // it stays pipelined — no checkpoint; the EXISTS correlation is a
    // min≠max aggregate over the fact (map-side partials, exchange ≤ one
    // row per order — never a broadcast of the fact projection); the NOT
    // EXISTS correlation is the late group's count == 1;
    // supplier/nation close the chain as broadcast dims.
    "q_join_waiting_suppliers" -> Q(
      t => {
        val late = t.lineitem
          .join(t.orders.filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 900 DAY"))
          .select(col("l_orderkey"), col("l_suppkey"))
          .distinct()
        // r18 optimization, results identical (oracle keeps the
        // EXISTS/NOT EXISTS spelling as the independent gate):
        //  - EXISTS(another supplier in the order) ⟺ the order's distinct
        //    supplier set has ≥ 2 members ⟺ min(l_suppkey) ≠ max(l_suppkey)
        //    — ONE aggregate over the fact with map-side partials, so the
        //    exchange carries ≤ one row per order instead of the old
        //    left-semi whose build side was the full 2-col fact projection
        //    (600k rows broadcast-built ON THE DRIVER at bench scale; both
        //    sides shuffled at 100 TB). Aggregate-before-shuffle strictly
        //    shrinks the exchange at any scale.
        //  - NOT EXISTS(another LATE supplier) ⟺ the order's late group
        //    (already distinct pairs) has exactly one row — a count over
        //    the late relation replaces the anti self-join,
        //    and the surviving pair is (orderkey, min suppkey) of that
        //    1-row group.
        val multi = t.lineitem
          .groupBy(col("l_orderkey").as("m_orderkey"))
          .agg((min(col("l_suppkey")) =!= max(col("l_suppkey"))).as("multi"))
          .filter(col("multi"))
          .select(col("m_orderkey"))
        val waiting = late
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_late"), min(col("l_suppkey")).as("l_suppkey"))
          .filter(col("n_late") === 1)
          .join(multi, col("l_orderkey") === col("m_orderkey"), "left_semi")
          .select(col("l_orderkey"), col("l_suppkey"))
        val sn = t.supplier
          .join(broadcast(t.nation
            .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
            .select(col("n_nationkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"))
        waiting.join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc_nulls_last, col("s_name"))
          .limit(100)
      },
      Some("""WITH late AS (
              |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
              |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              |  WHERE o.o_orderstatus = 'F'
              |    AND l.l_shipdate > o.o_orderdate + INTERVAL 900 DAY
              |), waiting AS (
              |  SELECT l1.l_orderkey, l1.l_suppkey FROM late l1
              |  WHERE EXISTS (SELECT 1 FROM lineitem l2
              |                WHERE l2.l_orderkey = l1.l_orderkey
              |                  AND l2.l_suppkey <> l1.l_suppkey)
              |    AND NOT EXISTS (SELECT 1 FROM late l3
              |                    WHERE l3.l_orderkey = l1.l_orderkey
              |                      AND l3.l_suppkey <> l1.l_suppkey)
              |)
              |SELECT s_name, COUNT(*) AS numwait
              |FROM waiting
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation   ON s_nationkey = n_nationkey
              |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
              |GROUP BY s_name
              |ORDER BY numwait DESC NULLS LAST, s_name
              |LIMIT 100""".stripMargin)),

    // Global-scalar-filter + anti-join anchor — TPC-H Q22's shape: an
    // ungrouped aggregate over one table gates a filter on that same table,
    // whose survivors anti-join the fact. "Above-average-balance customers
    // with no high-value order", grouped by nation. Numeric contract:
    // balances become micro-unit BIGINTs via floor(x·100 + 0.5) — one IEEE
    // multiply+floor, engine-identical — and the global mean is an integer
    // division, so the > threshold never touches float summation order.
    // Scale shape: the scalar aggregate reduces to ONE row map-side
    // (partial sums) and rejoins as a broadcast-literal cross join — no
    // shuffle of the filtered side; the anti join is the only fact shuffle
    // (orders pre-filtered on o_totalprice BEFORE the exchange, so only
    // high-value keys move); customer is scanned twice (scalar + probe),
    // both scans column-pruned to 3 cols, cheaper at 100 TB than
    // materializing a checkpoint of the full customer projection.
    "q_join_dormant_rich" -> Q(
      t => {
        val bal = t.customer.select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal_u"))
        val avgU = bal.filter(col("bal_u") > 0)
          .agg(expr("sum(bal_u) div count(1)").as("avg_u"))
        val rich = bal.crossJoin(broadcast(avgU))
          .filter(col("bal_u") > col("avg_u"))
        val bigOrders = t.orders.filter(col("o_totalprice") > 350000)
          .select(col("o_custkey"))
        rich.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("numcust"), sum(col("bal_u")).as("totbal_u"))
          .orderBy(col("c_nationkey"))
      },
      Some("""WITH bal AS (
              |  SELECT c_custkey, c_nationkey,
              |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_u
              |  FROM customer
              |), avgp AS (
              |  SELECT CAST(SUM(bal_u) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avg_u
              |  FROM bal WHERE bal_u > 0
              |), rich AS (
              |  SELECT b.* FROM bal b CROSS JOIN avgp WHERE b.bal_u > avg_u
              |)
              |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
              |       CAST(SUM(bal_u) AS BIGINT) AS totbal_u
              |FROM rich
              |WHERE NOT EXISTS (SELECT 1 FROM orders o
              |                  WHERE o.o_custkey = rich.c_custkey
              |                    AND o.o_totalprice > 350000)
              |GROUP BY 1
              |ORDER BY c_nationkey NULLS FIRST""".stripMargin)),

    // Aggregate-then-join anchor — TPC-H Q18's shape: group the fact on its
    // own join key with a HAVING-style filter, then join the survivors back
    // through orders to customer for a deterministic top-25. Scale shape:
    // the groupBy(l_orderkey) output is already hash-partitioned on the
    // join key, so the orders edge reuses that partitioning (one fact
    // shuffle, not two); the HAVING filter shrinks the agg side to ~1.5% of
    // orders, so AQE broadcasts it at runtime instead of shuffling orders —
    // and at 100 TB the same plan degrades to a co-partitioned shuffle join
    // rather than OOMing. total_qty is msum-exact, ties at the cut break on
    // the unique o_orderkey.
    "q_join_agg_having" -> Q(
      t => {
        val big = t.lineitem.groupBy(col("l_orderkey"))
          .agg(round(msum(col("l_quantity")), 2).as("total_qty"))
          .filter(col("total_qty") > 250)
        big.join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("total_price"), col("total_qty"))
          .orderBy(col("total_qty").desc_nulls_last, col("o_orderkey"))
          .limit(25)
      },
      Some("""WITH big AS (
              |  SELECT l_orderkey,
              |         ROUND(CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_qty
              |  FROM lineitem
              |  GROUP BY l_orderkey
              |  HAVING ROUND(CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) > 250
              |)
              |SELECT c_custkey, c_name, o_orderkey,
              |       ROUND(o_totalprice, 2) AS total_price, total_qty
              |FROM big
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |ORDER BY total_qty DESC NULLS LAST, o_orderkey
              |LIMIT 25""".stripMargin)),

    // Per-group-threshold correlated aggregate — TPC-H Q17's shape: revenue
    // from lineitems whose quantity sits below a fraction of their part's
    // OWN average quantity. The correlated scalar subquery decorrelates into
    // a per-part aggregate joined back to the same fact. Numeric contract:
    // l_quantity is integral (1..50) so qty is an exact BIGINT, and the
    // threshold qty < 0.2·avg(qty) is evaluated as qty·5·cnt < sum — pure
    // int64 arithmetic, no float average, engine-identical by construction.
    // Scale shape: part is brand/size-filtered then BROADCAST, so both the
    // stats branch and the probe branch scan only matching lines (the
    // broadcast join prunes before the exchange) with 3-column pruning; the
    // per-part aggregate shrinks its branch to one row per part BEFORE the
    // join, so AQE broadcasts it at gated scales, and at 100 TB the same
    // plan degrades to a co-partitioned join on l_partkey — both sides
    // already hash on that key, no extra fact shuffle (pinned by
    // SmallQtyPlanSpec). Double-scanning pruned lineitem beats
    // checkpointing the filtered projection (the q_join_dormant_rich
    // trade-off, same reasoning).
    "q_join_small_qty" -> Q(
      t => {
        val pk = t.part
          .filter(col("p_brand").isin("Brand#3", "Brand#7") && col("p_size") <= 10)
          .select(col("p_partkey"), col("p_brand"))
        val pl = t.lineitem
          .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("p_brand"),
            col("l_quantity").cast("long").as("qty"), col("l_extendedprice"))
        val stats = pl.groupBy(col("l_partkey"))
          .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt_qty"))
          .withColumnRenamed("l_partkey", "s_partkey")
        pl.join(stats, col("l_partkey") === col("s_partkey"))
          .filter(col("qty") * lit(5L) * col("cnt_qty") < col("sum_qty"))
          .groupBy(col("p_brand"))
          .agg(round(psum(col("l_extendedprice")), 2).as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("p_brand"))
      },
      Some("""WITH pk AS (
              |  SELECT p_partkey, p_brand FROM part
              |  WHERE p_brand IN ('Brand#3', 'Brand#7') AND p_size <= 10
              |), pl AS (
              |  SELECT l_partkey, p_brand, CAST(l_quantity AS BIGINT) AS qty,
              |         l_extendedprice
              |  FROM lineitem JOIN pk ON l_partkey = p_partkey
              |), stats AS (
              |  SELECT l_partkey AS s_partkey,
              |         CAST(SUM(qty) AS BIGINT) AS sum_qty,
              |         CAST(COUNT(*) AS BIGINT) AS cnt_qty
              |  FROM pl GROUP BY 1
              |)
              |SELECT p_brand,
              |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE), 2) AS revenue,
              |       COUNT(*) AS n_lines
              |FROM pl JOIN stats ON l_partkey = s_partkey
              |WHERE qty * 5 * cnt_qty < sum_qty
              |GROUP BY p_brand
              |ORDER BY p_brand NULLS FIRST""".stripMargin)),

    // Interval × interval OVERLAP join — "which shipments were in transit
    // during each audit window": transit windows derived per lineitem
    // (shipdate + deterministic 1-13 day transit), audit windows per
    // supplier. No equi-key exists, so a naive formulation is a nested
    // loop over |lineitem|·|windows| — [[RangeJoin.intervalOverlap]]
    // buckets both interval sets to epoch-day/16 cells, hash-joins on the
    // cell, re-checks exactly, and claims each pair in the single bucket
    // holding the intersection's left edge (exactly-once, no distinct).
    // The oracle is the INDEPENDENT naive overlap join, so the bucketing
    // + claim logic is gate-proven, not self-compared. Day arithmetic is
    // all BIGINT.
    "q_join_interval_overlap" -> Q(
      t => {
        val ship = t.lineitem.select(
          col("l_orderkey"), col("l_linenumber"),
          expr("datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01')")
            .cast("long").as("t_lo"),
          col("l_quantity").cast("long").as("qty"))
          .withColumn("t_hi",
            col("t_lo") + lit(1L) + (col("l_orderkey") * 7 + col("l_linenumber")) % 13)
        val win = t.supplier.select(col("s_suppkey"),
          (lit(9131L) + (col("s_suppkey") * 37) % 2400).as("w_lo"))
          .withColumn("w_hi", col("w_lo") + lit(5L) + col("s_suppkey") % 10)
        RangeJoin.intervalOverlap(ship, "t_lo", "t_hi", win, "w_lo", "w_hi",
            bucketWidth = 16)
          .groupBy(col("s_suppkey"), col("w_lo"), col("w_hi"))
          .agg(count(lit(1)).as("n_transit"), sum(col("qty")).as("sum_qty"))
          .orderBy(col("s_suppkey"), col("w_lo"), col("w_hi"),
            col("n_transit"), col("sum_qty"))
      },
      Some("""WITH ship AS (
              |  SELECT l_orderkey, l_linenumber,
              |         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t_lo,
              |         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
              |           + 1 + (l_orderkey * 7 + l_linenumber) % 13 AS t_hi,
              |         CAST(l_quantity AS BIGINT) AS qty
              |  FROM lineitem
              |), win AS (
              |  SELECT s_suppkey,
              |         9131 + (s_suppkey * 37) % 2400 AS w_lo,
              |         9131 + (s_suppkey * 37) % 2400 + 5 + s_suppkey % 10 AS w_hi
              |  FROM supplier
              |)
              |SELECT w.s_suppkey, w.w_lo, w.w_hi,
              |       COUNT(*) AS n_transit,
              |       CAST(SUM(s.qty) AS BIGINT) AS sum_qty
              |FROM win w JOIN ship s ON s.t_lo <= w.w_hi AND w.w_lo <= s.t_hi
              |GROUP BY 1, 2, 3
              |ORDER BY s_suppkey NULLS FIRST, w_lo NULLS FIRST, w_hi NULLS FIRST,
              |         n_transit NULLS FIRST, sum_qty NULLS FIRST""".stripMargin)),

    // KEYED interval overlap — per-user event windows × purchase windows
    // (the "which sessions saw this campaign" temporal-join shape). The
    // composed form is the equi-join + closed-overlap conjunction Spark
    // plans as a per-key group nested loop inside SortMergeJoin; its
    // _native twin below runs the SAME semantics through the plane-sweep
    // IntervalJoinExec (plans/IntervalJoin.scala — per key O(n+m+out)
    // with active-set state, not O(n·m)), under the SAME oracle.
    "q_join_interval_keyed" -> Q(
      t => {
        val ev = t.events.select(col("user_id"),
            expr("unix_micros(ts) div 1000000").as("lo"), col("event_id"))
          .withColumn("hi", col("lo") + col("event_id") % 50)
        val pur = t.events.filter(col("event_type") === "purchase")
          .select(col("user_id").as("u2"),
            expr("unix_micros(ts) div 1000000").as("lo2"))
          .withColumn("hi2", col("lo2") + 30)
        ev.join(pur, col("user_id") === col("u2") &&
            col("lo") <= col("hi2") && col("lo2") <= col("hi"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("user_id"))
      },
      Some(intervalKeyedSql)),

    "q_join_interval_keyed_native" -> Q(
      t => {
        val ev = t.events.select(col("user_id"),
            expr("unix_micros(ts) div 1000000").as("lo"), col("event_id"))
          .withColumn("hi", col("lo") + col("event_id") % 50)
          .select(col("user_id"), col("lo"), col("hi"))
        val pur = t.events.filter(col("event_type") === "purchase")
          .select(col("user_id").as("u2"),
            expr("unix_micros(ts) div 1000000").as("lo2"))
          .withColumn("hi2", col("lo2") + 30)
        graft.plans.NativeIntervalJoin
          .overlap(ev, pur, "user_id", "lo", "hi", "u2", "lo2", "hi2")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("user_id"))
      },
      Some(intervalKeyedSql)),

    // Tolerance-bounded as-of: the backward match only counts when it is
    // RECENT enough (here ≤ 2 hours stale) — the feature-freshness
    // contract of ML feature joins, where a stale reading must become
    // NULL, not silently join. Same single-shuffle union+window plan as
    // q_join_asof (the matched time rides along in the value struct); the
    // staleness gate is a map-side integer µs comparison after the
    // window, nulling BOTH carried columns. DuckDB's ASOF join states the
    // unbounded semantics and the same CASE applies the bound — the
    // formulations agree only if the tolerance nulling is consistent.
    "q_join_asof_tolerance" -> Q(
      t => {
        val TolUs = 2L * 3600 * 1000000
        val events = t.events
        val purchases = events
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("event_id"))
          .select(col("user_id"), col("ts"), col("event_id").as("pid"),
            col("ts").as("pts"))
        val fresh = unix_micros(col("ts")) - unix_micros(col("asof_pts")) <= TolUs
        AsOf.nearestEarlier(
          events.select(col("event_id"), col("user_id"), col("ts")),
          purchases.select(col("user_id"), col("ts"), col("pid"), col("pts")),
          key = "user_id", leftTime = "ts", rightTime = "ts",
          valueCols = Seq("pid", "pts"))
          .select(col("event_id"),
            when(fresh, col("asof_pid")).as("prev_purchase_id"),
            when(fresh, date_format(col("asof_pts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
              .as("prev_purchase_ts"))
          .orderBy(col("event_id"), col("prev_purchase_id"), col("prev_purchase_ts"))
      },
      Some("""SELECT e.event_id,
              |       CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(p.ts)
              |                 <= 7200000000 THEN p.event_id END AS prev_purchase_id,
              |       CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(p.ts)
              |                 <= 7200000000
              |            THEN strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') END
              |         AS prev_purchase_ts
              |FROM (SELECT event_id, user_id, ts FROM events) e
              |ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
              |                       MAX(event_id) AS event_id
              |                FROM events WHERE event_type = 'purchase'
              |                GROUP BY 1, 2) p
              |  ON e.user_id = p.user_id AND CAST(e.ts AS TIMESTAMP) > p.ts
              |ORDER BY e.event_id NULLS FIRST, prev_purchase_id NULLS FIRST,
              |         prev_purchase_ts NULLS FIRST""".stripMargin)),

    // Native-operator twin of q_join_asof_tolerance (r12 verdict task 5):
    // the staleness bound runs INSIDE AsOfJoinExec's backward merge — one
    // long comparison on the carried candidate (leftTime − matchTime ≤
    // 2h in µs, inclusive) — instead of the composed form's post-window
    // null-out over the widened union. Same two-exchange native plan as
    // q_join_asof_native, same DuckDB ASOF+CASE oracle as the composed
    // tolerance twin; tie/boundary parity vs the composed form is pinned
    // operator-level in AsOfNativeSpec.
    "q_join_asof_native_tolerance" -> Q(
      t => {
        val TolUs = 2L * 3600 * 1000000
        val events = t.events
        val purchases = events
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("event_id"))
          .select(col("user_id"), col("ts"), col("event_id").as("pid"),
            col("ts").as("pts"))
        graft.plans.NativeAsOf.backwardTolerance(
          events.select(col("event_id"), col("user_id"), col("ts")),
          purchases.select(col("user_id"), col("ts"), col("pid"), col("pts")),
          key = "user_id", leftTime = "ts", rightTime = "ts",
          valueCols = Seq("pid", "pts"), tolerance = TolUs)
          .select(col("event_id"),
            col("asof_pid").as("prev_purchase_id"),
            date_format(col("asof_pts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("prev_purchase_ts"))
          .orderBy(col("event_id"), col("prev_purchase_id"), col("prev_purchase_ts"))
      },
      Some("""SELECT e.event_id,
              |       CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(p.ts)
              |                 <= 7200000000 THEN p.event_id END AS prev_purchase_id,
              |       CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(p.ts)
              |                 <= 7200000000
              |            THEN strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') END
              |         AS prev_purchase_ts
              |FROM (SELECT event_id, user_id, ts FROM events) e
              |ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
              |                       MAX(event_id) AS event_id
              |                FROM events WHERE event_type = 'purchase'
              |                GROUP BY 1, 2) p
              |  ON e.user_id = p.user_id AND CAST(e.ts AS TIMESTAMP) > p.ts
              |ORDER BY e.event_id NULLS FIRST, prev_purchase_id NULLS FIRST,
              |         prev_purchase_ts NULLS FIRST""".stripMargin)),

    // Point-in-time (PIT) join — the feature-store correctness primitive:
    // every fact row must see the dimension VERSION that was valid at the
    // fact's own event time (training-serving skew is exactly this join
    // done wrong). Versions are the SCD2 history the purchase events open
    // (q_win_scd2's derivation); the fact side is the full event stream.
    // Stated NOT as the naive fact×version interval join (which the
    // oracle replays) but as the single-shuffle MERGE form: union the
    // version-open rows (tag 0) with the fact rows (tag 1), one window
    // over (user; ts, tag, id) carries the latest version forward with
    // last(..., ignoreNulls) — a version opening at the same instant as a
    // fact sorts first (tag 0 < tag 1), so an event sees its own version.
    // Scale shape: ONE user-keyed exchange + one in-partition sort for
    // ANY number of versions per user — the naive interval join's
    // candidate set (every version ≤ ts) is quadratic per hot user and
    // needs the bucketed-range machinery; the merge form never builds it.
    // Facts before any version keep null feature columns (left semantics).
    "q_join_point_in_time" -> Q(
      t => {
        val vs = t.events.filter(col("event_type") === "purchase")
          .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
            lit(null).cast("long").as("event_id"),
            col("event_id").as("ver_id"),
            cents(col("value")).cast("long").as("ver_cents"),
            lit(0).as("tag"))
        val facts = t.events
          .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
            col("event_id"),
            lit(null).cast("long").as("ver_id"),
            lit(null).cast("long").as("ver_cents"),
            lit(1).as("tag"))
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("tag"), coalesce(col("ver_id"), col("event_id")))
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        vs.unionByName(facts)
          .withColumn("pit_ver", last(col("ver_id"), ignoreNulls = true).over(w))
          .withColumn("pit_cents", last(col("ver_cents"), ignoreNulls = true).over(w))
          .filter(col("tag") === 1)
          .select(col("event_id"), col("user_id"), col("pit_ver"), col("pit_cents"))
          .orderBy(col("event_id"))
      },
      Some("""WITH v AS (
              |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS vts,
              |         event_id AS ver_id,
              |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS ver_cents
              |  FROM events WHERE event_type = 'purchase'
              |), f AS (
              |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
              |  FROM events
              |), pick AS (
              |  SELECT f.event_id AS fid, v.ver_id, v.ver_cents,
              |         row_number() OVER (PARTITION BY f.event_id
              |           ORDER BY v.vts DESC, v.ver_id DESC) AS rn
              |  FROM f JOIN v ON f.user_id = v.user_id AND v.vts <= f.ts_us
              |)
              |SELECT f.event_id, f.user_id, p.ver_id AS pit_ver,
              |       p.ver_cents AS pit_cents
              |FROM f LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p
              |  ON f.event_id = p.fid
              |ORDER BY f.event_id NULLS FIRST""".stripMargin)),

    // Grid-blocked spatial radius join — the 2-D sibling of the bucketed
    // range join: all point pairs within Euclidean distance R, found by
    // hashing points into R-sized grid cells and probing each point's 3×3
    // cell neighborhood (dist ≤ R ⟹ cell indices differ by ≤ 1), so the
    // candidate space is Σ_cell 9·|cell|·density — NEVER the all-pairs
    // cross join the oracle states. Each candidate pair arises from
    // exactly ONE (probe-cell = build-cell) match — no distinct needed;
    // the exact integer dist² re-check then decides membership. Cells are
    // 64 wide (≥ R = 60, so the 3×3 neighborhood is sufficient) and ids
    // pack as cx·32+cy (32 > the 18-value index range incl. the ±1
    // out-of-range probes, so packing is collision-free). Coordinates are
    // deterministic integer mixes of user_id — both engines compute
    // identical BIGINTs, no float anywhere. The id is masked to [0, 2³¹)
    // BEFORE the Knuth multiply (r9 advice #3): unmasked, an id above
    // ~3.5e9 overflows int64 (silent wrap on Spark vs error on DuckDB/ANSI)
    // and a negative id splits pmod-vs-% semantics — the mask (pmod on
    // Spark, the double-% non-negative form on DuckDB) removes both
    // preconditions, and 2³¹·2654435761 ≈ 5.8e18 keeps the product inside
    // int64. At 100 TB the plan is one
    // hash join on the cell id with a 9× narrow probe-side explode; a
    // dense hot cell is the skew knob (salt the cell or shrink R — same
    // discipline as the 1-D bucketed variants).
    "q_join_spatial_grid" -> Q(
      t => {
        val R = 60
        val masked = pmod(col("user_id"), lit(2147483648L))
        val pts = t.events.select(col("user_id")).distinct()
          .select(col("user_id"),
            pmod(masked * 2654435761L, lit(1000L)).as("px"),
            pmod(masked * 40503L, lit(1000L)).as("py"))
          .localCheckpoint(true)
        val build = pts.select(col("user_id").as("u2"),
          col("px").as("bx"), col("py").as("by"),
          (expr("px div 64") * 32 + expr("py div 64")).as("cid"))
        val probe = pts
          .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
          .select(col("user_id").as("u1"), col("px"), col("py"),
            ((expr("px div 64") + col("dx")) * 32
              + expr("py div 64") + col("dy")).as("cid"))
        val d2 = (col("px") - col("bx")) * (col("px") - col("bx")) +
          (col("py") - col("by")) * (col("py") - col("by"))
        probe.join(build, "cid")
          .filter(col("u1") < col("u2") && d2 <= lit(R * R))
          .select(col("u1"), col("u2"), d2.as("dist2"))
          .orderBy(col("u1"), col("u2"))
      },
      Some("""WITH pts AS (
              |  SELECT DISTINCT user_id FROM events
              |), m AS (
              |  SELECT user_id,
              |         ((user_id % 2147483648) + 2147483648) % 2147483648 AS mid
              |  FROM pts
              |), p AS (
              |  SELECT user_id,
              |         (mid * 2654435761) % 1000 AS px,
              |         (mid * 40503) % 1000 AS py
              |  FROM m
              |)
              |SELECT a.user_id AS u1, b.user_id AS u2,
              |       (a.px - b.px) * (a.px - b.px)
              |         + (a.py - b.py) * (a.py - b.py) AS dist2
              |FROM p a JOIN p b ON a.user_id < b.user_id
              |WHERE (a.px - b.px) * (a.px - b.px)
              |        + (a.py - b.py) * (a.py - b.py) <= 3600
              |ORDER BY u1 NULLS FIRST, u2 NULLS FIRST""".stripMargin)),

    // Two-alias dimension join — TPC-H Q7's shape: the SAME nation dim
    // enters the plan twice under different roles (supplier's nation vs
    // customer's nation) with a disjunctive pair predicate. Stated as two
    // independently-filtered broadcast dims rather than a post-join OR:
    // each side keeps only the two named nations BEFORE its join, so the
    // pair predicate collapses to one anti-symmetric `supp_nation <>
    // cust_nation` filter and the OR never blocks pushdown. Scale shape:
    // supplier+nation and the date-pruned fact projection are map-side;
    // lineitem↔orders on l_orderkey is the single fact-fact shuffle; the
    // nation-filtered customer side (2/25 of customers) is AQE-broadcast
    // at gated scale and degrades to a co-keyed o_custkey shuffle at
    // 100 TB. Revenue is psum-exact (price·(1−disc) is exactly 4-dp).
    "q_join_volume_shipping" -> Q(
      t => {
        val pair = Seq("NATION_19", "NATION_20")
        val supp = t.supplier
          .join(broadcast(t.nation.filter(col("n_name").isin(pair: _*))
            .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cust = t.customer
          .join(broadcast(t.nation.filter(col("n_name").isin(pair: _*))
            .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("cn_key"))
          .select(col("c_custkey"), col("cust_nation"))
        t.lineitem
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_suppkey"),
            year(col("l_shipdate")).as("l_year"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(psum(col("volume")).as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
              |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
              |FROM lineitem
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |WHERE ((n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_20')
              |    OR (n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_19'))
              |  AND l_shipdate >= TIMESTAMP '1996-01-01'
              |  AND l_shipdate <  TIMESTAMP '1998-01-01'
              |GROUP BY 1, 2, 3
              |ORDER BY supp_nation NULLS FIRST, cust_nation NULLS FIRST,
              |         l_year NULLS FIRST""".stripMargin)),

    // Aggregate-reuse anchor — TPC-H Q15's shape: one derived aggregate
    // (per-supplier quarterly revenue) feeds BOTH the max-scalar gate and
    // the probe side. The revenue subplan is computed once and eagerly
    // localCheckpoint'ed — without it Spark re-executes the full fact
    // aggregation for each consumer (no automatic common-subplan reuse
    // across actions); with it the second consumer reads a few KB of
    // checkpoint blocks. The max rejoins as a broadcast-literal cross
    // join (one row), and the equality survivors (a handful of rows) are
    // the BUILD side of the supplier join — the dim never shuffles.
    // Revenue equality is safe on doubles here: both engines compare the
    // identical decimal-sum-cast value against the max picked from the
    // same set.
    "q_join_top_supplier" -> Q(
      t => {
        val rev = t.lineitem
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(psum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("total_rev"))
          .localCheckpoint(true)
        val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
        val top = rev.crossJoin(broadcast(maxRev))
          .filter(col("total_rev") === col("max_rev"))
          .select(col("l_suppkey"), col("total_rev"))
        t.supplier.join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("total_rev"), 2).as("total_rev"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH revenue AS (
              |  SELECT l_suppkey,
              |         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS total_rev
              |  FROM lineitem
              |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              |    AND l_shipdate <  TIMESTAMP '1996-04-01'
              |  GROUP BY 1
              |)
              |SELECT s_suppkey, s_name, ROUND(total_rev, 2) AS total_rev
              |FROM supplier
              |JOIN revenue ON s_suppkey = l_suppkey
              |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
              |ORDER BY s_suppkey NULLS FIRST""".stripMargin)),

    // Conditional-share aggregate — TPC-H Q8's shape: one nation's share
    // of regional promo revenue per year, a ratio of two conditional sums
    // over the same joined fact. Both sums are decimal-exact before the
    // single double division (identical operands → identical IEEE result
    // on both engines), then rounded once. Scale shape: part (type
    // filter), supplier+nation, and region→nation are all broadcast dims
    // pruning the fact BEFORE its one shuffle against orders; the
    // region-filtered customer side joins co-keyed on o_custkey. The
    // CASE lives inside the aggregate, so the share needs no second pass
    // over the join.
    "q_join_market_share" -> Q(
      t => {
        val promoParts = t.part.filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))
        val suppNat = t.supplier
          .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val asiaCust = t.customer
          .join(broadcast(t.nation
            .join(broadcast(t.region.filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey").as("an_key"))),
            col("c_nationkey") === col("an_key"))
          .select(col("c_custkey"))
        t.lineitem
          .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
          .select(col("l_orderkey"), col("supp_nation"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
          .join(t.orders
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
            .select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
          .join(asiaCust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_year"))
          .agg(round(
            psum(when(col("supp_nation") === "NATION_19", col("volume"))
              .otherwise(lit(0))) / psum(col("volume")), 6).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
              |       ROUND(
              |         CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_19'
              |                            THEN l_extendedprice * (1 - l_discount)
              |                            ELSE 0 END AS DECIMAL(22,6))) AS DOUBLE)
              |         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE),
              |         6) AS mkt_share
              |FROM lineitem
              |JOIN part     ON l_partkey = p_partkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |JOIN region   ON n2.n_regionkey = r_regionkey
              |WHERE p_type = 'PROMO'
              |  AND r_name = 'EUROPE'
              |  AND o_orderdate >= TIMESTAMP '1996-01-01'
              |  AND o_orderdate <  TIMESTAMP '1998-01-01'
              |GROUP BY 1
              |ORDER BY o_year NULLS FIRST""".stripMargin)),

    // Disjunctive-bracket join — TPC-H Q19's shape: an OR of three
    // conjunctive brackets, each constraining BOTH join sides (part's
    // brand/size and lineitem's quantity), so no single conjunct is common
    // to all branches and naive pushdown gets nothing. Stated scale-safely
    // by splitting each bracket at the table boundary: part pre-filters on
    // the union of its bracket halves (brand+size) BEFORE the broadcast —
    // the scan prunes to the three brands — and the cross-bracket
    // consistency (brand ↔ quantity range) re-checks after the join, where
    // the brand column is already local. The oracle keeps the plain OR
    // spelling, proving the split form equivalent. Quantity is integral
    // (1..50), so bracket bounds are exact; revenue is psum-exact.
    "q_join_bracket_disjunction" -> Q(
      t => {
        val pk = t.part
          .filter(
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 5)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(1, 10)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)))
          .select(col("p_partkey"), col("p_brand"))
        t.lineitem
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
            col("l_discount"))
          .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30)))
          .groupBy(col("p_brand"))
          .agg(round(psum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand,
              |       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE), 2) AS revenue,
              |       COUNT(*) AS n_lines
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey
              |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
              |       AND l_quantity BETWEEN 1 AND 11)
              |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
              |       AND l_quantity BETWEEN 10 AND 20)
              |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
              |       AND l_quantity BETWEEN 20 AND 30)
              |GROUP BY p_brand
              |ORDER BY p_brand NULLS FIRST""".stripMargin)),

    // Blocked fuzzy self-join — the entity-resolution shape: candidate
    // pairs come from an EQUI-join on the blocking key (p_brand), so the
    // pair space is Σ block² and shuffles like any equi-join — never the
    // all-pairs cross product — and only candidates pay the levenshtein
    // kernel. On engine sessions (Graft.session registers GraftExtensions)
    // the `<= 2` bound is replanned by LevenshteinThresholdRule into the
    // banded O(k·len) early-out kernel; the rewrite is semantics-
    // preserving, which is exactly what this oracle row proves — the same
    // pairs fall out with or without the rule. p_partkey < p_partkey
    // orients each unordered pair once.
    "q_join_fuzzy_name" -> Q(
      t => {
        val a = t.part.select(col("p_partkey").as("a_key"),
          col("p_brand").as("brand"), col("p_name").as("a_name"))
        val b = t.part.select(col("p_partkey").as("b_key"),
          col("p_brand").as("b_brand"), col("p_name").as("b_name"))
        a.join(b, col("brand") === col("b_brand") &&
            col("a_key") < col("b_key") &&
            levenshtein(col("a_name"), col("b_name")) <= 2)
          .select(col("a_key"), col("b_key"),
            levenshtein(col("a_name"), col("b_name")).cast("long").as("dist"))
          .orderBy(col("a_key"), col("b_key"))
      },
      Some("""SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
             |       levenshtein(a.p_name, b.p_name) AS dist
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
             |WHERE levenshtein(a.p_name, b.p_name) <= 2
             |ORDER BY a_key NULLS FIRST, b_key NULLS FIRST""".stripMargin)))
}
