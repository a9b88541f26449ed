package graft

import org.apache.spark.sql.functions._

/** The scale probe's replication must preserve the workload SHAPE: factor×
  * rows, factor× join fan-out, factor× LSH pairs. If replicas collided on
  * keys (join) or shingles (LSH), a probe at factor× would measure a
  * quadratic workload. On top of that replication, the exchange probe's
  * record counts (deterministic at any scale factor, unlike wall clock)
  * pin the exchange-volume claims: bloom prefilter, partition-preserving
  * checkpoints, partial-agg combine, salting and LSH banding.
  */
class ScaleProbeSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("documents replication keeps LSH near-dup pairs linear in the factor") {
    val base = Graft.table(spark, dir, "documents")
    val pairs1 = graft.operators.Dedup
      .lshNearDupPairs(base, "doc_id", "text", threshold = 0.5).count()
    val docs3 = ScaleProbe.replicate(spark, dir, "documents", 3)
    assert(docs3.count() == 3 * base.count())
    val pairs3 = graft.operators.Dedup
      .lshNearDupPairs(docs3, "doc_id", "text", threshold = 0.5).count()
    // per-replica token injection makes clones dissimilar ACROSS replicas:
    // every pair stays within one replica, so the count is exactly linear
    assert(pairs3 == 3 * pairs1,
      s"expected ${3 * pairs1} pairs (linear), got $pairs3 — cross-replica collisions?")
    assert(pairs1 > 0)
  }

  test("dimension tables pass through as one copy at any factor") {
    // q_join_star's probe dir must carry nation/region; unioning factor
    // identical dim copies would wrongly multiply every dim join's fan-out
    val n1 = Graft.table(spark, dir, "nation").count()
    assert(ScaleProbe.replicate(spark, dir, "nation", 10).count() == n1)
    assert(ScaleProbe.replicate(spark, dir, "region", 10).count() ==
      Graft.table(spark, dir, "region").count())
  }

  test("events replication grows users, not per-user history") {
    // the as-of probe's growth axis: factor× distinct users over the same
    // time range, each user's history length unchanged — if replicas
    // collided on user_id the per-user merge state would densify and the
    // probe would measure a different (per-key-quadratic-ish) workload
    val base = Graft.table(spark, dir, "events")
    val r3 = ScaleProbe.replicate(spark, dir, "events", 3)
    assert(r3.count() == 3 * base.count())
    assert(r3.select($"user_id").distinct().count() ==
      3 * base.select($"user_id").distinct().count())
    val m1 = base.groupBy($"user_id").count().agg(max($"count")).head.getLong(0)
    val m3 = r3.groupBy($"user_id").count().agg(max($"count")).head.getLong(0)
    assert(m1 == m3, s"per-user history changed under replication: $m1 -> $m3")
  }

  test("star-join probe workload runs on a replicated probe dir with dims") {
    // the full q_join_star plan against a factor-2 probe dir — the exact
    // combination that failed when the probe dir lacked the dim tables
    val root = java.nio.file.Files.createTempDirectory("graft-probe-spec").toString
    try {
      for (t <- Seq("customer", "orders", "lineitem", "nation", "region"))
        ScaleProbe.replicate(spark, dir, t, 2).write.mode("overwrite")
          .parquet(s"$root/$t.parquet")
      val rows = graft.queries.AllQueries.all("q_join_star")
        .run(Tables(spark, root)).collect()
      assert(rows.nonEmpty)
    } finally {
      scala.reflect.io.Path(new java.io.File(root)).deleteRecursively()
      ()
    }
  }

  test("exchange probe: bloom prefilter cuts shuffle records and preserves the join") {
    // deterministic shuffle-record evidence (r11 verdict task 7): the dim
    // predicate keeps ~1/5 of suppliers, so the prefiltered fact exchange
    // must carry well under half the unfiltered rows (20% + 3% fpp in
    // expectation), at a replication factor — and the records cut must
    // never change the join result (false-positives-only contract)
    val v = ExchangeProbe.run(spark, dir, factor = 2)
    assert(v.bloomWithout > 0, "control leg shuffled nothing — probe is broken")
    assert(v.bloomWith > 0, "bloom leg shuffled nothing — filter swallowed the fact side")
    assert(v.bloomCut > 2.0,
      s"expected >2x shuffle-record cut, got ${v.bloomCut} " +
        s"(with=${v.bloomWith}, without=${v.bloomWithout})")
    // superstep leg: the bare checkpoint's consuming join re-exchanges the
    // whole edge set (the r11 AQE defect in vivo), the preserving one only
    // the rank side — the record delta must be essentially the edge count
    // (80% margin: the dst-aggregation's map-side partial reduction differs
    // by a few percent between the legs' partition layouts, observed 11400
    // vs 12000 at this scale)
    val edgeRows = (2 * Graft.table(spark, dir, "lineitem").count() * 8) / 10
    assert(v.superBare - v.superPreserving >= edgeRows,
      s"bare-vs-preserving delta ${v.superBare - v.superPreserving} is " +
        s"under the $edgeRows-row edge-set floor: either the bare leg " +
        "stopped re-shuffling (Spark fixed the checkpoint partitioning " +
        "loss upstream - retire the preserving bridge?) or the preserving " +
        "leg started paying an edge exchange (the r11 regression)")
    assert(v.superCut > 1.5,
      s"expected >1.5x cut, got ${v.superCut} " +
        s"(preserving=${v.superPreserving}, bare=${v.superBare})")
    // pagerank contribution leg (r13 verdict task 1): partial aggregation
    // must cap the busiest reducer's rows strictly below the no-combine
    // exchange (the record-exact "two-level already built in" proof), and
    // replication must densify per-dst in-degree by exactly the factor
    // (replicas share partkeys — the stated cause of the time ratio's
    // superlinearity)
    assert(v.prPartialMax > 0 && v.prNaiveMax >= v.prPartialMax,
      s"pagerank leg inverted: nocombine=${v.prNaiveMax} partial=${v.prPartialMax}")
    assert(v.prCombineCut > 1.0,
      s"partial agg shows no reducer-load cut (${v.prCombineCut}) - " +
        "either the contribution relation stopped being skew-prone or the " +
        "partial model broke")
    assert(v.prMaxInDegN == 2 * v.prMaxInDeg1,
      s"expected exactly 2x hub in-degree at factor 2 (shared partkeys), " +
        s"got ${v.prMaxInDeg1} -> ${v.prMaxInDegN}")
    // salting leg: the 50%-hot key must land on fewer rows of the busiest
    // reducer salted than unsalted (measured 7449 vs 4189 rows, 1.78x, at
    // 4 shuffle partitions) — the record-exact basis of the README's
    // salted-join claim
    assert(v.skewMaxSalted > 0 && v.skewBalance > 1.0,
      s"salting did not relieve the hot reducer: unsalted=${v.skewMaxUnsalted} " +
        s"salted=${v.skewMaxSalted}")
    // LSH banding leg: the band join must generate a tiny fraction of all
    // n(n-1)/2 pairs (measured 743 of 499500, a 672x cut); the floor sits
    // well below that so only a real loss of blocking (e.g. a band key
    // that stopped discriminating) trips it
    assert(v.lshBandedPairs > 0, "band join generated no candidates — probe is broken")
    assert(v.lshCut > 300.0,
      s"expected >300x Σ|bucket|² cut over all pairs, got ${v.lshCut} " +
        s"(banded=${v.lshBandedPairs}, all=${v.lshAllPairs})")
    // result parity at the same factor, same confs as the probe
    val fact = ScaleProbe.replicate(spark, dir, "lineitem", 2)
    val dim = Graft.table(spark, dir, "supplier")
      .filter($"s_nationkey" % 5 === 3).select($"s_suppkey", $"s_name")
    val plain = fact.join(dim, $"l_suppkey" === $"s_suppkey").count()
    val bloomed = graft.operators.BloomPrefilter
      .prefilter(fact, "l_suppkey", dim.select($"s_suppkey"), expectedItems = 10000L)
      .join(dim, $"l_suppkey" === $"s_suppkey").count()
    assert(plain == bloomed && plain > 0,
      s"bloom changed the join: plain=$plain bloomed=$bloomed")
  }

  test("forced-spill interval leg: spillSize is nonzero, bit-stable, and the join is exact") {
    // the sawtooth leg's spillSize must be a pure function of the data
    // (drift across identical runs = a real change in the spill store's
    // I/O pattern) and forcing the spill regime must not change a single
    // output row
    withConf(
        graft.plans.IntervalJoinExec.InMemoryRowsKey -> "16",
        graft.plans.IntervalJoinExec.CompactMinBytesKey -> "4096") {
      val (l, r) = ScaleProbe.sawtoothIntervals(spark, keys = 2, perKey = 200)
      def native = graft.plans.NativeIntervalJoin
        .overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
      val b1 = ScaleProbe.intervalSpillBytes(native)
      val b2 = ScaleProbe.intervalSpillBytes(native)
      assert(b1 > 0, "sawtooth at inMemoryRows=16 did not spill - the leg probes nothing")
      assert(b1 == b2, s"spillSize not reproducible: $b1 vs $b2")
      val composed = l.join(r,
        l("k") === r("k2") && l("lo") <= r("hi2") && r("lo2") <= l("hi"))
      assert(native.count() == composed.count() && composed.count() > 0)
    }
  }

  test("join replication keeps fact-fact fan-out linear in the factor") {
    val cust = ScaleProbe.replicate(spark, dir, "customer", 3)
    val ord = ScaleProbe.replicate(spark, dir, "orders", 3)
    val li = ScaleProbe.replicate(spark, dir, "lineitem", 3)
    val joined = cust.join(ord, $"c_custkey" === $"o_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
    val base = {
      val t = Tables(spark, dir)
      t.customer.join(t.orders, $"c_custkey" === $"o_custkey")
        .join(t.lineitem, $"o_orderkey" === $"l_orderkey")
    }
    assert(joined.count() == 3 * base.count())
  }
}
