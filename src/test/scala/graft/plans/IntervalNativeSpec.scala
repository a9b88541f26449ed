package graft.plans

import graft.SparkSpec
import graft.SparkSpec.planNodes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native plane-sweep interval join against its composed ground truth
  * (equi-join on the key + closed-interval overlap conjunction) — every
  * test is a full except-both-ways row-set equality, so any sweep
  * bookkeeping slip (late eviction, early ingest, the earlier-left
  * larger-hi prefix trap) shows as row drift.
  */
class IntervalNativeSpec extends SparkSpec {
  import spark.implicits._

  private def composed(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, col("k") === col("k2") &&
      col("lo") <= col("hi2") && col("lo2") <= col("hi"))

  /** The IntervalJoinExec in `df`'s own executed plan (run the action on
    * that QueryExecution first, or its metrics read zero).
    */
  private def intervalExec(df: DataFrame): IntervalJoinExec =
    planNodes(df.queryExecution.executedPlan)
      .collectFirst { case e: IntervalJoinExec => e }
      .getOrElse(fail(s"no IntervalJoinExec in\n${df.queryExecution.executedPlan}"))

  private def assertSame(native: DataFrame, expected: DataFrame): Unit = {
    val n = native.selectExpr(expected.columns: _*)
    assert(n.exceptAll(expected).isEmpty && expected.exceptAll(n).isEmpty,
      s"native rows=${n.count()} expected rows=${expected.count()}")
  }

  test("real-data equality: event windows vs composed overlap join") {
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
      .select(col("user_id").as("k"),
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("lo"), col("event_id"))
      .withColumn("hi", col("lo") + (col("event_id") % 50))
    val l = ev.select(col("k"), col("lo"), col("hi"), col("event_id").as("l_id"))
    val r = ev.select(col("k").as("k2"), col("lo").as("lo2"),
      col("hi").as("hi2"), col("event_id").as("r_id"))
    val native = NativeIntervalJoin.overlap(
        ev.select(col("k"), col("lo"), col("hi"), col("event_id").as("l_id")),
        r, "k", "lo", "hi", "k2", "lo2", "hi2")
    assertSame(native, composed(l, r))
  }

  test("self-derived inputs survive DeduplicateRelations (the exprId trap)") {
    val base = Seq((1L, 0L, 5L, 10L), (1L, 3L, 8L, 11L), (2L, 1L, 2L, 12L))
      .toDF("k", "lo", "hi", "id")
    val native = NativeIntervalJoin.overlap(
      base,
      base.select(col("k").as("k2"), col("lo").as("lo2"),
        col("hi").as("hi2"), col("id").as("id2")),
      "k", "lo", "hi", "k2", "lo2", "hi2")
    assert(native.count() === 5L) // (1,1),(1,2),(2,1),(2,2) overlap for k=1; k=2 self
  }

  test("null keys and endpoints match nothing (inner-join null semantics)") {
    val l = Seq(
      (Some(1L), Some(0L), Some(5L), 1L),
      (None, Some(0L), Some(5L), 2L),
      (Some(1L), None, Some(5L), 3L),
      (Some(1L), Some(0L), None, 4L)
    ).toDF("k", "lo", "hi", "id")
    val r = Seq((Some(1L), Some(1L), Some(2L), 9L))
      .toDF("k2", "lo2", "hi2", "id2")
      .select(col("k2").as("k2"), col("lo2"), col("hi2"), col("id2"))
    val native = NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
    assert(native.select(col("id")).as[Long].collect().toSeq === Seq(1L))
  }

  test("earlier-left larger-hi prefix: a later narrow left must not inherit matches") {
    // left A [0, 100] ingests right [50, 60]; left B [10, 20] (same key,
    // later lo, smaller hi) must NOT emit it — the takeWhile prefix trap.
    val l = Seq((1L, 0L, 100L, 1L), (1L, 10L, 20L, 2L)).toDF("k", "lo", "hi", "id")
    val r = Seq((1L, 50L, 60L, 9L)).toDF("k2", "lo2", "hi2", "id2")
    val native = NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
    assert(native.select(col("id")).as[Long].collect().toSeq === Seq(1L))
  }

  test("fuzz equality against composed on random keyed intervals") {
    val rng = new scala.util.Random(11)
    (1 to 3).foreach { round =>
      val mk = (n: Int) => Seq.fill(n) {
        val lo = rng.nextInt(60).toLong
        (rng.nextInt(4).toLong, lo, lo + rng.nextInt(12).toLong, rng.nextLong())
      }
      val l = mk(80).toDF("k", "lo", "hi", "id")
      val r = mk(70).toDF("k", "lo", "hi", "id")
        .toDF("k2", "lo2", "hi2", "id2")
      val native = NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
      assertSame(native,
        composed(l, r.select(col("k2"), col("lo2"), col("hi2"), col("id2"))))
    }
  }

  test("fuzz equality under forced spill + compaction (tiny thresholds)") {
    // the in-memory fuzz above, re-run with the spill store engaged on
    // nearly every key (rows leave memory after 8) and the compaction
    // floor at 512 bytes so random eviction patterns constantly rewrite
    // live ranges — any offset/order slip in the store is row corruption
    // the composed equality catches
    spark.conf.set(IntervalJoinExec.InMemoryRowsKey, "8")
    spark.conf.set(IntervalJoinExec.CompactMinBytesKey, "512")
    try {
      val rng = new scala.util.Random(17)
      (1 to 3).foreach { round =>
        val mk = (n: Int) => Seq.fill(n) {
          val lo = rng.nextInt(60).toLong
          (rng.nextInt(4).toLong, lo, lo + rng.nextInt(12).toLong, rng.nextLong())
        }
        val l = mk(80).toDF("k", "lo", "hi", "id")
        val r = mk(70).toDF("k", "lo", "hi", "id")
          .toDF("k2", "lo2", "hi2", "id2")
        val native = NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
        assertSame(native,
          composed(l, r.select(col("k2"), col("lo2"), col("hi2"), col("id2"))))
      }
    } finally {
      spark.conf.unset(IntervalJoinExec.InMemoryRowsKey)
      spark.conf.unset(IntervalJoinExec.CompactMinBytesKey)
    }
  }

  test("plan shape: two key exchanges, no nested-loop or group buffering join") {
    val l = Seq((1L, 0L, 5L, 10L)).toDF("k", "lo", "hi", "id")
    val r = Seq((1L, 1L, 2L, 11L)).toDF("k2", "lo2", "hi2", "id2")
    val plan = NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("IntervalJoin "), s"native exec missing:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoop"),
      s"unexpected join operator beside the native exec:\n$plan")
  }

  test("three-way fuzz: native sweep == bucketed RangeJoin == composed predicate") {
    // one shared key puts every row in a single group — the native exec's
    // plane-sweep specialty — while the UNKEYED bucketed formulation
    // (RangeJoin.intervalOverlap, claim-bucket dedup) and the raw composed
    // predicate compute the same pair set by entirely different plans:
    // three independent implementations cross-validating each other.
    val rng = new scala.util.Random(23)
    (1 to 3).foreach { round =>
      val mk = (n: Int, tag: Long) => Seq.fill(n) {
        val lo = rng.nextInt(80).toLong
        (lo, lo + rng.nextInt(15).toLong, tag + rng.nextInt(1000000))
      }
      val l = mk(60, 1000000L).toDF("llo", "lhi", "lid")
      val r = mk(50, 2000000L).toDF("rlo", "rhi", "rid")
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select(col("lid"), col("rid")).collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSet
      val composed = pairs(l.join(r,
        col("llo") <= col("rhi") && col("rlo") <= col("lhi")))
      val bucketed = pairs(graft.operators.RangeJoin.intervalOverlap(
        l, "llo", "lhi", r, "rlo", "rhi", bucketWidth = 8L))
      val native = pairs(NativeIntervalJoin.overlap(
        l.withColumn("k", lit(1L)), r.withColumn("k2", lit(1L)),
        "k", "llo", "lhi", "k2", "rlo", "rhi"))
      assert(composed.nonEmpty, "fuzz round produced no overlaps — widen the ranges")
      assert(bucketed == composed, s"round $round: bucketed diverged from composed")
      assert(native == composed, s"round $round: native diverged from composed")
    }
  }

  test("maxDepth SQLMetric reports the deepest active set a task held") {
    // one key, 7 mutually overlapping right intervals, one left covering
    // all of them: the sweep must hold all 7 at once, so the task's max
    // active-set depth is exactly 7 (every other task is empty and a
    // never-updated size metric contributes nothing to the merge)
    val l = Seq((1L, 50L, 60L, 1L)).toDF("k", "lo", "hi", "id")
    val r = (0 until 7).map(i => (1L, i.toLong, 100L, 10L + i))
      .toDF("k2", "lo2", "hi2", "id2")
    val df = NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
    // drive THIS queryExecution (count() would plan and execute its own
    // copy of the exec, leaving these metric instances untouched)
    assert(df.collect().length === 7)
    val exec = intervalExec(df)
    assert(exec.metrics.contains("maxDepth"), "metric not declared on the exec")
    assert(exec.metrics("maxDepth").value === 7L,
      s"expected depth 7, got ${exec.metrics("maxDepth").value}")
    assert(exec.metrics("numOutputRows").value === 7L)
  }

  test("the all-overlapping pathological key fails with the named depth guard") {
    // 50 mutually overlapping right intervals on ONE key with the cap at
    // 10: the degeneration the r11 verdict named — without the guard this
    // is O(m) heap on one task, silent until the executor dies; with it, a
    // named error at the operator that owns the contract (Guards-style)
    spark.conf.set(IntervalJoinExec.MaxDepthKey, "10")
    try {
      val l = Seq((1L, 0L, 1000L, 1L)).toDF("k", "lo", "hi", "id")
      val r = (0 until 50).map(i => (1L, i.toLong, 2000L, 100L + i))
        .toDF("k2", "lo2", "hi2", "id2")
      val e = intercept[Exception] {
        NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2").count()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("IntervalJoinExec.maxActiveDepth")),
        s"guard did not fire by name: ${messages(e).mkString(" | ")}")
      assert(messages(e).exists(_.contains(IntervalJoinExec.MaxDepthKey)),
        "error must carry the remediation conf key")
      // the documented escape hatch: <=0 disables the cap and the same
      // pathological key completes (50 rights x 1 covering left)
      spark.conf.set(IntervalJoinExec.MaxDepthKey, "0")
      assert(NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
        .count() === 50L)
    } finally spark.conf.unset(IntervalJoinExec.MaxDepthKey)
  }

  test("a deep key's active set spills to disk and still completes exactly") {
    // r12 verdict task 2: a LEGITIMATELY deep key (the depth guard's own
    // "raise the cap" remediation) must cost disk, not heap. 2000 right
    // intervals per window on one key (depth ~2000 at any sweep point),
    // threshold squeezed so row bytes leave memory after 16 rows — the
    // exec must produce EXACTLY the composed join's rows with
    // spillSize > 0 (bytes written to the explicit spill store).
    spark.conf.set(IntervalJoinExec.InMemoryRowsKey, "16")
    try {
      // rights expire as the sweep advances (lo2 = i, hi2 = i + 2000), so
      // the ping-pong eviction rebuild runs under spill conditions too
      val l = (0 until 10).map(j => (1L, j * 1000L, j * 1000L + 500L, j.toLong))
        .toDF("k", "lo", "hi", "id")
      val r = (0 until 10000).map(i => (1L, i.toLong, i + 2000L, 100L + i))
        .toDF("k2", "lo2", "hi2", "id2")
      val df = NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
      assertSame(df, composed(l, r))
      // drive df's OWN QueryExecution — assertSame/exceptAll plan fresh
      // copies whose exec instances own fresh metrics, leaving these zero
      df.queryExecution.toRdd.count()
      val exec = intervalExec(df)
      assert(exec.metrics.contains("spillSize"), "spillSize metric not declared")
      assert(exec.metrics("spillSize").value > 0L,
        s"active set never spilled (spillSize=${exec.metrics("spillSize").value}) " +
          "- thresholds not honored or rows stayed in memory")
      // depth metric still reports the true concurrent depth (~2000, well
      // under the row count): eviction discipline survived the spill path
      assert(exec.metrics("maxDepth").value >= 2000L &&
        exec.metrics("maxDepth").value < 3000L,
        s"per-task max depth ${exec.metrics("maxDepth").value} outside the " +
          "concurrent-depth envelope")
    } finally {
      spark.conf.unset(IntervalJoinExec.InMemoryRowsKey)
      ()
    }
  }

  test("sawtooth windows over a spilled deep key stay exact (per-row prefix re-reads)") {
    // the FdProbe shape, scaled into the suite: rights never expire, even
    // lefts drain the whole spilled set, odd lefts read a tiny prefix —
    // the per-left-row re-read pattern that OOM'd the first
    // (ExternalAppendOnlyUnsafeRowArray-backed) r13 spill attempt; the
    // explicit store must produce exactly the composed join's rows
    spark.conf.set(IntervalJoinExec.InMemoryRowsKey, "16")
    try {
      val l = (0 until 600).map { id =>
        val lo = id * 10L
        (1L, lo, if (id % 2 == 0) lo + 20000L else lo + 5L, id.toLong)
      }.toDF("k", "lo", "hi", "id")
      val r = (0 until 600).map(i => (1L, i * 10L, i * 10L + 100000L, 100L + i))
        .toDF("k2", "lo2", "hi2", "id2")
      val df = NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
      assertSame(df, composed(l, r))
    } finally spark.conf.unset(IntervalJoinExec.InMemoryRowsKey)
  }

  test("spill-file compaction rewrites live ranges exactly (offsets survive the swap)") {
    // force the compaction path: rows spill after 16, the compaction
    // floor drops to 1KB, and rights expire continuously so dead file
    // ranges quickly dominate — every emitted row after a compaction is
    // read through REWRITTEN offsets, so any offset bug is row corruption
    // the composed-join equality catches
    spark.conf.set(IntervalJoinExec.InMemoryRowsKey, "16")
    spark.conf.set(IntervalJoinExec.CompactMinBytesKey, "1024")
    try {
      val l = (0 until 50).map(j => (1L, j * 100L, j * 100L + 50L, j.toLong))
        .toDF("k", "lo", "hi", "id")
      val r = (0 until 2000).map(i => (1L, i * 2L, i * 2L + 300L, 100L + i))
        .toDF("k2", "lo2", "hi2", "id2")
      val df = NativeIntervalJoin.overlap(l, r, "k", "lo", "hi", "k2", "lo2", "hi2")
      assertSame(df, composed(l, r))
    } finally {
      spark.conf.unset(IntervalJoinExec.InMemoryRowsKey)
      spark.conf.unset(IntervalJoinExec.CompactMinBytesKey)
    }
  }

  test("type mismatches are rejected at construction, not inside the merge") {
    val l = Seq((1L, 0L, 5L)).toDF("k", "lo", "hi")
    val rIntKey = Seq((1, 1L, 2L)).toDF("k2", "lo2", "hi2")
    val keyErr = intercept[IllegalArgumentException] {
      NativeIntervalJoin.overlap(l, rIntKey, "k", "lo", "hi", "k2", "lo2", "hi2")
    }
    assert(keyErr.getMessage.contains("key types differ"))
    val rIntEnds = Seq((1L, 1, 2)).toDF("k2", "lo2", "hi2")
    val endErr = intercept[IllegalArgumentException] {
      NativeIntervalJoin.overlap(l, rIntEnds, "k", "lo", "hi", "k2", "lo2", "hi2")
    }
    assert(endErr.getMessage.contains("share one type"))
  }
}
