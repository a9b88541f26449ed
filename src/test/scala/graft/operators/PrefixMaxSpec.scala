package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `Partitioning.prefixMax` must equal the single-partition
  * `Window.orderBy` form row for row — including the all-null prefix of the
  * global minimum and runs where the max never advances — while keeping
  * every data-sized window pid-partitioned.
  */
class PrefixMaxSpec extends SparkSpec {
  import spark.implicits._

  test("matches the single-partition window on adversarial data") {
    // Unique keys, values with long flat runs, negatives, and a late global
    // max — shapes where a wrong tie/boundary rule shows immediately.
    val rows = (1 to 500).map { k =>
      (k.toLong, ((k * 37) % 11 - 5).toLong)
    }
    val df = rows.toDF("k", "v")
    val got = Partitioning.prefixMax(df, "k", "v", numPartitions = 7)
      .select(col("k"), col("prev_max")).as[(Long, Option[Long])]
      .collect().toMap
    val w = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("prev_max", max(col("v")).over(w))
      .select(col("k"), col("prev_max")).as[(Long, Option[Long])]
      .collect().toMap
    assert(got == want)
    assert(got(1L).isEmpty, "the global minimum key has no preceding rows")
  }

  test("no data-sized single-partition window in the plan") {
    val df = (1 to 100).map(i => (i.toLong, i.toLong)).toDF("k", "v")
    val out = Partitioning.prefixMax(df, "k", "v", numPartitions = 4)
    val plan = out.queryExecution.optimizedPlan.toString
    // Two windows: the pid-partitioned local pass and the numPartitions-row
    // prefix pass. Only the latter may be unpartitioned.
    val windows = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan.toLowerCase).map(_.group(1)).toList
    assert(windows.nonEmpty, s"expected window specs in:\n$plan")
    assert(windows.exists(_.contains("__pid")),
      s"the data-sized pass must partition by __pid:\n$plan")
  }

  // ---- globalRowNumber / ntileFromRank (r19 unpartitioned-window audit
  // rewrites: q_events_gini's rank, q_events_lorenz's ntile) ----

  test("globalRowNumber matches the single-partition row_number on a unique order") {
    // non-monotone values with heavy ties on v — uniqueness comes from the
    // (v, k) pair, exactly the (x, user_id) shape the gini/lorenz callers use
    val rows = (1 to 1000).map { k => (k.toLong, ((k * 7919) % 13).toLong) }
    val df = rows.toDF("k", "v").repartition(5)
    val got = Partitioning.globalRowNumber(df, Seq(col("v"), col("k")), "i",
        numPartitions = 7)
      .select(col("k"), col("i")).as[(Long, Long)].collect().toMap
    val w = Window.orderBy(col("v"), col("k"))
    val want = df.withColumn("i", row_number().over(w).cast("long"))
      .select(col("k"), col("i")).as[(Long, Long)].collect().toMap
    assert(got == want)
    // and the data-sized window pass is pid-partitioned (same pin as
    // prefixMax: only the O(numPartitions) prefix pass may be global)
    val plan = Partitioning.globalRowNumber(df, Seq(col("v"), col("k")))
      .queryExecution.optimizedPlan.toString
    val windows = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan.toLowerCase).map(_.group(1)).toList
    assert(windows.exists(_.contains("__pid")),
      s"the data-sized rank pass must partition by __pid:\n$plan")
  }

  test("globalRowNumber ranks exactly 1..n in order with exchange reuse off") {
    // Rows reach the range exchange from upstream partitions picked at random
    // on every execution, so two executions sample different range bounds
    // and place boundary rows in different partitions: the local row numbers
    // and the per-partition counts agree only when both passes read ONE
    // materialized pid assignment.
    val scatter = udf(() => scala.util.Random.nextInt(6)).asNondeterministic()
    val rows = (1 to 2000).map { k => (k.toLong, ((k * 104729L) % 997).toLong) }
    val df = rows.toDF("k", "v").withColumn("r", scatter())
      .repartition(6, col("r")).drop("r")
    val got = withConf("spark.sql.exchange.reuse" -> "false") {
      Partitioning.globalRowNumber(df, Seq(col("v"), col("k")), "i", numPartitions = 9)
        .select(col("v"), col("k"), col("i")).as[(Long, Long, Long)].collect()
    }
    assert(got.sortBy(_._3).map(_._3).toSeq == (1L to rows.size.toLong))
    assert(got.sortBy(_._3).map(r => (r._1, r._2)).toSeq ==
      rows.map(r => (r._2, r._1)).sorted)
  }

  test("ntileFromRank reproduces SQL ntile semantics at every remainder shape") {
    // n < buckets, n == buckets, even split, every remainder class, and a
    // large size — the formula must match Spark's own ntile exactly
    for (size <- Seq(1, 5, 9, 10, 11, 19, 20, 100, 101, 997)) {
      val df = (1 to size).map(_.toLong).toDF("k")
      val want = df.select(col("k"),
          ntile(10).over(Window.orderBy(col("k"))).cast("long").as("d"))
        .as[(Long, Long)].collect().toMap
      val got = df
        .select(col("k"), col("k").as("i"))
        .withColumn("d", Partitioning.ntileFromRank(col("i"), lit(size.toLong), 10)
          .cast("long"))
        .select(col("k"), col("d")).as[(Long, Long)].collect().toMap
      assert(got == want, s"ntile mismatch at size=$size")
    }
  }
}
