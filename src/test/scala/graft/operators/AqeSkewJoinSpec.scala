package graft.operators

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** AQE skew-join readiness — the runtime HALF of the engine's skew story.
  *
  * `Partitioning.saltedJoin` / `nullSkewLeftJoin` are the declarative
  * mitigations for skew you KNOW about at authoring time; at 100 TB the
  * skew you didn't predict is handled by AQE's OptimizeSkewedJoin, which
  * splits an oversized shuffle partition into slices and replicates the
  * matching build-side partition — no user rewrite. This spec is the fence
  * proving our default session shape (AQE on, skew-join on) actually fires
  * the rule on a representative hot key (one key ≈ 50% of rows, the same
  * shape as ScaleProbeSpec's salted-vs-unsalted counter): a conf regression or a
  * plan shape that defeats the optimization (e.g. an extra exchange
  * between scan and join) would silently reintroduce the straggler task
  * this rule exists to kill. Thresholds are lowered to make the 60k-row
  * local input "skewed" by AQE's definition — same rule, same code path
  * as the 100 TB case. Result parity with the skew-blind count is also
  * asserted: skew handling must never change answers.
  */
class AqeSkewJoinSpec extends SparkSpec {

  test("OptimizeSkewedJoin splits the hot partition of a skewed sort-merge join") {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")

      import spark.implicits._
      // one hot key (0) carrying half the fact rows, long payload so the
      // hot shuffle partition dwarfs the advisory size
      val fact = spark.range(0, 60000)
        .select(
          when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 512).as("k"),
          concat(lit("x" * 64), col("id").cast("string")).as("payload"))
      val dim = spark.range(0, 512).select(col("id").as("k"), (col("id") * 7).as("w"))

      val joined = fact.join(dim, "k")
      // materialize THIS DataFrame's QueryExecution (count() would build a
      // sibling plan and leave joined's adaptive plan unfinalized)
      val n = joined.toLocalIterator().asScala.length.toLong

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected OptimizeSkewedJoin to mark the join (skew=true):\n${plan.take(2000)}")

      // answers are skew-invariant: every fact row matches exactly one dim row
      assert(n === 60000L, s"skew split must not change the join result (got $n)")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }
}
