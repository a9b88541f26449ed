package graft.queries

import graft.{SparkSpec, Tables}
import graft.SparkSpec.planNodes
import org.apache.spark.sql.execution.window.WindowGroupLimitExec

/** Plan fence for the rank-filter → window-group-limit pushdown that the
  * whole top-k-per-group family rides on: `row_number().over(partitionBy g
  * orderBy s) <= k` must plan as a pair of [[WindowGroupLimitExec]] nodes —
  * a map-side Partial that keeps only k rows per group per input partition
  * BEFORE the exchange, and a Final after it — instead of shuffling and
  * fully sorting EVERY row of every group and discarding all but k after
  * the fact. At 100 TB this is the difference between an exchange carrying
  * ~k·groups rows and one carrying the entire scan.
  *
  * Catalyst's `InferWindowGroupLimit` does this rewrite today (including
  * through the `.cast("long")` the catalog applies to rank columns for
  * BIGINT oracle parity — probed explicitly: cast-before-filter and
  * cast-after-filter both qualify). The rewrite is fragile to formulation,
  * not data: wrapping the rank in an expression the rule can't see through,
  * filtering on a derived column, or adding a second window function to the
  * same projection can all silently drop it and revert the query to
  * full-sort-everything. This spec executes the REAL catalog queries and
  * fails if any of them loses the pushdown.
  */
class WindowGroupLimitFenceSpec extends SparkSpec {

  /** name -> minimum WindowGroupLimitExec count (2 per limited window:
    * Partial map-side + Final post-shuffle; recall_audit ranks twice).
    */
  private val fenced = Seq(
    "q_win_topk_per_group" -> 2,
    "q_sim_bruteforce_topk" -> 2,
    "q_sim_bruteforce_topk_native" -> 2,
    "q_sim_ivf_topk" -> 2,
    "q_sim_lsh_topk" -> 2,
    "q_sim_hard_negatives" -> 2,
    "q_sim_recall_audit" -> 4,
    "q_text_salient_terms" -> 2,
    "q_curate_source_quota" -> 2,
    // the sampling family's scale story is the same pushdown: exact-k per
    // stratum is a rank filter over a hash order, so the exchange carries
    // k rows per stratum instead of the whole table
    "q_sample_exact_k" -> 2)

  for ((name, minCount) <- fenced)
    test(s"$name keeps the window-group-limit pushdown (>= $minCount nodes)") {
      val df = AllQueries.all(name).run(Tables(spark, sf()))
      df.collect() // AQE finalizes stages only at runtime
      val got = planNodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[WindowGroupLimitExec])
      assert(got >= minCount,
        s"$name lost the rank-filter pushdown: expected >= $minCount " +
          s"WindowGroupLimitExec nodes, found $got — the top-k now fully " +
          s"sorts every group.\n" + df.queryExecution.executedPlan)
    }

  // A GLOBAL (no partitionBy) row_number filter takes the OTHER scale-safe
  // rewrite — LimitPushDownThroughWindow plants Local/GlobalLimit k BELOW
  // the window, so each input partition contributes at most k rows to the
  // single-partition sort instead of the whole table flowing through it.
  // (row_number over an empty partition spec is exempted from
  // InferWindowGroupLimit precisely because this rewrite subsumes it; a
  // plain rank() there would take the WindowGroupLimit path instead.)
  test("q_sample_priority_k keeps the limit-below-window pushdown") {
    val df = AllQueries.all("q_sample_priority_k").run(Tables(spark, sf()))
    df.collect()
    val optimized = df.queryExecution.optimizedPlan
    val window = optimized.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(window.isDefined, s"expected a Window node:\n$optimized")
    val limitBelow = window.get.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => l
    }
    assert(limitBelow.isDefined,
      s"q_sample_priority_k lost the limit-below-window pushdown: no " +
        s"LocalLimit under the global window — every row now feeds the " +
        s"single-partition sort.\n$optimized")
  }
}
