package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.plans.{GroupedTopKStrategy, RewriteAggOnRollup, RewriteGroupedTopK}

/** graft's one installation list, the SparkSessionExtensions seam
  * SURVEY.md §4.2 documents. `GraftSession` builds every session with
  * it, and a cluster deployment gets the same set from
  *
  *   spark.sql.extensions=graft.expressions.GraftExtensions
  *
  * It injects the twelve `graft_*` functions, the four optimizer rules
  * and the grouped top-k planner strategy. Injected rules run inside
  * the optimizer's Operator Optimization batches, in this order. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (VectorExpressions.functions ++ TextExpressions.functions ++ KllExpressions.functions)
      .foreach(ext.injectFunction)
    Seq[Rule[LogicalPlan]](RewriteDotProduct, RewriteRollingHash,
      // the whole-operator seam (§4.2 rung (c)): grouped top-k — the
      // Filter(row_number ≤ k, Window) idiom re-planned as per-group
      // bounded heaps (graft.plans.GroupedTopK)
      RewriteGroupedTopK, RewriteAggOnRollup)
      .foreach(rule => ext.injectOptimizerRule(_ => rule))
    ext.injectPlannerStrategy(_ => GroupedTopKStrategy)
  }
}
