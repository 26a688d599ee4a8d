package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Compile-time access shim for `LogicalPlan.setAnalyzed` (private[sql]):
  * marks a plan built from resolved nodes as analyzed, so a Dataset over
  * it ([[PlanDatasets.ofRows]]) runs no analyzer rule on it. The caller
  * vouches for the tree: every attribute is its child's own output and
  * every expression is typed as the analyzer would have left it.
  */
object SetAnalyzed {
  def apply(plan: LogicalPlan): LogicalPlan = {
    plan.setAnalyzed()
    plan
  }
}
