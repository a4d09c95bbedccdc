package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Planner strategy mapping the graft logical operators to their physical
  * implementations. Catalyst calls every registered strategy bottom-up via
  * `planLater` placeholders, so the children plan with the FULL built-in
  * strategy set (scans still prune/pushdown, exchanges still come from
  * EnsureRequirements) — the strategy owns only its own node.
  */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, outer, tol, fwd) =>
      AsOfJoinExec(lk, rk, lt, rt, outer, tol, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Session extension hook — registered the production way, by class name:
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` on any
  * session builder (Verify, Bench, tests), so a cluster deploy enables the
  * operator with one conf line and zero code changes.
  *
  * It also registers [[CoalesceBucketedScans]] as a query-stage prep rule:
  * AQE runs those on the whole physical plan after `EnsureRequirements`
  * has placed the exchanges, the only point where a rewrite of a bucketed
  * scan's width can be checked against every operator that relies on it.
  * Non-adaptive plans never reach it, so with AQE off plans are unchanged.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => GraftStrategy)
    // Joins Catalyst's operator-optimization fixed point, so a conjunct this
    // rule moves below the as-of node is then carried all the way into the
    // parquet scan by the built-in pushdown rules.
    ext.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
    ext.injectQueryStagePrepRule(CoalesceBucketedScans)
  }
}
