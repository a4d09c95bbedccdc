package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ValidateRequirements

/** Reads every bucketed table with at most one task per task slot: a
  * bucketed `FileSourceScanExec` over `n` buckets, on a session with fewer
  * than `n` [[CoalesceBucketedScans.taskSlots]], reads through Spark's own
  * bucket coalescing (`optionalNumCoalescedBuckets = k`), where `k` is the
  * largest divisor of `n` not above the slot count. The morsel-driven
  * engine's rule, as in [[graft.ops.TextOps.bucketedWriter]]: threads, not
  * data cuts, set the parallelism.
  *
  * Why `k` divides `n`: coalescing sends bucket `i` to partition `i mod k`,
  * and `pmod(h, n) mod k == pmod(h, k)` exactly when `k` divides `n`, so the
  * scan still truthfully reports `HashPartitioning(cols, k)`. An aggregate
  * on the bucket columns therefore stays exchange-free, and one bucket's
  * rows still meet in one task.
  *
  * Why `ValidateRequirements` gates the rewrite: narrowing a scan can break
  * what the rest of the plan relies on. A scan co-partitioned with a
  * shuffle or with another `n`-bucket scan must keep `n` partitions, and a
  * coalesced scan reports no `outputOrdering`, so a sort-merge join that
  * relied on single-file sorted buckets (the legacy ordering conf) would
  * need a Sort it no longer has. The rule runs after `EnsureRequirements`
  * has placed every exchange, so it adds none: it first tries every target
  * scan at once, then, if that plan no longer validates, each scan alone,
  * keeping only rewrites Spark's own validator accepts.
  *
  * AQE only: it is registered as a query-stage prep rule, which runs on the
  * whole adaptive plan before stages are cut and again on every re-plan;
  * scans already coalesced are skipped, so a re-plan is a no-op on them.
  * With AQE off, plans are unchanged.
  *
  * Trade-off: one task now holds `n/k` buckets, so a hash aggregate over
  * the bucket columns holds `n/k` buckets' groups in one task's memory.
  * Measured only on stores of about a thousand rows; unmeasured at sf100. */
case class CoalesceBucketedScans(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val slots = CoalesceBucketedScans.taskSlots(session)
    def width(s: FileSourceScanExec): Option[Int] = s.relation.bucketSpec.map(_.numBuckets)
      .filter(n => s.bucketedScan && s.optionalNumCoalescedBuckets.isEmpty && n > slots)
      .map(n => (slots to 1 by -1).find(n % _ == 0).get)
    def coalesce(p: SparkPlan, targets: Set[FileSourceScanExec]) = p.transformUp {
      case s: FileSourceScanExec if targets(s) => s.copy(optionalNumCoalescedBuckets = width(s))
    }
    val targets = plan.collect { case s: FileSourceScanExec if width(s).nonEmpty => s }.distinct
    if (targets.isEmpty) plan
    else Some(coalesce(plan, targets.toSet)).filter(ValidateRequirements.validate)
      .getOrElse(targets.foldLeft(plan) { (p, s) =>
        Some(coalesce(p, Set(s))).filter(ValidateRequirements.validate).getOrElse(p)
      })
  }
}

object CoalesceBucketedScans {
  /** The session's task slots: the one width both the store's bucketed
    * writes ([[graft.ops.TextOps.bucketedWriter]]) and its bucketed reads
    * run at. */
  def taskSlots(s: SparkSession): Int = s.sparkContext.defaultParallelism
}
