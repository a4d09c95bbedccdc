package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-guarded broadcast hints (VERDICT r18 next #6 — the registered-
  * surface audit of forced `broadcast()` hints on data whose cardinality
  * grows with the corpus).
  *
  * A forced hint on a SF-proportional side (customer is 150k×SF rows,
  * supplier 10k×SF, part 200k×SF — "dimensions" only relative to the
  * fact) is the right plan at every tested decade and a guaranteed
  * driver/executor OOM a few decades later. [[dimBroadcast]] keeps the
  * hint exactly while Catalyst's own plan-cost estimate
  * (`optimizedPlan.stats.sizeInBytes` — file bytes × projected-column
  * ratio, a pure planning-time read, no job) fits a deployment-safe
  * ceiling, and otherwise emits NO hint, letting the planner and AQE pick
  * from runtime sizes. Because the estimate scales with the data, every
  * currently-tested scale keeps its current plan (sf0.001 PlanSpec pins
  * through sf100 sweeps), and the cutover only engages at the scales
  * where the broadcast would have been the bug.
  *
  * What stays UNGUARDED, and why (the PERF_NOTES r19 table lists every
  * site):
  *   - single-row / fixed-K sides (scalar aggregates, IVF centroids, PQ
  *     codebooks, sketch payloads): bounded by construction;
  *   - schema-enum dims (nation 25, region 5, event-type fences): bounded
  *     by the data model;
  *   - aggregate-derived sides whose TRUE size is dimension-proportional
  *     (tpch2's per-part argmin, tpch20's qualifying-supplier set,
  *     the hot-key list): plan-time stats CANNOT see their real size (the
  *     non-CBO estimator multiplies join children), so a stats gate would
  *     mis-fire at every scale; their bounds and named 100-TB reshapes
  *     are documented at the site. ADJUDICATED r20 (PERF_NOTES r20
  *     aggregate-hint section, hinted vs AQE's unhinted runtime plan at
  *     sf0.1 and sf100): tpch2's argmin and tpch20's supplier set dropped
  *     their hints (unhinted measured faster at both decades); the salted
  *     join's hot-key list keeps a plain `broadcast`
  *     ([[Tpch.saltedHotJoin]]).
  *
  * CBO ADJUDICATED r21 (OPTIMIZATION_r21.md §3):
  * `ANALYZE ... FOR COLUMNS` on catalog tables + `spark.sql.cbo.enabled`
  * DOES fix the joined-dim estimate (supplier⋈nation 18.6 MB product →
  * 2.8 KB) and recovers the hinted all-broadcast plan unhinted, at both
  * probed decades — but adoption is blocked twice over: the registered
  * surface reads parquet PATHS (no catalog entry to hold stats, and the
  * maintained stores would need a re-ANALYZE on every generation swap),
  * and Spark 4.1.2's CBO estimator throws `MatchError: TimestampNTZType`
  * when column stats cover an NTZ timestamp under a comparison filter —
  * `FOR ALL COLUMNS` breaks every dated query on this schema. The hint
  * plumbing needs no stats lifecycle and yields the identical executed
  * plan, so it stays.
  */
object Hints {

  /** Ceiling for a forced dimension broadcast, in Catalyst-estimated
    * bytes. 256 MB is comfortably inside any sane executor/driver memory
    * budget while far above `spark.sql.autoBroadcastJoinThreshold`'s
    * 10 MB default — the hint exists precisely to broadcast dims the
    * auto-threshold is too shy for. @volatile test seam. */
  @volatile private[graft] var DimBroadcastMaxBytes: Long = 256L << 20

  /** `broadcast(df)` while the optimizer's size estimate fits
    * [[DimBroadcastMaxBytes]]; `df` unhinted otherwise. */
  def dimBroadcast(df: DataFrame): DataFrame = dimBroadcast(df, df)

  /** [[dimBroadcast]] for a DERIVED dim — a base dimension pre-shrunk by
    * joining bounded enum dims (supplier⋈nation, customer⋈nation⋈region)
    * or pre-aggregated per key (the streaming as-of history): gate on
    * `sizedBy`, the BASE scan, instead of `df` itself. Without CBO column
    * stats Catalyst estimates an inner join's size as the PRODUCT of its
    * children's byte sizes (ADVICE r19 medium: supplier-bytes ×
    * nation-bytes is GBs at sf1), so gating on the joined frame silently
    * drops the hint at scales far below the real 256 MB intent — the exact
    * mis-fire [[dimBroadcast]]'s scaladoc disqualifies join/aggregate-
    * derived frames for. Sound whenever `df`'s true size is bounded by
    * `sizedBy`'s: a join on the enum dim's UNIQUE key can't raise the base
    * side's cardinality, and a per-key aggregate of `sizedBy` can't exceed
    * its bytes. */
  def dimBroadcast(df: DataFrame, sizedBy: DataFrame): DataFrame =
    if (sizedBy.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(DimBroadcastMaxBytes))
      broadcast(df)
    else df
}
