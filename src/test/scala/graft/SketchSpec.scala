package graft

import org.scalatest.funsuite.AnyFunSuite

/** Accuracy bounds for the two sketch-based queries — the only registered
  * queries without a DuckDB oracle (approximate by construction), so their
  * correctness check lives here: each sketch must land within its rated
  * error of the exact answer on the real fixtures.
  */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = s"${SparkEntry.FixtureRoot}/sf0.01"

  test("approx_count_distinct (HLL++, rsd=0.02) is within 5% of exact per group") {
    val approx = ops.Aggregates.aggApprox(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ops.Aggregates.aggDistinct(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    for ((flag, ex) <- exact) {
      val ap = approx(flag).toDouble
      assert(math.abs(ap - ex) / ex <= 0.05,
        s"HLL++ estimate $ap for $flag deviates >5% from exact $ex")
    }
  }

  test("KMV distinct sketch is within 25% of exact and invariant to partial-merge layout") {
    val exact = ops.Aggregates.aggDistinct(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def run() = ops.Custom.udafKmv(spark, d).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val est = run()
    assert(est.keySet == exact.keySet)
    for ((flag, ex) <- exact)
      assert(math.abs(est(flag) - ex) / ex <= 0.25,
        s"KMV(k=64) estimate ${est(flag)} for $flag deviates >25% from exact $ex")
    // Partial-merge invariance: the sketch must be a pure function of the
    // input SET, not of how partitions grouped it.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val est2 = run()
      assert(est2 == est, "sketch changed under a different partition layout")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("approx_percentile brackets the exact p50/p95 per group") {
    // approx_percentile(accuracy=1000) returns an actual data value whose
    // rank error is bounded by n/1000 — compare against the exact
    // interpolated percentile with a tolerance scaled to the group's spread.
    val approx = ops.Aggregates.percentileApprox(spark, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = ops.Aggregates.percentile(spark, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    for ((st, (p50e, p95e)) <- exact) {
      val (p50a, p95a) = approx(st)
      assert(math.abs(p50a - p50e) / p50e <= 0.02,
        s"p50 approx $p50a vs exact $p50e for $st")
      assert(math.abs(p95a - p95e) / p95e <= 0.02,
        s"p95 approx $p95a vs exact $p95e for $st")
    }
  }

  test("Misra-Gries: candidate set covers every true heavy hitter under any partition layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = s"${SparkEntry.FixtureRoot}/sf0.001"
    val K = 800
    val bgs = Tables(spark, sf, "documents")
      .select(explode(ops.Dedup.shingles(col("text"), n = 2)).as("bg"))
    val total = bgs.count()
    val exactHeavy = bgs.groupBy("bg").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(K.toLong) > lit(total))
      .collect().map(_.getString(0)).toSet
    assert(exactHeavy.nonEmpty, "fixture must have above-threshold bigrams for the test to bite")
    // The survivor-set guarantee (Agarwal et al. mergeability): every item
    // with true count > n/(k+1) is in the summary REGARDLESS of how the
    // partials were laid out or merged.
    for (parts <- Seq(1, 3, 7)) {
      val cands = bgs.repartition(parts).as[String].groupByKey(_ => 0)
        .agg(new ops.Custom.MisraGries(K).toColumn.name("cands"))
        .collect().head._2.toSet
      assert(exactHeavy.subsetOf(cands),
        s"at $parts partitions MG candidates miss ${exactHeavy.diff(cands).size} true heavy hitters")
    }
  }

  test("Misra-Gries two-pass output equals the exact threshold query and is merge-invariant") {
    import org.apache.spark.sql.functions._
    def run() = ops.Custom.mgHeavyHitters(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val first = run()
    assert(first.nonEmpty)
    // The sketch's internal estimates are merge-order-dependent; the
    // two-pass OUTPUT must not be — it equals the plain exact query.
    val bgs = Tables(spark, d, "documents")
      .select(explode(ops.Dedup.shingles(col("text"), n = 2)).as("bg"))
    val total = bgs.count()
    val exact = bgs.groupBy("bg").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(800L) > lit(total))
      .orderBy(col("cnt").desc, col("bg"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(first == exact, "two-pass MG output diverged from the exact threshold query")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      assert(run() == first,
        "heavy-hitter output changed under a different partial-merge layout")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("count-min: estimates never undercount, and the matrix is merge-invariant") {
    import org.apache.spark.sql.functions._
    def run() = ops.Custom.cmsFreq(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val first = run()
    assert(first.size == 20)
    // One-sided error: a CMS point estimate is >= the true count, always.
    assert(first.forall { case (_, cnt, est) => est >= cnt },
      s"CMS undercounted: ${first.filter { case (_, c, e) => e < c }}")
    // And at depth 4 / width 1024 over this vocabulary the top tokens
    // should mostly estimate exactly (collisions add, never subtract).
    assert(first.count { case (_, cnt, est) => est == cnt } >= 10,
      "implausibly many collisions for this geometry")
    // Element-wise-add merge makes the WHOLE matrix (hence every estimate)
    // independent of the partial-aggregation layout.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      assert(run() == first, "CMS estimates changed under a different merge layout")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
