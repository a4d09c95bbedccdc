package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 additions: native as-of left-outer + tolerance semantics, and
  * the persisted bucketed canonical dedup store's zero-exchange probe.
  * (The skew-safe corpus-frequency rewrites are pinned in PlanSpec; their
  * VALUES are unchanged and stay covered by the per-round DuckDB oracle.) */
class Round8Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  // ---- native as-of: left-outer ----

  test("outer as-of: matched rows equal the inner join; unmatched lefts null-extend") {
    val inner = ops.AsOf.purchaseAsofSignupNative(spark, sf).collect().toSeq
    val outer = ops.AsOf.purchaseAsofSignupOuter(spark, sf).collect().toSeq
    val purchases = Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase").count()
    assert(outer.size == purchases, "left outer must emit every purchase")
    val (matched, unmatched) = outer.partition(r => !r.isNullAt(r.fieldIndex("signup_ts")))
    assert(matched == inner, "outer's matched subset must equal the inner join")
    assert(unmatched.forall(r => r.isNullAt(r.fieldIndex("signup_ts"))))
  }

  test("outer as-of edges: null-keyed lefts emit null-extended; stale candidates never leak") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(9L), "match"),     // matches r1@7
      (Some(2L), Some(1L), "tooEarly"),  // before any key-2 right row
      (Some(3L), Some(9L), "noKey"),     // key 3 absent on the right
      (None, Some(9L), "nullKey"),       // null key never matches
      (Some(1L), None, "nullTime")       // null time never matches
    ).toDF("k", "t", "tag")
    val right = Seq((1L, 7L, "r1@7"), (2L, 6L, "r2@6")).toDF("rk", "rt", "rtag")
    val out = ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt", outer = true)
      .select("tag", "rtag").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out == Map(
      "match" -> Some("r1@7"),
      "tooEarly" -> None, "noKey" -> None, "nullKey" -> None, "nullTime" -> None))
  }

  test("composite-key as-of: multi-column keys work by struct packing") {
    // The operator takes ONE key expression per side; multi-column keys
    // compose by packing into a struct column first (structs are
    // hash-partitionable and ordered field-by-field) — the documented
    // migration path from multi-equality ASOF conditions.
    import spark.implicits._
    val left = Seq((1L, "eu", 9L, "a"), (1L, "us", 9L, "b"), (2L, "eu", 9L, "c"))
      .toDF("uid", "region", "t", "tag")
      .withColumn("k", struct(col("uid"), col("region")))
    val right = Seq((1L, "eu", 5L, "r-eu1"), (1L, "us", 7L, "r-us1"), (2L, "us", 3L, "r-us2"))
      .toDF("r_uid", "r_region", "rt", "rtag")
      .withColumn("rk", struct(col("r_uid"), col("r_region")))
    val out = ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt")
      .select("tag", "rtag").as[(String, String)].collect().toMap
    assert(out == Map("a" -> "r-eu1", "b" -> "r-us1"))
  }

  // ---- native as-of: tolerance ----

  test("tolerance as-of: the bound is inclusive, rejects only stale candidates, and outer null-extends them") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "exact"),   // candidate at t=5, gap 5 == tol -> keeps
      (1L, 20L, "stale"),   // candidate at t=5, gap 15 > tol -> drops
      (2L, 6L, "fresh")     // candidate at t=4, gap 2 -> keeps
    ).toDF("k", "t", "tag")
    val right = Seq((1L, 5L, "r1@5"), (2L, 4L, "r2@4")).toDF("rk", "rt", "rtag")
    val inner = ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt",
        tolerance = Some(5L))
      .select("tag", "rtag").as[(String, String)].collect().toMap
    assert(inner == Map("exact" -> "r1@5", "fresh" -> "r2@4"))
    val outer = ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt",
        outer = true, tolerance = Some(5L))
      .select("tag", "rtag").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(outer == Map("exact" -> Some("r1@5"), "stale" -> None, "fresh" -> Some("r2@4")))
  }

  test("tolerance as-of on timestamps: subset of the untolerenced join, gap-bounded") {
    val bounded = ops.AsOf.purchaseAsofTolerance(spark, sf).collect().toSeq
    val all = ops.AsOf.purchaseAsofSignupNative(spark, sf).collect().toSeq
    assert(bounded.toSet.subsetOf(all.toSet), "tolerance can only remove matches")
    assert(bounded.nonEmpty, "fixture must contain within-tolerance matches")
    assert(bounded.forall { r =>
      val gap = r.getTimestamp(r.fieldIndex("p_ts")).getTime -
        r.getTimestamp(r.fieldIndex("signup_ts")).getTime
      gap >= 0 && gap <= ops.AsOf.ToleranceMicros / 1000
    }, "every surviving match must sit inside the tolerance window")
    assert(all.exists { r =>
      val gap = r.getTimestamp(r.fieldIndex("p_ts")).getTime -
        r.getTimestamp(r.fieldIndex("signup_ts")).getTime
      gap > ops.AsOf.ToleranceMicros / 1000
    }, "fixture must also contain beyond-tolerance matches, or the bound tests nothing")
  }

  // ---- pushdown through the as-of variants ----

  test("filter pushdown through OUTER and FORWARD as-of preserves results and reaches the scans") {
    import org.apache.spark.sql.execution.FormattedMode
    def base(outer: Boolean, forward: Boolean) = {
      val ev = Tables(spark, sf, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
      ops.AsOf.asofJoinNative(l, r, "user_id", "s_user_id", "ts", "signup_ts",
        outer = outer, forward = forward)
    }
    for ((o, f) <- Seq((true, false), (false, true), (true, true))) {
      val b = base(o, f)
      val filtered = b.filter(col("user_id") === 7L)
      val p = filtered.queryExecution.explainString(FormattedMode)
      // Left-only key conjunct reaches the left scan and mirrors to the right.
      assert("""EqualTo\(user_id,7\)""".r.findAllIn(p).size == 2,
        s"outer=$o forward=$f: key predicate must reach BOTH scans")
      // Sort both sides before comparing (ADVICE r08): the two differently-
      // optimized plans give no cross-plan row-order guarantee, so an
      // unsorted Seq comparison is a latent flake if partitioning or AQE
      // behavior shifts. event_id (column 2) is unique in the fixture.
      def sorted(rows: Seq[org.apache.spark.sql.Row]) = rows.sortBy(_.getLong(2))
      val expected = sorted(b.collect().filter(r => !r.isNullAt(0) && r.getLong(0) == 7L).toSeq)
      assert(sorted(filtered.collect().toSeq) == expected,
        s"outer=$o forward=$f: pushdown must not change results")
    }
  }

  // ---- native as-of: forward direction ----

  test("forward as-of: earliest at-or-after match, shared right rows, ties, tolerance, outer") {
    import spark.implicits._
    val left = Seq(
      (1L, 4L, "a"),   // -> r1@5 (first >= 4)
      (1L, 5L, "b"),   // tie -> r1@5 (>= is inclusive); same right row as "a"
      (1L, 6L, "c"),   // -> r1@9
      (2L, 50L, "d"),  // key 2's rights are all earlier -> no match
      (3L, 1L, "e")    // key 3 absent on the right -> no match
    ).toDF("k", "t", "tag")
    val right = Seq((1L, 5L, "r1@5"), (1L, 9L, "r1@9"), (2L, 6L, "r2@6"))
      .toDF("rk", "rt", "rtag")
    val inner = ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt",
        forward = true)
      .select("tag", "rtag").as[(String, String)].collect().toMap
    assert(inner == Map("a" -> "r1@5", "b" -> "r1@5", "c" -> "r1@9"))
    // tolerance bounds rt - lt: "c" (gap 3) drops at tol=2, keeps at tol=3.
    val tol2 = ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt",
        forward = true, tolerance = Some(2L))
      .select("tag", "rtag").as[(String, String)].collect().toMap
    assert(tol2 == Map("a" -> "r1@5", "b" -> "r1@5"))
    val outer = ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt",
        forward = true, outer = true)
      .select("tag", "rtag").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(outer == Map("a" -> Some("r1@5"), "b" -> Some("r1@5"),
      "c" -> Some("r1@9"), "d" -> None, "e" -> None))
  }

  test("forward as-of on events: every match is the first at-or-after purchase") {
    val out = ops.AsOf.signupToFirstPurchase(spark, sf).collect().toSeq
    assert(out.nonEmpty)
    assert(out.forall { r =>
      r.getTimestamp(r.fieldIndex("purchase_ts")).getTime >=
        r.getTimestamp(r.fieldIndex("s_ts")).getTime
    })
  }

  // ---- hot-key-only salted join ----

  test("salted hotkey join: equals the plain join; hot path actually fires") {
    import spark.implicits._
    // Drive the SALTING path itself: at the production rows-per-task
    // threshold (r21 re-calibration) the fixture's max fan-out of 7 is
    // correctly not-hot, so lower the seam to the fixture's top fan-out
    // band for this test — the hot branch must fire AND stay identical to
    // the plain join.
    val saved = ops.Tpch.HotKeyRowThreshold
    try {
      ops.Tpch.HotKeyRowThreshold = 6L
      val hotCount = Tables(spark, sf, "lineitem")
        .groupBy("l_orderkey").count().filter(col("count") >= 6).count()
      assert(hotCount > 0, "fixture must contain hot keys or the salting path tests nothing")
      // The operator's OWN detector (sampled candidates + exact verify,
      // r21) must fire too — sample-missed keys are allowed, zero are not.
      assert(ops.Tpch.saltedHotKeys(Tables(spark, sf, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")).count() > 0,
        "the sampled detector must surface at least one hot key at this seam")
      val plain = Tables(spark, sf, "lineitem")
        .join(Tables(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority").collect().toSeq
      assert(ops.Tpch.saltedHotJoin(spark, sf).collect().toSeq == plain)
    } finally ops.Tpch.HotKeyRowThreshold = saved
  }

  // ---- SpaceSaving approx-top-k sketch ----

  test("space saving: overestimate/witness bounds hold under eviction and any merge tree") {
    import spark.implicits._
    // Zipf-ish planted stream (item i ~ 400/i occurrences) with m=8 counters
    // over 40 distinct items: evictions fire constantly, across 4 partials.
    val stream = (1 to 40).flatMap(i => Seq.fill(400 / i)(s"item$i"))
    val truth = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val m = 8
    val out = stream.toDF("tok").as[String].repartition(4)
      .groupByKey(_ => 0)
      .agg(new ops.Custom.SpaceSaving(m, m).toColumn.name("top"))
      .collect().head._2
    assert(out.nonEmpty && out.size <= m)
    out.foreach { case (item, est, err) =>
      val t = truth(item)
      assert(t <= est, s"$item: est $est must overestimate true count $t")
      assert(est - err <= t, s"$item: est-err ${est - err} must lower-bound true count $t")
    }
  }

  test("space saving: single-summary guarantee — every item with count > n/m survives") {
    import spark.implicits._
    // In one partition the summary never trims, so the classic SpaceSaving
    // guarantee is exact: any item with true frequency above n/m is present.
    // (Under merging the error budget compounds per merge level — which is
    // why the guarantee is asserted here and only the est/err BOUNDS, which
    // do survive any merge tree, are asserted above.)
    val stream = Seq.fill(600)("heavy") ++ (1 to 40).flatMap(i => Seq.fill(400 / i)(s"item$i"))
    val truth = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n = stream.size.toLong
    val m = 8
    val out = stream.toDF("tok").as[String].repartition(1)
      .groupByKey(_ => 0)
      .agg(new ops.Custom.SpaceSaving(m, m).toColumn.name("top"))
      .collect().head._2
    val heavies = truth.filter(_._2 > n / m).keys.toSet
    assert(heavies.nonEmpty, "fixture must contain an above-threshold item")
    val survivors = out.map(_._1).toSet
    heavies.foreach(h =>
      assert(survivors.contains(h), s"heavy item $h (true ${truth(h)}, n/m=${n / m}) must survive"))
  }

  test("space saving: below-capacity summaries are exact under any partitioning") {
    import spark.implicits._
    val stream = (1 to 5).flatMap(i => Seq.fill(i * 7)(s"t$i"))
    def run(parts: Int) = stream.toDF("tok").as[String].repartition(parts)
      .groupByKey(_ => 0)
      .agg(new ops.Custom.SpaceSaving(32, 5).toColumn.name("top"))
      .collect().head._2
    val expected = (1 to 5).map(i => (s"t$i", i * 7L, 0L)).sortBy(t => (-t._2, t._1))
    assert(run(1) == expected && run(8) == expected,
      "below capacity the sketch must be the exact counts with zero error, any merge tree")
  }

  // ---- partitioned layout + co-located bucketed join ----

  test("partitioned scan: the lang filter prunes partitions before any row is read") {
    val p = ops.Extended.partitionedScan(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      "the lang predicate must become a partition filter, not a row filter")
    // one partition directory selected: the scan must not carry lang as a
    // pushed DATA filter (it doesn't exist in the files at all)
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"),
      "lang lives in the directory structure, never in the parquet pages")
  }

  test("bucketed fact-fact join: zero exchange on BOTH sides") {
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val plan = ops.Extended.bucketedJoin(spark, sf).queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(joins.size == 1, s"expected one sort-merge join, got ${joins.size}")
      for ((side, name) <- Seq(joins.head.left -> "left", joins.head.right -> "right")) {
        assert(side.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.isEmpty,
          s"$name side must read its buckets as co-located join partitions, not re-shuffle")
        val scans = side.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        assert(scans.nonEmpty && scans.head.bucketedScan, s"$name side must be a bucketed scan")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // ---- end-to-end curation pipeline ----

  test("curation pipeline: stage accounting reconciles with the standalone gates") {
    import spark.implicits._
    val out = ops.TextOps.curationPipeline(spark, sf).collect().toSeq
    val kept = out.map(_.getLong(out.head.fieldIndex("n_docs"))).sum
    val qualityKept = ops.TextOps.qualityFilter(spark, sf).filter(col("keep")).count()
    assert(kept > 0 && kept <= qualityKept,
      "pipeline survivors must be a subset of the quality-gated set")
    assert(out.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // the dedup stages must actually drop something at this fixture, or the
    // pipeline degenerates to the quality gate alone
    assert(kept < qualityKept, "fixture must exercise the dedup stages")
  }

  // ---- LSH bucket-width scaling lever ----

  test("banded LSH: widening bits cuts candidate volume while planted dups still collide") {
    // The r08 sweep's q_embed_neardup2 root cause: fixed 2^bits buckets
    // densify as the corpus grows. This pins the documented lever — at the
    // same corpus, bits=12 must generate strictly fewer candidate pairs
    // than bits=8, and a planted exact duplicate (identical signs → same
    // bucket in EVERY band at ANY width) must remain a candidate at both.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 64
    val base = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val emb = (Seq((0L, base), (1L, base.clone())) ++
      (10L until 510L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1))))
      .toDF("vec_id", "embedding")
    def candidates(bits: Int): Set[(Long, Long)] = {
      val eb = emb.select(col("vec_id"),
          explode(ops.Similarity.bandBuckets(col("embedding"), bands = 4, bits = bits)).as("bb"))
        .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      eb.select(col("vec_id").as("a"), col("band"), col("bucket"))
        .join(eb.select(col("vec_id").as("b"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val c8 = candidates(8)
    val c12 = candidates(12)
    assert(c8.contains((0L, 1L)) && c12.contains((0L, 1L)),
      "an exact duplicate must collide at any bucket width")
    assert(c12.size < c8.size,
      s"wider buckets must thin the candidate set: bits=8 → ${c8.size}, bits=12 → ${c12.size}")
  }

  test("autoBits: oracle-pinning floor at fixture sizes, ~+3 bits per decade, geometry cap") {
    import ops.Similarity.autoBits
    // Registered q_embed_neardup2 derives its band width from the corpus
    // count; the sf0.01 oracle fixture (500 vectors) must land exactly on
    // the floor that the hardcoded 8-bit DuckDB mirror assumes.
    assert(autoBits(500) == 8, "sf0.01 fixture must pin the oracle's 8 bits")
    assert(autoBits(5000) == 9)      // sf0.1
    assert(autoBits(50000) == 12)    // sf1 — the r08 sweep's prescribed width
    assert(autoBits(500000) == 15)   // sf10
    assert(autoBits(5000000) == 16,  // bands x bits <= dim bounds the growth
      "derived bits must cap at 16 (4 bands x 16 bits = 64 dims)")
    assert(autoBits(0) == 8, "degenerate corpus must not underflow the floor")
  }

  // ---- persisted canonical dedup store ----

  test("dedup store: day-2 probe output is exactly the recompute-everything incremental dedup") {
    val store = ops.TextOps.dedupStore(spark, sf).collect().toSeq
    val incremental = ops.TextOps.dedupIncremental(spark, sf).collect().toSeq
    assert(store == incremental)
  }

  test("dedup store: the probe plan has ZERO exchange above the bucketed store scan") {
    // Force the sort-merge anti-join (at test scale the store would
    // broadcast, which proves nothing about the bucketed layout), then walk
    // the join's store-side subtree: the bucketed files must feed the merge
    // with no Exchange — each bucket IS a ready-made join partition, so the
    // daily probe never re-shuffles the accumulated corpus. (A store-side
    // SortExec remains: Spark does not trust write-time sortBy order on
    // read — a bucket may span several writer files — so the per-bucket
    // merge sort is the one residual cost; it is partition-local, spillable,
    // and carries no network.)
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      // Spark's reader distrusts write-time bucket order by default
      // (SPARK-28595); with single-file buckets (the store repartitions on
      // fp before writing) this legacy conf makes the scan report its
      // sortBy order, deleting the probe-side Sort as well.
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val plan = ops.TextOps.dedupStore(spark, sf).queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(joins.size == 1, s"expected one sort-merge anti-join, got ${joins.size}")
      val storeSide = joins.head.right
      assert(storeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.isEmpty,
        "the persisted store must never re-shuffle: its buckets ARE the join partitions")
      assert(storeSide.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
        "single-file-per-bucket + write-time sortBy: the probe must not re-sort the store")
      val scans = storeSide.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.head.bucketedScan,
        "store side must be a bucketed file scan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
