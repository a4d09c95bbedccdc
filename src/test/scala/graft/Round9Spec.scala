package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 additions: day-N maintained dedup store (append path), the
  * corpus-adaptive LSH band width's registered wiring, and convergent
  * connected components inside the registered cluster queries. (The
  * convergence algorithm itself is pinned in DedupSpec's planted-chain
  * test; autoBits' derivation table in Round8Spec.) */
class Round9Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  // ---- day-N maintained dedup store ----

  test("store maintenance: the maintained store IS the corpus's canonical fingerprint set") {
    val store = ops.TextOps.dedupStoreMaint(spark, sf)
      .collect().map(_.getString(0)).toSeq
    val expected = Tables(spark, sf, "documents")
      .select(md5(col("text").cast("binary")).as("fp"))
      .distinct().orderBy("fp")
      .collect().map(_.getString(0)).toSeq
    assert(store == expected,
      "after the day-2 append the store must hold every distinct corpus fingerprint, sorted")
  }

  test("store maintenance: a re-probe of the appended batch finds ZERO novel fingerprints") {
    // The proof the append actually landed: day 2's batch, probed again
    // against the maintained store, is fully absorbed.
    ops.TextOps.dedupStoreMaint(spark, sf).collect() // ensure built+appended
    val fps = Tables(spark, sf, "documents")
      .select(md5(col("text").cast("binary")).as("fp"),
        pmod(ops.Dedup.portableHash(col("doc_id").cast("string")), lit(2L)).as("b"))
    val tbl = ops.TextOps.canonStoreName(sf) + "_maint"
    val reprobe = fps.filter(col("b") === 1).select("fp").distinct()
      .join(spark.table(tbl), Seq("fp"), "left_anti")
    assert(reprobe.isEmpty, "the maintained store must have absorbed every day-2 fingerprint")
  }

  test("store maintenance: the re-probe plan has ZERO exchange above the store scan") {
    // Same contract as q_dedup_store's probe pin, now against the APPENDED
    // store: maintenance must not cost the store its zero-shuffle probe
    // property. (The append adds a second file per bucket, so the reader no
    // longer trusts write-time sort order — a partition-local SortExec is
    // expected and acceptable; the Exchange is what may never return.)
    ops.TextOps.dedupStoreMaint(spark, sf).collect() // ensure built+appended
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fps = Tables(spark, sf, "documents")
        .select(md5(col("text").cast("binary")).as("fp"),
          pmod(ops.Dedup.portableHash(col("doc_id").cast("string")), lit(2L)).as("b"))
      val tbl = ops.TextOps.canonStoreName(sf) + "_maint"
      val reprobe = fps.filter(col("b") === 1).select("fp").distinct()
        .join(spark.table(tbl), Seq("fp"), "left_anti")
      val plan = reprobe.queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(joins.size == 1, s"expected one sort-merge anti-join, got ${joins.size}")
      val storeSide = joins.head.right
      assert(storeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.isEmpty,
        "the maintained store must never re-shuffle: its buckets ARE the join partitions")
      val scans = storeSide.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.head.bucketedScan,
        "store side must be a bucketed file scan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // ---- corpus-adaptive band width wiring ----

  test("q_embed_neardup2 at the oracle fixture still derives the floor (8 bits)") {
    // The registered query derives bits from the corpus count; at any
    // fixture <= 4096 vectors the floor must pin bits = 8, which is what
    // the hardcoded DuckDB mirror computes — output identity with the
    // explicit-8-bit form is the conclusive check.
    val auto = ops.Similarity.embedNearDup2(spark, sf).collect().toSeq
    val explicit8 = ops.Similarity.embedNearDupBanded(
      Tables(spark, sf, "embeddings"), 0.40, bits = 8).orderBy("vec_a", "vec_b").collect().toSeq
    assert(auto == explicit8,
      "auto-derived bits must equal the explicit 8-bit form at fixture scale")
  }

  // ---- two-pass heavy hitters (sf10 sweep rewrite) ----

  test("heavy hitters: candidate InSet filter prunes BELOW the exact-count aggregate") {
    // The r09 sf10 sweep's worst ratio came from shuffling every distinct
    // bigram through the exact count. The r10 shape inlines the <= K MG
    // candidates (one bounded driver-collected row) as an InSet filter
    // BELOW the final aggregate, so the recount shuffle carries at most K
    // bigrams per partition — with zero exchanges between the two passes.
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val plan = ops.Custom.mgHeavyHitters(spark, sf).queryExecution.executedPlan
    val aggsAboveInset = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.collect {
          case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.InSet]) => f
        }.nonEmpty => a
    }
    assert(aggsAboveInset.nonEmpty,
      "the exact-count HashAggregate must sit above the InSet candidate filter")
    // And exactly two jobs touch the corpus: the fused MG+total pass runs
    // eagerly at construction (head()), leaving ONE documents scan in the
    // remaining plan — and no exchange besides the recount's own shuffle.
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("documents")) => f
    }
    assert(scans.size == 1,
      s"post-sketch plan must scan documents exactly once, got ${scans.size}")
    val broadcasts = plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcasts.isEmpty,
      "the literal-inlined shape needs no broadcast exchange at all")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  // ---- IVF over a cell-partitioned store ----

  test("ivf pruned: the probe reads ONLY the nProbe cell directories (partition pruning)") {
    val p = ops.Similarity.ivfPruned(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && """cell#\d+L? IN""".r.findFirstIn(p).isDefined,
      s"the probe's cell predicate must be a partition filter:\n$p")
    assert(!p.contains("PushedFilters: [In(cell"),
      "cell lives in the directory structure, never in the parquet pages")
    // And the pruned store search must agree with the computed-on-the-fly
    // IVF search row-for-row (they share one oracle).
    assert(ops.Similarity.ivfPruned(spark, sf).collect().toSeq ==
      ops.Similarity.ivfAnn(spark, sf).collect().toSeq)
  }

  // ---- registered surface hygiene ----

  test("no registered query carries the naive x-S salted join; hotkey form remains") {
    assert(!SparkEntry.queries.contains("q_salted_join"),
      "the naive whole-dim x-S replication is test-only since round 9")
    assert(SparkEntry.queries.contains("q_salted_hotkey"))
    assert(SparkEntry.queries.contains("q_dedup_store_maint") &&
      SparkEntry.oracleSql.contains("q_dedup_store_maint"))
  }
}
