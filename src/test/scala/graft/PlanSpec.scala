package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression guards: the scale-critical physical-plan properties
  * (filter pushdown, column pruning, broadcast choice, top-k operator)
  * asserted on the sf0.001 fixtures so a refactor can't silently trade them
  * away. Static (pre-AQE) plan text only — no execution-order flake. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = s"${SparkEntry.FixtureRoot}/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.explainString(FormattedMode)

  test("flagship: predicate pushed into the orders scan, schema pruned, broadcast join, fused top-k") {
    val p = plan("q_flagship")
    assert(p.contains("GreaterThanOrEqual(o_totalprice,250000.0)"), "filter not pushed to scan")
    assert(!p.contains("l_tax"), "lineitem schema not pruned")
    assert(p.contains("BroadcastHashJoin"), "filtered build side should broadcast")
    assert(p.contains("TakeOrderedAndProject"), "sort+offset+limit should fuse")
    assert(!p.contains("SortMergeJoin"))
  }

  test("dimension joins broadcast, never sort-merge, at small build sizes") {
    val p = plan("q_join_multiway")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("sort-merge hint forces the fact-fact shuffle shape") {
    val p = plan("q_join_sortmerge")
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("BroadcastHashJoin"))
  }

  test("cosine top-k: scan reads only vec_id + embedding and uses the native expression") {
    val p = plan("q_cosine_topk")
    assert(p.contains("cosine_sim"), "native CosineSimilarity expression missing from plan")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      "embedding scan should prune to two columns")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("salted aggregation keeps two aggregation levels") {
    val p = plan("q_salted_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "expected partial+final aggregates at both (key,salt) and key levels")
  }

  test("tpch5: every dimension edge broadcasts; no sort-merge at dim sizes") {
    val p = plan("q_tpch5")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("tpch3: segment and date predicates pushed into the scans, fused top-k") {
    val p = plan("q_tpch3")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter not pushed to customer scan")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("range join rides the equi key — never a cartesian/nested-loop product") {
    val p = plan("q_rangejoin")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Join"), "expected a hash/merge join on the equi key")
  }

  test("IVF probe: native cosine expression, no unbroadcast cartesian product") {
    // ivfAnn is test-only since r10 (q_ivf_pruned is the registered twin),
    // but its assignment plan IS ivfPruned's ingest stage — still guarded.
    val p = ops.Similarity.ivfAnn(spark, d).queryExecution.explainString(FormattedMode)
    assert(p.contains("cosine_sim"))
    assert(!p.contains("CartesianProduct"),
      "centroid/query sides must broadcast — a cartesian here scans N^2 at scale")
  }

  test("full outer join shuffles both sides (broadcast cannot produce the unmatched build rows)") {
    val p = plan("q_join_full")
    assert(p.contains("FullOuter"), "expected a full-outer join node")
    assert(!p.contains("BroadcastHashJoin"),
      "full outer must not broadcast — unmatched build-side rows would be lost per partition")
  }

  test("scan-level pruning: projection query never reads unused columns") {
    val p = plan("q_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_discount:double>")
      || !p.contains("l_returnflag"), "projection should prune the scan schema")
  }

  test("tpch17: brand filter pushed to the part scan; the part edge broadcasts") {
    val p = plan("q_tpch17")
    assert(p.contains("EqualTo(p_brand,Brand#4)"), "brand filter not pushed to part scan")
    assert(p.contains("BroadcastHashJoin"), "filtered part dim should broadcast")
  }

  test("tpch18: customer edge broadcasts against the tiny big-orders set") {
    val p = plan("q_tpch18")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-100 should fuse, not global sort")
  }

  test("lateral top-N decorrelates to a ranked window — no per-row re-execution") {
    val p = plan("q_lateral")
    assert(p.contains("Window"), "expected the LIMIT-per-key to become a window rank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "lateral must join on the correlation key, not enumerate pairs")
  }

  /** The physical tree WITH exchanges inserted and WITHOUT the adaptive
    * wrapper: `sparkPlan` predates EnsureRequirements (no exchanges yet)
    * and `executedPlan` under AQE is an AdaptiveSparkPlanExec leaf that
    * `collect` cannot descend into — so build the plan with AQE off. */
  private def physical(q: String): org.apache.spark.sql.execution.SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(q)(spark, d).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def shufflePartitionings(q: String): Seq[org.apache.spark.sql.catalyst.plans.physical.Partitioning] =
    physical(q).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s.outputPartitioning
    }

  test("chunking stays a per-row explode — no shuffle in the plan") {
    // Walk the physical tree instead of regexing explain text: the only
    // shuffles allowed are range-partitioned (the presentation sort); a
    // hash shuffle anywhere means chunk generation stopped being per-row.
    val shuffles = shufflePartitionings("q_chunk")
    assert(shuffles.nonEmpty && shuffles.forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      s"chunk generation must not hash-shuffle before the presentation sort; got $shuffles")
  }

  private def hashShuffles(q: String): Seq[String] =
    shufflePartitionings(q).collect {
      case p: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => p.toString
    }

  test("tpch17: the avg-quantity subtree shuffles exactly once, on the join key") {
    // The correlated-AVG rewrite costs ONE hashpartitioning exchange (the
    // per-part aggregate); the probe side rides the broadcast part edge and
    // the final global aggregate is a SinglePartition exchange, not a hash.
    val hs = hashShuffles("q_tpch17")
    assert(hs.size == 1 && hs.head.contains("l_partkey"),
      s"expected exactly one hash shuffle on l_partkey, got $hs")
  }

  test("pack: one window shuffle on the stratum; the bin aggregate reuses it") {
    // groupBy(lang, bin) after a window partitioned by lang must NOT add a
    // second exchange — hashpartitioning(lang) already clusters (lang, bin).
    val hs = hashShuffles("q_pack")
    assert(hs.size == 1 && hs.head.contains("lang"),
      s"expected exactly one hash shuffle on lang, got $hs")
  }

  test("incremental near-dup: band match is an equi join, never an enumerated product") {
    val p = plan("q_neardup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "batch×existing candidate generation must ride the (band, sig) equi key")
  }

  test("tpch7: nation-filtered dims broadcast; fact join never a product") {
    val p = plan("q_tpch7")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "nation-filtered supplier and customer edges should broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch12: orderkey equi-join with both date predicates pushed to the lineitem scan") {
    val p = plan("q_tpch12")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_shipdate"),
      "ship-date window not pushed into the scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("banded near-dup: candidates ride the (band, bucket) equi key, never a product") {
    val p = plan("q_embed_neardup2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band-OR candidate generation must stay an equi-join")
  }

  test("winnow_true: ZERO hash shuffles — selection happens inside each document's row") {
    // r10: the window formulation's single hashpartitioning(doc_id)
    // exchange still carried EVERY shingle of the corpus and went
    // super-linear in the sf100 probe; the per-doc array form keeps the
    // whole selection map-side (Round10Spec pins bit-identity).
    val hs = hashShuffles("q_winnow_true")
    assert(hs.isEmpty, s"expected no hash shuffle at all, got $hs")
  }

  test("tpch1: pure map-side-combined aggregation — one hash shuffle, date filter in the scan") {
    val hs = hashShuffles("q_tpch1")
    assert(hs.size == 1 && hs.head.contains("l_returnflag"),
      s"expected one hash shuffle on the group keys, got $hs")
    assert(plan("q_tpch1").contains("LessThanOrEqual(l_shipdate"),
      "ship-date filter not pushed into the lineitem scan")
  }

  test("tpch2: dims broadcast; the argmin joins back UNHINTED (r20 probe adjudication)") {
    val p = plan("q_tpch2")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "part, supplier and nation should all broadcast")
    // The per-part argmin set is deliberately NOT hinted (PERF_NOTES r20
    // aggregate-hint section: the edges side is already partitioned on
    // exactly the join keys by its distinct(), so the static sort-merge is exchange-free on the probe
    // side and measured FASTER than the forced driver broadcast at sf0.1
    // and sf100 — and AQE may still convert it at runtime). ONE SMJ is the
    // argmin edge (formatted explain names each operator twice: tree +
    // detail row); anything more would be a dim edge regressing.
    assert("SortMergeJoin".r.findAllIn(p).size <= 2,
      s"only the argmin edge may sort-merge: $p")
    assert(!p.contains("CartesianProduct"))
  }

  test("tpch8/tpch9: every dim edge broadcasts; never a product") {
    for (q <- Seq("q_tpch8", "q_tpch9")) {
      val p = plan(q)
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, s"$q: dims must broadcast")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("tpch11: per-part value shuffles once on partkey; the grand total broadcasts back") {
    val hs = hashShuffles("q_tpch11")
    assert(hs.nonEmpty && hs.forall(_.contains("l_partkey")),
      s"only the per-part aggregate may hash-shuffle, got $hs")
    assert(plan("q_tpch11").contains("BroadcastNestedLoopJoin"),
      "the 1-row threshold must broadcast as a cross join")
  }

  test("tpch4: EXISTS stays a left-semi join; the quarter filter reaches the orders scan") {
    val p = plan("q_tpch4")
    assert(p.contains("LeftSemi"), "expected the EXISTS to plan as a left-semi join")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "quarter filter not pushed to orders scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the correlated l_shipdate > o_orderdate residual must ride the orderkey equi-key")
  }

  test("tpch13: the fact aggregates BEFORE the customer join — shuffles on custkey then count only") {
    // Two hash exchanges: orders groupBy(o_custkey), then groupBy(c_count).
    // A shuffle carrying customer columns into the raw fact would mean the
    // join ran before the aggregation — the shape that dies at 100 TB.
    val hs = hashShuffles("q_tpch13")
    assert(hs.size == 2 && hs.exists(_.contains("o_custkey")) && hs.exists(_.contains("c_count")),
      s"expected hash shuffles on o_custkey and c_count only, got $hs")
  }

  test("tpch15: the revenue view shuffles on suppkey; max and supplier edges broadcast") {
    val hs = hashShuffles("q_tpch15")
    assert(hs.nonEmpty && hs.forall(_.contains("l_suppkey")),
      s"only the per-supplier aggregate may hash-shuffle, got $hs")
    assert(plan("q_tpch15").contains("BroadcastHashJoin"),
      "1-row max and supplier dim should broadcast into the view")
  }

  test("tpch16: part and complaint-supplier edges broadcast; never sort-merge at dim sizes") {
    val p = plan("q_tpch16")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("tpch20: aggregated-subquery semi chain — bolt parts broadcast, supplier probe is left-semi") {
    val p = plan("q_tpch20")
    assert(p.contains("LeftSemi"), "the IN-subquery must plan as a left-semi join")
    assert(p.contains("BroadcastHashJoin"), "the name-filtered part set should broadcast into the fact")
    // The qualifying-supplier set is deliberately NOT hinted (PERF_NOTES
    // r20 aggregate-hint section: the semi's probe side is the dim-sized supplier table, so the
    // forced driver broadcast of an SF-proportional build measured SLOWER
    // than the sort-merge semi at sf0.1 and sf100; AQE converts at runtime
    // when the build is actually small). ONE SMJ is that semi (formatted
    // explain names each operator twice: tree + detail row).
    assert("SortMergeJoin".r.findAllIn(p).size <= 2,
      s"only the aggregated-build semi may sort-merge: $p")
  }

  test("salted hotkey join: the hot-key list broadcasts into both the fact and the dim join") {
    // The hot list's forced broadcast is a measured choice (PERF_NOTES r20
    // aggregate-hint section: unhinted, AQE's conversion missed at sf100
    // and the tag joins shuffled the whole fact on the skewed key). Auto
    // broadcast is switched off while planning, so only the explicit hints
    // can produce a broadcast side here.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try physical("q_salted_hotkey")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // (build-side output names, probe-side key names) per broadcast join.
    val joins = p.collect { case j: BroadcastHashJoinExec =>
      val (build, probeKeys) =
        if (j.buildSide == BuildRight) (j.right, j.leftKeys) else (j.left, j.rightKeys)
      (build.output.map(_.name).toSet, probeKeys.flatMap(_.references.map(_.name)).toSet)
    }
    val hkProbeKeys = joins.collect { case (out, keys) if out("hk") => keys }
    assert(hkProbeKeys.exists(_("l_orderkey")) && hkProbeKeys.exists(_("o_orderkey")),
      s"hk must be the broadcast side of the fact and the dim join; broadcast joins: $joins")
    assert(joins.exists { case (out, keys) => out("ck") && keys("l_orderkey") },
      s"the sampled candidate list must broadcast into the exact count; broadcast joins: $joins")
  }

  test("tpch21: decorrelated to ONE pass over lineitem — exactly three table scans, no self-join") {
    // The doubly-quantified EXISTS/NOT-EXISTS runs as per-order set
    // aggregates; a lineitem self-join would show as a 4th/5th scan and
    // triple the fact shuffle at scale.
    val p = physical("q_tpch21")
    val scans = "Scan parquet".r.findAllIn(p.toString).size
    assert(scans == 3, s"expected scans of lineitem+orders+supplier only, got $scans")
    assert(!plan("q_tpch21").contains("CartesianProduct"))
    // The per-order test is min/max over fixed-width buffers: codegen'd
    // hash aggregates only, and no distinct-rewrite shuffle on
    // (o_orderkey, l_suppkey).
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    assert(p.collect { case a: ObjectHashAggregateExec => a }.isEmpty,
      s"per-order aggregates must not be object hash aggregates:\n$p")
    val keys = p.collect { case e: ShuffleExchangeExec => e.outputPartitioning }.collect {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.flatMap(_.references.map(_.name)).toSet
    }
    assert(!keys.contains(Set("o_orderkey", "l_suppkey")),
      s"no exchange may be keyed on (o_orderkey, l_suppkey): $keys")
  }

  test("embed-store edge derivation: the banded batch pairs feed the union unsorted") {
    // A global sort of the batch x batch pairs is a range exchange plus a
    // sort whose order the union, the contraction and connected components
    // all discard.
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_edges_")
    val base = s"graft_plan_edges_${System.nanoTime}"
    val emb = Tables(spark, d, "embeddings").select("vec_id", "embedding")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      ops.Similarity.buildEmbedBandStore(spark, base, dir.toString,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = ops.Similarity.newVerifiedEdges(spark, base,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 1), 0.40, 4, 8)
        .queryExecution.executedPlan
      val globalSorts = p.collect { case s: org.apache.spark.sql.execution.SortExec if s.global => s }
      assert(globalSorts.isEmpty, s"no global Sort in the edge derivation:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      Seq("_ebands", "_evecs").foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("tpch22: recent-order date filter pushed into the orders scan under the anti join") {
    val p = plan("q_tpch22")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "date filter not pushed to orders scan")
    assert(p.contains("LeftAnti"), "NOT EXISTS should plan as a left-anti join")
  }

  private def windowPartitionKeys(q: String): Seq[String] =
    physical(q).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.map(_.toString)
    }.flatten

  test("dup_ngrams: aggregate-then-join, never a window on the Zipf gram key; hash-keyed shuffles only") {
    // Round 8: corpus frequency is a map-side-combined groupBy(gh) joined
    // back (AQE-skew-splittable) over the ONE materialized distinct-pairs
    // frame — a Window.partitionBy(gh) would pin every occurrence of a
    // boilerplate 8-gram into a single task with no partial aggregation.
    assert(!plan("q_dup_ngrams").contains("CartesianProduct"))
    assert(windowPartitionKeys("q_dup_ngrams").isEmpty,
      "cross-doc frequency must not be a window over the gram key")
    val hs = hashShuffles("q_dup_ngrams")
    assert(hs.forall(s => s.contains("gh") || s.contains("doc_id")),
      s"shuffle keys must be the gram hash / doc id, got $hs")
  }

  test("bigram_q / source_stats: no window over a token/content key anywhere in the plan") {
    for (q <- Seq("q_bigram_q", "q_source_stats")) {
      assert(windowPartitionKeys(q).isEmpty,
        s"$q: corpus frequency must be aggregate-then-join, not a Zipf-key window")
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    // source_stats additionally must never shuffle raw text: content is
    // digested to md5 before the first exchange.
    assert(hashShuffles("q_source_stats").forall(s => !s.contains("text")),
      "source_stats must shuffle digests, not raw text")
  }

  test("ngram_jaccard: candidates come from LSH bands — no length-bucket blocked self-join") {
    val p = plan("q_ngram_jaccard")
    assert(!p.contains("lenb"),
      "round 8 retired the (lang, length-bucket) blocked all-pairs shape")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must ride the (band, sig) equi key")
  }

  test("pq_encode: per-row map over the literal codebook — no join, no regroup exchange (r22)") {
    val p = plan("q_pq_encode")
    // The codebook is INLINED (r22): encoding must be scan → project →
    // output sort. Any join or hash-keyed exchange means the explode +
    // broadcast-join + regroup shape crept back.
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "the literal-codebook encoder must not join at all")
    assert(hashShuffles("q_pq_encode").isEmpty,
      "encoding must not regroup; the only exchange is the output sort")
  }

  test("pq_search: per-row ADC over the literal tables — scan to top-k with zero exchanges (r22)") {
    val p = plan("q_pq_search")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "the literal-ADC search must not join at all")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be a TakeOrderedAndProject, not a global sort")
    assert(!p.contains("Exchange"), "pq_search must run scan → map → top-k with zero exchanges")
  }

  test("tfidf: corpus-size scalar broadcasts; df never a window on the Zipf term key") {
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row n_docs aggregate must broadcast, never shuffle-join")
    // Round 8: df is a groupBy over the ONE materialized tf frame joined
    // back on term; the only window left is the per-doc top-3 rank —
    // bounded fan-in, partitioned by doc_id, never by a token key.
    val wins = windowPartitionKeys("q_tfidf")
    assert(wins.nonEmpty && wins.forall(_.contains("doc_id")),
      s"the only window may partition by doc_id, got $wins")
    val scans = "Scan parquet".r.findAllIn(physical("q_tfidf").toString).size
    assert(scans <= 1, s"tf subtree must materialize once: $scans document scans in the plan")
  }
}
