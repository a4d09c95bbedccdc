package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native Catalyst as-of join ([[graft.plans.AsOfJoinExec]]): semantic
  * equivalence with the composed union+window variant (which is itself
  * DuckDB-ASOF-oracle-checked), plan shape (one exchange + sort per side,
  * no window, no union), and the merge edge cases. */
class AsOfNativeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  test("native as-of join equals the composed union+window as-of join") {
    val composed = ops.AsOf.purchaseAsofSignup(spark, sf).collect().toSeq
    val native = ops.AsOf.purchaseAsofSignupNative(spark, sf).collect().toSeq
    assert(native == composed)
  }

  test("plan: AsOfJoinExec present; no Window, no Union; a shuffle and sort per side") {
    val qe = ops.AsOf.purchaseAsofSignupNative(spark, sf).queryExecution
    val p = qe.explainString(FormattedMode)
    assert(p.contains("AsOfJoin"), "native operator missing from the plan")
    assert(!p.contains("Window"), "native plan must not fall back to the window composition")
    assert(!p.contains("Union"), "native plan must not union the sides")
    // Operator counting is STRUCTURAL (r12): the synthetic fused child
    // stages are re-rendered as innerChildren in the explain string, so a
    // string count would see each side's exchange/sort twice; collect
    // traverses only the real children, where the contract is 2 key
    // shuffles (one per side) + 1 for the final orderBy, no more.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl +: (pl match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => pl.children
    }).flatMap(nodes)
    val all = nodes(qe.executedPlan)
    assert(all.count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) == 3,
      "exactly one key shuffle per side (plus the output sort)")
    assert(all.count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]) == 3,
      "both sides sorted on (key, time)")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      "left-side filter must still reach the parquet scan under the custom strategy")
  }

  test("optimizer rule: a filter above the join pushes into the scans") {
    val base = {
      val ev = Tables(spark, sf, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
      ops.AsOf.asofJoinNative(purchases, signups, "user_id", "s_user_id", "ts", "signup_ts")
    }
    val filtered = base.filter(col("user_id") === 7L && col("value") > 0.0)
    val p = filtered.queryExecution.explainString(FormattedMode)
    // The left-only conjuncts (user_id, value) reach the left scan; the
    // key conjunct mirrors to the right side as s_user_id = 7.
    assert(p.contains("EqualTo(user_id,7)"), "key predicate must reach the left scan")
    assert(p.contains("GreaterThan(value,0.0)"), "left predicate must reach the left scan")
    assert("""EqualTo\(user_id,7\)""".r.findAllIn(p).size == 2,
      "key predicate must ALSO reach the right scan (mirrored through the key equality)")
    // And pushing must not change the result.
    val expected = base.collect().filter(r =>
      r.getLong(r.fieldIndex("user_id")) == 7L && r.getDouble(r.fieldIndex("value")) > 0.0).toSeq
    assert(filtered.collect().toSeq == expected)
  }

  test("merge edges: ties match, pre-epoch lefts drop, stale candidates never leak") {
    import spark.implicits._
    val left = Seq(
      (1L, 5L, "l-a"),   // matches r at t=5 (tie, >= semantics)
      (1L, 9L, "l-b"),   // matches r at t=7 (latest <= 9)
      (2L, 1L, "l-c"),   // before any right row for key 2 -> dropped
      (2L, 8L, "l-d"),   // matches r at t=6
      (3L, 9L, "l-e")    // key 3 has no right rows at all; candidate from
                         //  key 2 must NOT leak -> dropped
    ).toDF("k", "t", "tag")
    val right = Seq(
      (1L, 3L, "r1@3"), (1L, 5L, "r1@5"), (1L, 7L, "r1@7"),
      (2L, 6L, "r2@6"), (2L, 40L, "r2@40")
    ).toDF("rk", "rt", "rtag")
    val out = ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt")
      .select("tag", "rtag").as[(String, String)].collect().toMap
    assert(out == Map("l-a" -> "r1@5", "l-b" -> "r1@7", "l-d" -> "r2@6"))
  }

  test("whole-stage codegen: the merge joins the fused stage, and the generated code compiles") {
    // `*(id)` in simple-mode explain marks operators inside a
    // WholeStageCodegen stage; before r09 the as-of broke the fused
    // pipeline (no CodegenSupport) and rendered bare.
    val df = ops.AsOf.purchaseAsofSignupNative(spark, sf)
    // Under AQE the codegen stages are only collapsed into the FINAL plan,
    // so materialize first and read the post-execution explain.
    df.collect()
    val simple = df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert("""\*\(\d+\) AsOfJoin""".r.findFirstIn(simple).isDefined,
      s"AsOfJoin must carry a codegen stage marker:\n$simple")
    // With fallback disabled, a Janino compile failure in the generated
    // merge would surface as an error instead of silently reverting to the
    // interpreted doExecute — so a green run here proves the generated code
    // of EVERY variant (plain/outer/tolerance/forward) actually compiles
    // and computes the same rows as the interpreted path.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import spark.implicits._
      val left = Seq((1L, 5L, "a"), (1L, 9L, "b"), (2L, 1L, "c"), (3L, 9L, "d"))
        .toDF("k", "t", "tag")
      val right = Seq((1L, 3L, "r3"), (1L, 7L, "r7"), (2L, 6L, "r6")).toDF("rk", "rt", "rtag")
      def run(outer: Boolean, tol: Option[Long], fwd: Boolean): Set[(String, Option[String])] =
        ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt", outer, tol, fwd)
          .select(col("tag"), col("rtag")).collect()
          .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(run(outer = false, None, fwd = false) ==
        Set(("a", Some("r3")), ("b", Some("r7"))))
      assert(run(outer = true, None, fwd = false) ==
        Set(("a", Some("r3")), ("b", Some("r7")), ("c", None), ("d", None)))
      assert(run(outer = false, Some(2L), fwd = false) == Set(("a", Some("r3")), ("b", Some("r7"))))
      assert(run(outer = false, Some(1L), fwd = false) == Set.empty[(String, Option[String])])
      assert(run(outer = false, None, fwd = true) ==
        Set(("a", Some("r7")), ("c", Some("r6"))))
      assert(run(outer = true, Some(2L), fwd = true) ==
        Set(("a", Some("r7")), ("b", None), ("c", None), ("d", None)))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("child-stage fusion: each sort input gets its own codegen stage (r11)") {
    import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = ops.AsOf.purchaseAsofSignupNative(spark, sf)
    df.collect() // materialize so AQE finalizes the physical plan
    def findAsOf(p: SparkPlan): Option[plans.AsOfJoinExec] = p match {
      case a: AdaptiveSparkPlanExec => findAsOf(a.executedPlan)
      // Materialized AQE stages are leaves wrapping their real subtree.
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findAsOf(q.plan)
      case a: plans.AsOfJoinExec => Some(a)
      case other => other.children.view.flatMap(findAsOf).headOption
        .orElse(other.subqueries.view.flatMap(findAsOf).headOption)
    }
    val asOf = findAsOf(df.queryExecution.executedPlan)
      .getOrElse(fail("AsOfJoinExec not found in the executed plan"))
    // CollapseCodegenStages leaves the SortExec children bare inside our
    // stage; fuseBelow must hand each of them its own WholeStageCodegenExec
    // — the exact InputAdapter(WholeStageCodegen(Sort(...))) shape the
    // built-in rule gives SortMergeJoin children.
    for (child <- Seq(asOf.left, asOf.right)) {
      assert(child.isInstanceOf[SortExec], s"expected a bare SortExec child, got:\n$child")
      val fused = plans.AsOfJoinExec.fuseBelow(child)
      fused match {
        case w: WholeStageCodegenExec =>
          assert(w.child.isInstanceOf[SortExec], s"stage must root at the sort:\n$fused")
          val sortInput = w.child.asInstanceOf[SortExec].child
          assert(sortInput.isInstanceOf[InputAdapter] ||
            sortInput.isInstanceOf[org.apache.spark.sql.execution.CodegenSupport],
            s"sort input must stay inside the stage or become a stage input:\n$fused")
        case other => fail(s"fuseBelow must wrap a codegen-able child in its own stage:\n$other")
      }
    }
    // The synthetic stages must be VISIBLE in plan output too (VERDICT r11
    // #6): AsOfJoinExec.innerChildren renders each fused sort-input
    // pipeline under its own codegen marker — stage id 0 = synthetic — so
    // explain/treeString shows the pipelines instead of hiding them.
    val shown = asOf.treeString
    assert(shown.contains("*(0) Sort"),
      s"synthetic child codegen stages must appear in the plan string:\n$shown")
    // With fallback disabled, executing the query proves the SYNTHETIC
    // child stages' generated code compiles (a Janino failure would throw
    // instead of silently reverting to child.execute()).
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val composed = ops.AsOf.purchaseAsofSignup(spark, sf).collect().toSeq
      val native = ops.AsOf.purchaseAsofSignupNative(spark, sf).collect().toSeq
      assert(native == composed)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("type mismatches and unsupported tolerance types fail at analysis time, not mid-job") {
    // The generated orderings and tolerance time-getter come from the LEFT
    // side's types but run against right-side rows; AsOfJoinPlan must
    // reject a mismatch when the plan is BUILT (ADVICE r08), never let it
    // reach an executor.
    import spark.implicits._
    val l = Seq((1L, 5L)).toDF("k", "t")
    val rTimeStr = Seq((1L, "5")).toDF("rk", "rt")
    val rKeyInt = Seq((1, 5L)).toDF("rk", "rt")
    val rStrTime = Seq((1L, "x")).toDF("rk", "rt")
    intercept[IllegalArgumentException] {
      ops.AsOf.asofJoinNative(l, rTimeStr, "k", "rk", "t", "rt")
    }
    intercept[IllegalArgumentException] {
      ops.AsOf.asofJoinNative(l, rKeyInt, "k", "rk", "t", "rt")
    }
    intercept[IllegalArgumentException] {
      val lStrTime = Seq((1L, "y")).toDF("k", "t")
      ops.AsOf.asofJoinNative(lStrTime, rStrTime, "k", "rk", "t", "rt",
        tolerance = Some(10L))
    }
  }

  test("null keys and times never match") {
    import spark.implicits._
    val left = Seq((Some(1L), Some(5L), "ok"), (None, Some(5L), "nullkey"),
      (Some(1L), None, "nulltime")).toDF("k", "t", "tag")
    val right = Seq((Some(1L), Some(1L), "r"), (None, Some(0L), "rnullk"),
      (Some(1L), None, "rnullt")).toDF("rk", "rt", "rtag")
    val out = ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt")
      .select("tag", "rtag").as[(String, String)].collect().toSeq
    assert(out == Seq(("ok", "r")))
  }
}
