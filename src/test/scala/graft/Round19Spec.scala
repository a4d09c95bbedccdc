package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19: the VERDICT r18 worklist.
  *
  *  1. The label-overlay broadcast is SIZE-GUARDED (VERDICT r18 next #1,
  *     the round's top item): [[ops.TextOps.readLabels]] hints
  *     `broadcast()` on the delta key set only while the delta's Catalyst
  *     size estimate fits [[ops.TextOps.LabelDeltaMaxBytes]] (a driver-side
  *     stats read, no job on the read path); above it the anti-join falls
  *     back to a plain join — and because base and delta are bucketed on
  *     the key at the SAME width, the fallback is a zero-exchange
  *     sort-merge anti join, never a corpus shuffle. Both plan regimes are
  *     pinned on the physical tree, and the overlay view stays at the
  *     from-scratch fixed point in both.
  *  2. The fold triggers EARLY on delta size (VERDICT r18 next #4):
  *     one oversized batch folds into the base in the same
  *     [[ops.TextOps.publishLabelDelta]] call, so registered-path stores
  *     never serve an over-ceiling overlay in steady state.
  *  3. [[ops.Similarity.ivfCompactCells]] output is SIZE-BOUNDED (VERDICT
  *     r18 next #3): a rewritten cell lands ceil(cellBytes/targetFileBytes)
  *     files instead of coalesce(1)'s single-task single file; replayed
  *     duplicate retirement still holds across the multi-file rewrite.
  *  4. The store lifecycle drives the Hadoop `FileSystem` API
  *     ([[ops.StoreFs]], VERDICT r18 next #2) — the lifecycle specs and
  *     the crash-point sweep run through that seam; here only the seam's
  *     own contracts (atomic lock create, quiet delete) get direct
  *     coverage.
  */
class Round19Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  // ---- sig-tier planted fixture (the Round14/15/17/18Spec geometry) ----
  private def words(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
  private val (tA, tC, tE, tF, tG) =
    (words("alpha"), words("charlie"), words("echo"), words("foxtrot"),
     words("golf"))
  private def docsDF(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def sigDay0 = docsDF(1L -> tA, 2L -> tA, 3L -> tC, 5L -> tE, 6L -> tF)
  private def sigDay1 = docsDF(10L -> tA, 11L -> tE, 12L -> tG, 13L -> tG)
  private val sigDay0Want = Map(1L -> 1L, 2L -> 1L)
  private val sigDay1Want = Map(1L -> 1L, 2L -> 1L, 10L -> 1L,
    5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L)

  private def dropSigTables(base: String): Unit =
    Seq("_bands", "_toks", "_labels", "_labels_stage", "_labels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  private def viewOf(tbl: String): Map[Long, Long] =
    ops.TextOps.readLabels(spark, tbl, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def baseOf(tbl: String): Map[Long, Long] =
    spark.table(tbl).select(col("doc_id"), col("canonical_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def overlayPlan(tbl: String) =
    ops.TextOps.readLabels(spark, tbl, "doc_id").queryExecution.executedPlan

  private def shufflesOf(plan: org.apache.spark.sql.execution.SparkPlan) =
    plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  // ------------------------------------------------------------------
  // 1. The broadcast guard: both plan regimes, same fixed point.
  // ------------------------------------------------------------------

  test("overlay read under the cardinality ceiling: broadcast anti-join, no shuffle (the r18 regime)") {
    val base = s"graft_r19_bc_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r19_bc_")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(spark.table(s"${base}_labels_delta").count() > 0, "fixture: non-empty delta")
      assert(spark.table(s"${base}_labels_delta").queryExecution
          .optimizedPlan.stats.sizeInBytes <= BigInt(ops.TextOps.LabelDeltaMaxBytes),
        "fixture: the delta must be under the production ceiling")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = overlayPlan(s"${base}_labels")
      assert(shufflesOf(plan).isEmpty, s"no shuffle on either side: $plan")
      val bcAnti = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(bcAnti.nonEmpty, s"under the ceiling the anti-join must broadcast: $plan")
      assert(viewOf(s"${base}_labels") == sigDay1Want)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("overlay read ABOVE the cardinality ceiling: no forced broadcast, zero-exchange bucketed anti-join fallback") {
    val base = s"graft_r19_smj_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r19_smj_")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedCeil = ops.TextOps.LabelDeltaMaxBytes
    val savedFold = ops.TextOps.LabelFoldRuns
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(spark.table(s"${base}_labels_delta").count() > 0, "fixture: non-empty delta")
      // Simulate a 100-TB-scale delta: over the ceiling (so readLabels must
      // not hint), and too big for the planner to auto-broadcast (threshold
      // off — at real scale the delta's stats do this by themselves).
      ops.TextOps.LabelDeltaMaxBytes = 0L
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = overlayPlan(s"${base}_labels")
      val bc = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(bc.isEmpty,
        s"above the ceiling nothing may force a driver-side broadcast: $plan")
      val smjAnti = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(smjAnti.nonEmpty, s"the fallback is a sort-merge anti join: $plan")
      // The 100×-scale point: both sides are bucketed on the key at the
      // same width, so even the fallback moves NO data — sorts only.
      assert(shufflesOf(plan).isEmpty,
        s"the fallback must stay zero-exchange (bucketed co-location): $plan")
      assert(viewOf(s"${base}_labels") == sigDay1Want,
        "the fallback regime serves the same fixed point")
    } finally {
      ops.TextOps.LabelDeltaMaxBytes = savedCeil
      ops.TextOps.LabelFoldRuns = savedFold
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // 2. The cardinality-triggered fold.
  // ------------------------------------------------------------------

  test("an over-ceiling batch folds into the base in the same publish call, whatever the run count") {
    val base = s"graft_r19_fold_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r19_fold_")
    val savedCeil = ops.TextOps.LabelDeltaMaxBytes
    try {
      assert(ops.TextOps.LabelFoldRuns > 2, "fixture: production cadence")
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      // Day-1's delta (changed ∪ first-time labels) is 5 rows of parquet —
      // over a 1-byte ceiling, far under the run cadence of 8.
      ops.TextOps.LabelDeltaMaxBytes = 1L
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(baseOf(s"${base}_labels") == sigDay1Want,
        "the oversized batch must fold into a fresh base generation immediately")
      assert(spark.table(s"${base}_labels_delta").count() == 0,
        "the early fold clears the delta like a cadence fold")
      assert(viewOf(s"${base}_labels") == sigDay1Want)
    } finally {
      ops.TextOps.LabelDeltaMaxBytes = savedCeil
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // 3. Size-bounded IVF cell compaction.
  // ------------------------------------------------------------------

  private val T = math.sqrt(0.0753).toFloat
  private def vec(pattern: Int, tail: (Float, Float), wiggle: Float): Array[Float] = {
    val v = new Array[Float](64)
    val s = (1.0 / math.sqrt(32.0)).toFloat
    for (i <- 0 until 32) v(i) = if (((pattern >> (i % 16)) & 1) == 1) s else -s
    v(32) = tail._1; v(33) = tail._2; v(39) = wiggle
    v
  }
  private val P1 = 0xA5A5; private val P2 = 0x3C97

  test("ivfCompactCells splits an oversize cell across multiple files and still retires replayed duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r19_ivf_").toString
    val cent = Seq((0L, vec(P1, (T, 0f), 0f)), (1L, vec(P2, (0f, T), 0f)))
      .toDF("cent_id", "cemb")
    val vecs = (0 until 8).map(i =>
      (i.toLong, vec(if (i % 2 == 0) P1 else P2, (T, 0f), 0.001f * i)))
      .toDF("vec_id", "embedding")
    ops.Similarity.ivfAssign(vecs, cent).write.mode("overwrite").partitionBy("cell").parquet(dir)
    for (_ <- 0 until 4) ops.Similarity.ivfAppend(vecs.limit(2), cent, dir)
    ops.Similarity.ivfAppend(vecs.limit(2), cent, dir) // verbatim replay
    def cellFiles(): Map[String, Seq[java.io.File]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell=")).map(c =>
        c.getName -> c.listFiles().filter(f =>
          f.isFile && f.getName.startsWith("part-")).toSeq).toMap
    val (hotCell, hotFiles) = cellFiles().maxBy(_._2.size)
    assert(hotFiles.size > 3, s"fixture: appends must accrete, got ${cellFiles()}")
    val before = spark.read.parquet(dir).count()
    // A target of half the cell's bytes forces exactly 2 output files —
    // the "hot cell at 100 TB must not funnel through one task" shape,
    // scaled down.
    val target = (hotFiles.map(_.length()).sum + 1) / 2
    val n = ops.Similarity.ivfCompactCells(spark, dir, maxFilesPerCell = 3,
      targetFileBytes = target)
    assert(n > 0)
    val hotAfter = cellFiles()(hotCell)
    assert(hotAfter.size > 1,
      s"the rewrite must be size-bounded, not coalesce(1): ${hotAfter.map(_.getName)}")
    assert(hotAfter.size <= 3,
      s"…but still under the cadence, or compaction would re-trigger forever: ${hotAfter.map(_.getName)}")
    val after = spark.read.parquet(dir).select("vec_id", "embedding").distinct().count()
    assert(after == 8, s"every distinct vector survives: $after")
    assert(spark.read.parquet(dir).count() < before,
      "the bit-identical replayed rows must be retired across the multi-file rewrite")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // ------------------------------------------------------------------
  // 4. The dimension-broadcast guard (VERDICT r18 next #6).
  // ------------------------------------------------------------------

  test("dimBroadcast above the ceiling stops forcing SF-proportional dims; fixed dims keep their hint") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedCeil = ops.Hints.DimBroadcastMaxBytes
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // Simulate the 100-TB regime where nothing auto-broadcasts either.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ops.Hints.DimBroadcastMaxBytes = 0L
      val p = SparkEntry.queries("q_join_multiway")(spark, s"${SparkEntry.FixtureRoot}/sf0.001")
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("SortMergeJoin"),
        s"the customer edge must stop forcing a broadcast above the ceiling: $p")
      assert(p.contains("BroadcastHashJoin"),
        s"nation/region are schema-bounded and must keep their plain hint: $p")
      // Below the ceiling (the default), PlanSpec pins the all-broadcast
      // plan — together the two regimes pin the guard's cutover.
    } finally {
      ops.Hints.DimBroadcastMaxBytes = savedCeil
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  // ------------------------------------------------------------------
  // 5. StoreFs seam contracts.
  // ------------------------------------------------------------------

  test("StoreFs: atomic lock create-no-overwrite, quiet recursive delete") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r19_fs_")
    try {
      val lock = new org.apache.hadoop.fs.Path(dir.toString, "x_swap.lock")
      val fs = ops.StoreFs.fs(spark, lock)
      assert(ops.StoreFs.createLockNoOverwrite(fs, lock), "first create wins")
      assert(!ops.StoreFs.createLockNoOverwrite(fs, lock), "second create loses, no throw")
      assert(ops.StoreFs.deleteQuietly(fs, lock))
      assert(!ops.StoreFs.deleteQuietly(fs, lock), "deleting a missing path reports false")
      assert(ops.StoreFs.listFiles(fs,
        new org.apache.hadoop.fs.Path(dir.toString, "no_such_dir")).isEmpty,
        "listing a missing directory is empty, not a throw")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
