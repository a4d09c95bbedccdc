package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-20: the VERDICT r19 worklist + ADVICE r19 fixes.
  *
  *  1. JOIN-DERIVED dims gate on their BASE scan (ADVICE r19 medium):
  *     without CBO column stats, Catalyst estimates an inner join's size
  *     as the PRODUCT of its children's bytes, so gating tpch7/8/9's
  *     supplier⋈nation / customer⋈nation sides on the joined frame
  *     silently dropped the forced broadcast at every realistic scale.
  *     [[ops.Hints.dimBroadcast(df, sizedBy)]] gates on the base scan —
  *     pinned by a ceiling BETWEEN the base estimate and the join-product
  *     estimate: the hint must survive.
  *  2. [[ops.Similarity.ivfCompactCells]] converges (ADVICE r19 medium):
  *     a cell larger than maxFilesPerCell × targetFileBytes compacts ONCE
  *     to its size-mandated width and is then left alone — the count-only
  *     trigger re-read and rewrote such a cell on every maintenance run
  *     forever.
  *  3. Streaming/batch guard parity (VERDICT r19 next #3):
  *     [[streaming.Streams.enrichWithTier]] / [[streaming.Streams.asofEnrich]]
  *     route their caller dims through [[ops.Hints.dimBroadcast]] — above
  *     the ceiling the static side stops forcing a per-batch broadcast
  *     (asofEnrich gates on the base signups scan, since its dim is
  *     aggregate-derived).
  */
class Round20Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"
  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  // ---- sig-tier planted fixture (the Round14/15/17/18/19Spec geometry) ----
  private def words(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
  private val (tA, tC, tE, tF, tG) =
    (words("alpha"), words("charlie"), words("echo"), words("foxtrot"),
     words("golf"))
  private def docsDF(rows: (Long, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def sigDay0 = docsDF(1L -> tA, 2L -> tA, 3L -> tC, 5L -> tE, 6L -> tF)
  private def sigDay1 = docsDF(10L -> tA, 11L -> tE, 12L -> tG, 13L -> tG)
  private val sigDay1Want = Map(1L -> 1L, 2L -> 1L, 10L -> 1L,
    5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L)

  private def dropSigTables(base: String): Unit =
    Seq("_bands", "_toks", "_labels", "_labels_stage", "_labels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  private def viewOf(tbl: String): Map[Long, Long] = {
    ops.TextOps.recoverSwap(spark, tbl)
    ops.TextOps.readLabels(spark, tbl, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def liveDirName(tbl: String): String =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location).getName

  // ------------------------------------------------------------------
  // 1. The base-scan gate for join-derived dims.
  // ------------------------------------------------------------------

  test("tpch7/9's joined dims keep their forced broadcast when only the base scan fits the ceiling") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedCeil = ops.Hints.DimBroadcastMaxBytes
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // Ceiling strictly between the base supplier scan's estimate (a few
      // KB at sf0.001) and the supplier⋈nation JOIN-PRODUCT estimate: the
      // pre-fix joined-frame gate would read the product, overshoot, and
      // drop the hint; the base-scan gate keeps it.
      val suppBytes = Tables(spark, sf, "supplier")
        .select("s_suppkey", "s_nationkey")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val natBytes = Tables(spark, sf, "nation")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val product = suppBytes * natBytes
      assert(product > suppBytes * 4,
        s"fixture: the join-product estimate must overshoot ($suppBytes × $natBytes)")
      ops.Hints.DimBroadcastMaxBytes = (suppBytes * 4).toLong
      for (q <- Seq("q_tpch7", "q_tpch9")) {
        val p = fmt(SparkEntry.queries(q)(spark, sf))
        assert(p.contains("BroadcastHashJoin"),
          s"$q: the supplier⋈nation side must keep its forced broadcast " +
          s"when the BASE scan fits the ceiling: $p")
      }
    } finally {
      ops.Hints.DimBroadcastMaxBytes = savedCeil
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("above the ceiling the joined dims degrade to unhinted joins like every guarded site") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedCeil = ops.Hints.DimBroadcastMaxBytes
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ops.Hints.DimBroadcastMaxBytes = 0L
      val p = fmt(SparkEntry.queries("q_tpch9")(spark, sf))
      assert(p.contains("SortMergeJoin"),
        s"q_tpch9: the supplier edge must stop forcing a broadcast above the ceiling: $p")
    } finally {
      ops.Hints.DimBroadcastMaxBytes = savedCeil
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  // ------------------------------------------------------------------
  // 2. Compaction convergence.
  // ------------------------------------------------------------------

  test("ivfCompactCells converges: a cell above maxFilesPerCell × targetFileBytes reaches a fixed point") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_r20_ivf_").toString
    def v(seed: Int): Array[Float] = {
      val a = new Array[Float](8); a(0) = 1f; a(1) = seed * 0.001f; a
    }
    val cent = Seq((0L, v(0))).toDF("cent_id", "cemb")
    // Distinct rows in every append (no replays) so the convergence being
    // tested is the TRIGGER's, not distinct()'s row-retirement.
    ops.Similarity.ivfAssign((0 until 8).map(i => (i.toLong, v(i)))
        .toDF("vec_id", "embedding"), cent)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    for (b <- 1 to 11)
      ops.Similarity.ivfAppend(
        (0 until 8).map(i => ((b * 100 + i).toLong, v(b * 100 + i))).toDF("vec_id", "embedding"),
        cent, dir)
    def files(): Seq[java.io.File] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell=")).head
        .listFiles().filter(f => f.isFile && f.getName.startsWith("part-")).toSeq
    // The fixture needs file count WELL above the size-mandated width
    // (~4-5 at this target) so the first pass provably triggers.
    assert(files().size >= 10, s"fixture: appends must accrete, got ${files().size}")
    // Target small enough that the cell's size-mandated width exceeds
    // maxFilesPerCell — the exact shape whose rewrite lands more than
    // maxFilesPerCell files, which the pre-fix count-only trigger then
    // recompacted on EVERY maintenance run forever.
    val target = math.max(1L, files().map(_.length()).sum / 4)
    assert(ops.Similarity.ivfCompactCells(spark, dir, maxFilesPerCell = 3,
      targetFileBytes = target) == 1, "first pass compacts the accreted cell")
    // The rewrite merges away per-file parquet overhead, which can lower
    // the size-mandated width a step — convergence, not one-shot
    // idempotence, is the invariant (the pre-fix trigger NEVER converged
    // here: nOut > maxFilesPerCell on every pass).
    var passes = 0
    while (passes < 5 && ops.Similarity.ivfCompactCells(spark, dir,
        maxFilesPerCell = 3, targetFileBytes = target) > 0)
      passes += 1
    assert(passes < 5, "compaction must reach a fixed point, not re-trigger forever")
    val settled = files()
    assert(ops.Similarity.ivfCompactCells(spark, dir, maxFilesPerCell = 3,
      targetFileBytes = target) == 0, "the fixed point is stable")
    assert(files().map(_.getName) == settled.map(_.getName),
      "a converged cell's layout is untouched")
    val bytes = settled.map(_.length()).sum
    val cap = math.max(3L, (bytes + target - 1) / target)
    assert(settled.size <= cap,
      s"the settled layout honors the effective cap: ${settled.size} files vs cap $cap")
    assert(spark.read.parquet(dir).select("vec_id").distinct().count() == 96,
      "every distinct vector survives the multi-pass rewrite")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // ------------------------------------------------------------------
  // 3. Streaming guard parity.
  // ------------------------------------------------------------------

  test("enrichWithTier and asofEnrich stop forcing the dim broadcast above the ceiling") {
    import spark.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedCeil = ops.Hints.DimBroadcastMaxBytes
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val events = (1 to 50).map(i =>
          (i.toLong, new java.sql.Timestamp(i * 60000L), i.toLong % 7, "click", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val tiers = (0 to 6).map(i => (i.toLong, s"tier$i")).toDF("user_id", "tier")
      val signups = (0 to 6).map(i =>
          (i.toLong, new java.sql.Timestamp(i * 1000L))).toDF("user_id", "ts")

      ops.Hints.DimBroadcastMaxBytes = 0L
      val pe = fmt(streaming.Streams.enrichWithTier(events, tiers))
      assert(!pe.contains("BroadcastHashJoin"),
        s"enrichWithTier must not force a broadcast above the ceiling: $pe")
      val pa = fmt(streaming.Streams.asofEnrich(events, signups))
      assert(!pa.contains("BroadcastHashJoin"),
        s"asofEnrich must not force a broadcast above the ceiling: $pa")

      ops.Hints.DimBroadcastMaxBytes = savedCeil
      assert(fmt(streaming.Streams.enrichWithTier(events, tiers))
        .contains("BroadcastHashJoin"),
        "below the ceiling the dim keeps its broadcast (the steady regime)")
      assert(fmt(streaming.Streams.asofEnrich(events, signups))
        .contains("BroadcastHashJoin"),
        "below the ceiling the as-of history dim keeps its broadcast")

      // Semantics are regime-independent: the guarded join returns the
      // same rows either way.
      ops.Hints.DimBroadcastMaxBytes = 0L
      val unhinted = streaming.Streams.asofEnrich(events, signups)
        .select("event_id", "signup_ts").collect().map(r => r.get(0) -> r.get(1)).toMap
      ops.Hints.DimBroadcastMaxBytes = savedCeil
      val hinted = streaming.Streams.asofEnrich(events, signups)
        .select("event_id", "signup_ts").collect().map(r => r.get(0) -> r.get(1)).toMap
      assert(unhinted == hinted, "both guard regimes agree on the as-of result")
    } finally {
      ops.Hints.DimBroadcastMaxBytes = savedCeil
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  // ------------------------------------------------------------------
  // 4. The generation manifest (VERDICT r19 next #2).
  // ------------------------------------------------------------------

  test("StoreFs.writeAtomic replaces content atomically; readSmall is None on missing") {
    val dir = TestSpark.tempDir("graft_r20_man_")
    try {
      val p = new org.apache.hadoop.fs.Path(dir.toString, "x.manifest")
      val fs = ops.StoreFs.fs(spark, p)
      assert(ops.StoreFs.readSmall(fs, p).isEmpty, "missing manifest reads as None")
      ops.StoreFs.writeAtomic(fs, p, "gen_one")
      assert(ops.StoreFs.readSmall(fs, p).contains("gen_one"))
      ops.StoreFs.writeAtomic(fs, p, "gen_two")
      assert(ops.StoreFs.readSmall(fs, p).contains("gen_two"),
        "replace-existing must succeed (the every-publish path)")
      assert(!dir.toFile.listFiles().exists(_.getName.contains(".tmp.")),
        "no staging residue after the atomic move")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("every publish commits through the manifest: it names the live generation") {
    val base = s"graft_r20_man_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r20_man_")
    val savedRuns = ops.TextOps.LabelFoldRuns
    try {
      ops.TextOps.LabelFoldRuns = 1 // fold (full rewrite) on every run
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      val live = liveDirName(s"${base}_labels")
      val fs = ops.StoreFs.fs(spark, new org.apache.hadoop.fs.Path(dir.toString))
      val m = ops.StoreFs.readSmall(fs,
        ops.TextOps.manifestPath(new org.apache.hadoop.fs.Path(dir.toString), "labels"))
      assert(m.map(_.trim).contains(live),
        s"the manifest must name the live generation: manifest=$m live=$live")
      assert(viewOf(s"${base}_labels") == sigDay1Want)
    } finally {
      ops.TextOps.LabelFoldRuns = savedRuns
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("a crash between manifest PUT and SET LOCATION: the read path serves the manifest-committed generation") {
    val base = s"graft_r20_man_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r20_man_")
    val savedRuns = ops.TextOps.LabelFoldRuns
    try {
      ops.TextOps.LabelFoldRuns = 1
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      val oldGen = liveDirName(s"${base}_labels")
      val oldDir = new java.io.File(dir.toFile, oldGen)
      val copy = TestSpark.tempDir("graft_r20_gen_")
      org.apache.commons.io.FileUtils.copyDirectory(oldDir, copy.toFile)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      val newGen = liveDirName(s"${base}_labels")
      assert(newGen != oldGen, "fixture: the fold must commit a new generation")
      // The crash state: the manifest names the new generation, but the
      // catalog still names the superseded one, complete on disk (the
      // SET LOCATION and the superseded-delete never ran).
      org.apache.commons.io.FileUtils.copyDirectory(copy.toFile, oldDir)
      org.apache.commons.io.FileUtils.deleteQuietly(copy.toFile)
      spark.sql(s"ALTER TABLE ${base}_labels SET LOCATION '${oldDir.toURI}'")
      assert(spark.table(s"${base}_labels").count() == 2L,
        "fixture: the catalog must serve the day-0 generation")
      // The READ path (recoverSwap + overlay view) reconciles the catalog
      // with the manifest and serves the committed generation.
      assert(viewOf(s"${base}_labels") == sigDay1Want,
        "the read must serve the manifest-committed generation, not the stale catalog one")
      assert(liveDirName(s"${base}_labels") == newGen,
        "recovery re-points the catalog at the manifest's generation")
      // The next publish's sweep retires the superseded generation.
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(!oldDir.exists(), "the next publish must sweep the superseded generation")
      assert(viewOf(s"${base}_labels") == sigDay1Want, "the replay is a fixed point")
    } finally {
      ops.TextOps.LabelFoldRuns = savedRuns
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // 5. Day-0 generations are suffixed + manifest-committed from birth,
  //    so every leftover generation is one the orphan sweep can see.
  // ------------------------------------------------------------------

  test("a day-0 label build is generation-suffixed and manifest-committed at birth") {
    val base = s"graft_r20_man_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r20_man_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      val live = liveDirName(s"${base}_labels")
      assert(live.matches("labels" + ops.TextOps.GenSuffixRe),
        s"day-0 must land in a generation-suffixed directory: $live")
      val fs = ops.StoreFs.fs(spark, new org.apache.hadoop.fs.Path(dir.toString))
      assert(ops.StoreFs.readSmall(fs, ops.TextOps.manifestPath(
          new org.apache.hadoop.fs.Path(dir.toString), "labels")).map(_.trim)
        .contains(live),
        "the manifest must name the day-0 generation before any fold ever runs")
      assert(viewOf(s"${base}_labels") == Map(1L -> 1L, 2L -> 1L),
        "day-0 content unchanged by the layout change")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("a rebuild retires its predecessor generation") {
    val base = s"graft_r20_man_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r20_man_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      val gen0 = liveDirName(s"${base}_labels")
      val fs = ops.StoreFs.fs(spark, new org.apache.hadoop.fs.Path(dir.toString))
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      val gen1 = liveDirName(s"${base}_labels")
      assert(gen1 != gen0, "a rebuild lands a fresh generation")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir.toString + "/" + gen0)),
        "the rebuild must retire its predecessor generation at commit")
      assert(ops.StoreFs.readSmall(fs, ops.TextOps.manifestPath(
          new org.apache.hadoop.fs.Path(dir.toString), "labels")).map(_.trim)
        .contains(gen1), "the manifest follows the rebuild")
      assert(viewOf(s"${base}_labels") == Map(1L -> 1L, 2L -> 1L))
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("a rebuild-in-place clears the previous store's stale delta files") {
    val base = s"graft_r20_man_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r20_man_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      // Accrete a delta the fold cadence (default 8) will NOT clear: docs
      // 20/21 join doc 5's cluster, so the delta holds rows a fresh build
      // could never produce.
      ops.Dedup.maintainSigClusterStore(spark, base, docsDF(20L -> tE, 21L -> tE))
      val fs = ops.StoreFs.fs(spark, new org.apache.hadoop.fs.Path(dir.toString))
      val deltaDir = new org.apache.hadoop.fs.Path(dir.toString, "labels_delta")
      assert(ops.StoreFs.listFiles(fs, deltaDir).nonEmpty,
        "fixture: the pre-rebuild store must leave delta files behind")
      // Rebuild in place: the builder drops the EXTERNAL delta table, which
      // leaves its files — without commitDay0's cleanup the next
      // maintenance would re-register the delta table over them and
      // overlay the OLD store's labels (docs 20/21) onto the new one.
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      assert(ops.StoreFs.listFiles(fs, deltaDir).isEmpty,
        "the rebuild must clear the previous store's stale delta files")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(viewOf(s"${base}_labels") == sigDay1Want,
        "post-rebuild maintenance must see only its own deltas — no " +
        "resurrected labels from the pre-rebuild store")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("the embed-tier day-0 shares the suffixed + manifest-committed layout") {
    import spark.implicits._
    val base = s"graft_r20_man_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r20_man_")
    try {
      // The Round14Spec geometry (band hashing needs ≥ 32 sign dims).
      def v(pattern: Int, t: Float): Array[Float] = {
        val a = new Array[Float](64)
        val s = (1.0 / math.sqrt(32.0)).toFloat
        for (i <- 0 until 32) a(i) = if (((pattern >> (i % 16)) & 1) == 1) s else -s
        a(32) = t; a
      }
      val vecs = Seq((1L, v(0xA5A5, 0.1f)), (2L, v(0xA5A5, 0.1f)),
        (3L, v(0xA5A5, -0.1f)), (7L, v(0x3C97, 0.2f))).toDF("vec_id", "embedding")
      ops.Similarity.buildEmbedClusterStore(spark, base, dir.toString, vecs, buckets = 4)
      val live = liveDirName(s"${base}_elabels")
      assert(live.matches("elabels" + ops.TextOps.GenSuffixRe),
        s"embed day-0 must land generation-suffixed: $live")
      val fs = ops.StoreFs.fs(spark, new org.apache.hadoop.fs.Path(dir.toString))
      assert(ops.StoreFs.readSmall(fs, ops.TextOps.manifestPath(
          new org.apache.hadoop.fs.Path(dir.toString), "elabels")).map(_.trim)
        .contains(live), "the embed manifest must name the day-0 generation")
    } finally {
      Seq("_ebands", "_evecs", "_elabels", "_elabels_stage", "_elabels_delta")
        .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
