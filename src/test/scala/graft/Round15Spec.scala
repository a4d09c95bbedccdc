package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15: the VERDICT r14 worklist + ADVICE r14 flags.
  *
  *  1. Registered read paths reconcile a half-committed label rewrite
  *     (VERDICT r14 next #3): after a crash between a fold's manifest PUT
  *     and its SET LOCATION, q_dedup_clusters_store /
  *     q_embed_clusters_store re-point the catalog at the committed
  *     generation themselves, without waiting for a maintenance run.
  *  2. Compaction retires heal residue (VERDICT r14 next #4): the duplicate
  *     `_toks`/`_evecs` rows a re-driven append leaves behind are dropped
  *     during the per-bucket rewrite via [[ops.TextOps.compactStore]]'s
  *     `dedupKeys`; screens and labels are bit-identical after.
  *  3. The rewrite is fail-fast single-writer (VERDICT r14 next #5): a
  *     second publish attempted mid-swap throws a descriptive error
  *     instead of sweeping the first writer's new generation.
  *  4. Generation directory names derive from a stable stem (ADVICE r14
  *     medium — `labels_g1_g2_g3...` compounding overflowed a 255-byte
  *     filename after ~10 runs), and superseded/orphaned generations are
  *     reclaimed (ADVICE r14 low) instead of leaking forever.
  */
class Round15Spec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  // These suites exercise the label PUBLISH machinery (generations, the
  // lock, the manifest commit) through the maintenance entry points. Since
  // r18 the per-run publish is a delta APPEND that only folds through
  // [[ops.TextOps.publishBucketed]] every [[ops.TextOps.LabelFoldRuns]] runs — cadence 1
  // reproduces the fold-every-run behavior these scenarios were written
  // against. Round18Spec covers the delta path at the production cadence.
  private val savedFoldRuns = ops.TextOps.LabelFoldRuns
  override protected def beforeAll(): Unit = { ops.TextOps.LabelFoldRuns = 1 }
  override protected def afterAll(): Unit = { ops.TextOps.LabelFoldRuns = savedFoldRuns }

  private lazy val spark = TestSpark.spark
  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  private def labelsOf(tbl: String): Map[Long, Long] =
    spark.table(tbl).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // ---- sig-tier planted fixture (the Round14Spec geometry) -------------
  private def words(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
  private val (tA, tC, tE, tF, tG, tH) =
    (words("alpha"), words("charlie"), words("echo"),
     words("foxtrot"), words("golf"), words("hotel"))
  private def docsDF(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def sigDay0 = docsDF(1L -> tA, 2L -> tA, 3L -> tC, 5L -> tE, 6L -> tF)
  private def sigDay1 = docsDF(10L -> tA, 11L -> tE, 12L -> tG, 13L -> tG, 14L -> tH)
  private val sigDay1Want = Map(1L -> 1L, 2L -> 1L, 10L -> 1L,
    5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L)

  private def dropSigTables(base: String): Unit =
    Seq("_bands", "_toks", "_labels", "_labels_stage", "_labels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  // ---- embed-tier planted fixture (the Round14Spec geometry) -----------
  private val T = math.sqrt(0.0753).toFloat
  private def vec(pattern: Int, tail: (Float, Float), wiggle: Float): Array[Float] = {
    val v = new Array[Float](64)
    val s = (1.0 / math.sqrt(32.0)).toFloat
    for (i <- 0 until 32) v(i) = if (((pattern >> (i % 16)) & 1) == 1) s else -s
    v(32) = tail._1; v(33) = tail._2; v(39) = wiggle
    v
  }
  private def vecsDF(rows: (Long, Array[Float])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }
  private val P1 = 0xA5A5; private val P2 = 0x3C97; private val P3 = 0x1F62
  private val P4 = 0x7B01; private val P5 = 0x5AD3
  private def eDay0 = vecsDF(
    1L -> vec(P1, (T, 0f), 0.001f), 2L -> vec(P1, (T, 0f), -0.001f),
    3L -> vec(P1, (-T, 0f), 0.001f), 4L -> vec(P1, (-T, 0f), -0.001f),
    5L -> vec(P2, (T, 0f), 0f),
    6L -> vec(P4, (0f, T), 0f))
  private def eDay1 = vecsDF(
    10L -> vec(P1, (0f, T), 0f),
    11L -> vec(P2, (T, 0f), 0.001f),
    12L -> vec(P3, (T, 0f), 0.001f), 13L -> vec(P3, (T, 0f), -0.001f),
    14L -> vec(P5, (T, 0f), 0f))

  private def dropEmbedTables(base: String): Unit =
    Seq("_ebands", "_evecs", "_elabels", "_elabels_stage", "_elabels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  // ------------------------------------------------------------------
  // 1. Registered read paths reconcile a catalog that lags the manifest.
  // ------------------------------------------------------------------

  private def liveLocation(tbl: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)

  /** Run `fold` (a maintenance run that folds), then leave the catalog
    * where a crash between the fold's manifest PUT and its SET LOCATION
    * leaves it: on the superseded generation, still complete on disk.
    * Returns the generation the manifest committed. */
  private def crashBeforeSetLocation(tbl: String)(fold: => Unit): String = {
    val old = liveLocation(tbl)
    val copy = TestSpark.tempDir("graft_r15_gen_")
    val oldDir = new java.io.File(old.toUri)
    try {
      org.apache.commons.io.FileUtils.copyDirectory(oldDir, copy.toFile)
      fold
      val committed = liveLocation(tbl).getName
      assert(committed != old.getName, "fixture: the fold must commit a new generation")
      org.apache.commons.io.FileUtils.copyDirectory(copy.toFile, oldDir)
      spark.sql(s"ALTER TABLE $tbl SET LOCATION '$old'")
      committed
    } finally org.apache.commons.io.FileUtils.deleteQuietly(copy.toFile)
  }

  test("registered q_dedup_clusters_store serves the manifest-committed generation after a crash before SET LOCATION") {
    val want = ops.Dedup.dedupClustersStore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(want.nonEmpty)
    val base = ops.TextOps.canonStoreName(sf) + "_scl"
    // Replay the registered odd-half batch (a label fixed point); the fold
    // commits, and the catalog is left one generation behind.
    val oddHalf = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(2L)) === 1).select("doc_id", "text")
    val committed = crashBeforeSetLocation(s"${base}_labels") {
      ops.Dedup.maintainSigClusterStore(spark, base, oddHalf)
    }
    // The REGISTERED query — not maintenance — must re-point the catalog.
    val got = ops.Dedup.dedupClustersStore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(liveLocation(s"${base}_labels").getName == committed,
      "the registered read path must re-point the catalog at the manifest's generation")
    assert(got == want)
  }

  test("registered q_embed_clusters_store serves the manifest-committed generation after a crash before SET LOCATION") {
    val want = ops.Similarity.embedClustersStore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(want.nonEmpty)
    val base = ops.TextOps.canonStoreName(sf) + "_ecl"
    val oddHalf = Tables(spark, sf, "embeddings")
      .filter(pmod(col("vec_id"), lit(2L)) === 1).select("vec_id", "embedding")
    val committed = crashBeforeSetLocation(s"${base}_elabels") {
      ops.Similarity.maintainEmbedClusterStore(spark, base, oddHalf)
    }
    val got = ops.Similarity.embedClustersStore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(liveLocation(s"${base}_elabels").getName == committed,
      "the registered read path must re-point the catalog at the manifest's generation")
    assert(got == want)
  }

  // ------------------------------------------------------------------
  // 2. Compaction retires heal residue.
  // ------------------------------------------------------------------

  test("heal → compact(_toks, dedupKeys): exactly one row per doc_id, screens and labels bit-identical") {
    val base = s"graft_r15_cmp_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r15_cmp_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      // The Round14Spec crash: _toks lands, _bands never does.
      sigDay1.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        .repartition(8, col("doc_id"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("append").saveAsTable(s"${base}_toks")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      val tokCountsHealed = spark.table(s"${base}_toks").groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(tokCountsHealed(10L) == 2L, "fixture: the heal must leave residue to retire")
      val labelsBefore = labelsOf(s"${base}_labels")
      assert(labelsBefore == sigDay1Want)

      val n = ops.TextOps.compactStore(spark, s"${base}_toks", dedupKeys = Seq("doc_id"))
      assert(n >= 1, "at least the residue bucket must have been rewritten")
      val tokCounts = spark.table(s"${base}_toks").groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(tokCounts.values.forall(_ == 1L),
        s"compaction must retire the duplicate rows: $tokCounts")
      // Screens and labels are bit-identical to the pre-compaction state.
      val screened = ops.Dedup.screenAgainstStore(spark, base, docsDF(100L -> tG))
        .collect().head
      assert(!screened.getAs[Boolean]("novel") && screened.getAs[Long]("n_cands") == 2L)
      assert(labelsOf(s"${base}_labels") == labelsBefore)
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("heal → compact(_evecs, dedupKeys): exactly one row per vec_id, screens and labels bit-identical") {
    val base = s"graft_r15_ecmp_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r15_ecmp_")
    try {
      ops.Similarity.buildEmbedClusterStore(spark, base, dir.toString, eDay0, threshold = 0.9)
      // The Round14Spec crash: _evecs lands, _ebands never does.
      eDay1.select("vec_id", "embedding").repartition(16, col("vec_id"))
        .write.bucketBy(16, "vec_id").sortBy("vec_id")
        .mode("append").saveAsTable(s"${base}_evecs")
      ops.Similarity.maintainEmbedClusterStore(spark, base, eDay1, threshold = 0.9)
      val vecCountsHealed = spark.table(s"${base}_evecs").groupBy("vec_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(vecCountsHealed(10L) == 2L, "fixture: the heal must leave residue to retire")
      val labelsBefore = labelsOf(s"${base}_elabels")

      val n = ops.TextOps.compactStore(spark, s"${base}_evecs", dedupKeys = Seq("vec_id"))
      assert(n >= 1, "at least the residue bucket must have been rewritten")
      val vecCounts = spark.table(s"${base}_evecs").groupBy("vec_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(vecCounts.values.forall(_ == 1L),
        s"compaction must retire the duplicate rows: $vecCounts")
      val screened = ops.Similarity.screenEmbedStore(spark, base,
          vecsDF(100L -> vec(P3, (T, 0f), 0.002f)), threshold = 0.9)
        .collect().head
      assert(!screened.getAs[Boolean]("novel") && screened.getAs[Long]("n_cands") == 2L)
      assert(labelsOf(s"${base}_elabels") == labelsBefore)
    } finally {
      dropEmbedTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // 3. Fail-fast single-writer publish.
  // ------------------------------------------------------------------

  test("a second publish attempted mid-swap fails fast with a descriptive error and cannot clobber the stage") {
    val base = s"graft_r15_lock_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r15_lock_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      // Another writer is mid-publish: it holds the lock and has a new
      // generation half-written next to the live one.
      val fs = ops.StoreFs.fs(spark, new org.apache.hadoop.fs.Path(dir.toString))
      val lock = new org.apache.hadoop.fs.Path(dir.toString, "labels_swap.lock")
      assert(ops.StoreFs.createLockNoOverwrite(fs, lock))
      val inFlight = new org.apache.hadoop.fs.Path(dir.toString,
        ops.TextOps.genDirName("labels", System.nanoTime()))
      assert(fs.mkdirs(inFlight))
      val e = intercept[IllegalStateException] {
        ops.TextOps.publishBucketed(spark, s"${base}_labels", spark.table(s"${base}_labels"))
      }
      assert(e.getMessage.contains("labels_swap.lock") && e.getMessage.contains("single-writer"),
        s"the error must name the lock and the violated contract: ${e.getMessage}")
      assert(fs.exists(inFlight), "the refused publish must not sweep the other writer's generation")
      assert(fs.exists(lock), "the refused publish must not release a lock it does not own")
      // Once the other writer is done, publishing proceeds and releases the lock.
      assert(ops.StoreFs.deleteQuietly(fs, lock))
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(labelsOf(s"${base}_labels") == sigDay1Want)
      assert(!fs.exists(lock), "the lock must be released after a completed publish")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // 4. Stable generation stems + orphan reclamation.
  // ------------------------------------------------------------------

  test("label generation dirs keep a constant-length name and superseded/orphaned generations are reclaimed") {
    val base = s"graft_r15_gen_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r15_gen_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      for (_ <- 1 to 3) ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      // "labels_g…" generations only: the sibling `labels_delta` dir is the
      // (legitimate, non-generation) r18 delta table's home.
      def labelDirs() = new java.io.File(dir.toString).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("labels_g")).map(_.getName).toSeq
      val live = new java.io.File(new java.net.URI(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(s"${base}_labels"))
          .location.toString)).getName
      assert(live.matches("labels_g\\d+"),
        s"three publishes must not compound the generation name: $live")
      assert(labelDirs() == Seq(live),
        s"superseded generations must be reclaimed: ${labelDirs()}")

      // Orphan a generation (what a crash after the new generation's write
      // but before its manifest PUT leaves), then verify the next run
      // reclaims it rather than leaking it forever.
      new java.io.File(dir.toFile, ops.TextOps.genDirName("labels", System.nanoTime())).mkdir()
      assert(labelDirs().size == 2, "fixture: one orphaned generation")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(labelDirs().size == 1,
        s"the next publish must reclaim the orphaned stage: ${labelDirs()}")
      assert(labelsOf(s"${base}_labels") == sigDay1Want)
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
