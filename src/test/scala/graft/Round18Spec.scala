package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18: the VERDICT r17 worklist + ADVICE r17 flags.
  *
  *  1. DELTA-proportional label publish (VERDICT r17 next #2,
  *     [[ops.TextOps.publishLabelDelta]]): day-N maintenance appends only
  *     the changed ∪ first-time labels into `<tbl>_delta` and readers
  *     overlay latest-run-wins ([[ops.TextOps.readLabels]]); the
  *     corpus-sized rewrite happens only at the [[ops.TextOps.LabelFoldRuns]]
  *     fold cadence. These tests pin the delta path at the PRODUCTION
  *     cadence — base generation untouched between folds, overlay view at
  *     the from-scratch fixed point, every crash window convergent — while
  *     Round14/15/17Spec keep the full-rewrite publish covered at
  *     cadence 1.
  *  2. Band-table compaction rides the maintenance cadence (ADVICE r17
  *     medium): `_bands`/`_ebands` accrete one file per bucket per append
  *     exactly like the key-unique tables but were never compacted by any
  *     registered path.
  *  3. Generation names survive a NEGATIVE nanoTime (ADVICE r17 low):
  *     the JLS allows an arbitrary origin, and `_g-00…` would match
  *     neither [[ops.TextOps.GenSuffixRe]] nor the orphan sweep.
  *  4. Streaming appenders ride the batch maintenance cadence (VERDICT r17
  *     next #6): micro-batch appends accrete per-bucket files without
  *     bound on their own; the next day-N batch maintenance run compacts
  *     them back under [[ops.TextOps.MaintCompactFilesPerBucket]]. The IVF
  *     cell store gets the same bound via
  *     [[ops.Similarity.ivfCompactCells]] (which also retires replayed
  *     ingest duplicates).
  */
class Round18Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  // ---- sig-tier planted fixture (the Round14/15/17Spec geometry) -------
  private def words(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
  private val (tA, tC, tE, tF, tG, tH, tI) =
    (words("alpha"), words("charlie"), words("echo"),
     words("foxtrot"), words("golf"), words("hotel"), words("india"))
  private def docsDF(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def sigDay0 = docsDF(1L -> tA, 2L -> tA, 3L -> tC, 5L -> tE, 6L -> tF)
  private def sigDay1 = docsDF(10L -> tA, 11L -> tE, 12L -> tG, 13L -> tG, 14L -> tH)
  private def sigDay2 = docsDF(20L -> tH, 21L -> tI, 22L -> tI)
  private val sigDay0Want = Map(1L -> 1L, 2L -> 1L)
  private val sigDay1Want = Map(1L -> 1L, 2L -> 1L, 10L -> 1L,
    5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L)
  private val sigDay2Want = sigDay1Want ++
    Map(14L -> 14L, 20L -> 14L, 21L -> 21L, 22L -> 21L)

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
  private val eDay1Want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L,
    5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L)

  private def dropEmbedTables(base: String): Unit =
    Seq("_ebands", "_evecs", "_elabels", "_elabels_stage", "_elabels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  private def viewOf(tbl: String, keyCol: String): Map[Long, Long] =
    ops.TextOps.readLabels(spark, tbl, keyCol)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def baseOf(tbl: String): Map[Long, Long] =
    spark.table(tbl).select(col("doc_id"), col("canonical_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def filesPerBucket(tbl: String): Map[String, Int] = {
    val meta = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val loc = new java.io.File(new java.net.URI(meta.location.toString))
    val bucketId = """.*_(\d+)(?:\..*)?$""".r
    Option(loc.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-")).toSeq
      .groupBy(f => f.getName match { case bucketId(b) => b })
      .view.mapValues(_.size).toMap
  }

  // ------------------------------------------------------------------
  // 1. The delta path at the PRODUCTION fold cadence.
  // ------------------------------------------------------------------

  test("sig tier: maintenance publishes a delta, not a rewrite — base generation untouched, overlay at the fixed point") {
    assert(ops.TextOps.LabelFoldRuns > 2,
      s"fixture: this test requires the production cadence, got ${ops.TextOps.LabelFoldRuns}")
    val base = s"graft_r18_delta_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_delta_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(baseOf(s"${base}_labels") == sigDay0Want,
        "day-N maintenance must NOT rewrite the base generation before the fold cadence")
      assert(spark.catalog.tableExists(s"${base}_labels_delta"),
        "the run's label changes must land in the delta table")
      assert(viewOf(s"${base}_labels", "doc_id") == sigDay1Want,
        "the overlay view must equal the from-scratch fixed point")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay2)
      assert(baseOf(s"${base}_labels") == sigDay0Want, "still no fold at run 2")
      assert(viewOf(s"${base}_labels", "doc_id") == sigDay2Want)
      // The registered read path serves the overlay view.
      val seqs = spark.table(s"${base}_labels_delta").select("seq").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(seqs == Set(1L, 2L), s"one strictly-increasing seq per run: $seqs")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("sig tier: the fold cadence rewrites the base through the stage-swap and clears the delta") {
    val base = s"graft_r18_fold_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_fold_")
    val saved = ops.TextOps.LabelFoldRuns
    try {
      ops.TextOps.LabelFoldRuns = 2
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(baseOf(s"${base}_labels") == sigDay0Want, "run 1 of 2: no fold yet")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay2)
      assert(baseOf(s"${base}_labels") == sigDay2Want,
        "run 2 must fold the overlay into a fresh base generation")
      val deltaFiles = filesPerBucket(s"${base}_labels_delta")
      assert(deltaFiles.isEmpty, s"the fold must clear the delta: $deltaFiles")
      assert(viewOf(s"${base}_labels", "doc_id") == sigDay2Want,
        "the view over a cleared delta is the base itself")
      // The folded generation is a publishBucketed product: stem recorded,
      // 19-digit generation dir name.
      val meta = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${base}_labels"))
      assert(meta.properties.get(ops.TextOps.StemProp).contains("labels"))
    } finally {
      ops.TextOps.LabelFoldRuns = saved
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("a crash between the fold's publish and the delta clear is a read-side no-op and the next run supersedes the residue") {
    val base = s"graft_r18_resid_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_resid_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      // The crash state: fold's publishBucketed committed, the delta clear
      // never ran. Reproduce it exactly by folding manually.
      ops.TextOps.publishBucketed(spark, s"${base}_labels",
        ops.TextOps.readLabels(spark, s"${base}_labels", "doc_id"))
      assert(baseOf(s"${base}_labels") == sigDay1Want, "fixture: fold committed")
      assert(filesPerBucket(s"${base}_labels_delta").nonEmpty,
        "fixture: the delta residue must still be on disk")
      // Latest-wins over residue whose values EQUAL the folded base = no-op.
      assert(viewOf(s"${base}_labels", "doc_id") == sigDay1Want)
      // The next run's seq must rise above the residue's, superseding it.
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay2)
      assert(viewOf(s"${base}_labels", "doc_id") == sigDay2Want)
      val maxSeq = spark.table(s"${base}_labels_delta").agg(max(col("seq")))
        .head().getLong(0)
      assert(maxSeq >= 2L, s"the residue's seq must be superseded, got max $maxSeq")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("a crash-interrupted delta append is superseded by the re-driven run at a fresh seq") {
    val base = s"graft_r18_part_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_part_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      // A maintenance run crashed mid-append: a SUBSET of its (correct,
      // deterministic) delta rows landed under seq 1 — here doc 10's row —
      // and the store append may or may not have completed. The heal
      // contract re-drives the whole batch.
      import spark.implicits._
      Seq((10L, 1L, 1L)).toDF("doc_id", "canonical_id", "seq")
        .repartition(8, col("doc_id"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", new java.io.File(dir.toFile, "labels_delta").toString)
        .mode("append").saveAsTable(s"${base}_labels_delta")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(viewOf(s"${base}_labels", "doc_id") == sigDay1Want,
        "the re-driven run must converge over the partial append")
      val seqs = spark.table(s"${base}_labels_delta").select("seq").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(seqs.max >= 2L, s"the re-drive must land under a fresh seq: $seqs")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("embed tier: maintenance publishes a delta at the production cadence — overlay at the fixed point, base untouched") {
    assert(ops.TextOps.LabelFoldRuns > 1)
    val base = s"graft_r18_edelta_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_edelta_")
    try {
      ops.Similarity.buildEmbedClusterStore(spark, base, dir.toString, eDay0, threshold = 0.9)
      val day0Labels = viewOf(s"${base}_elabels", "vec_id")
      ops.Similarity.maintainEmbedClusterStore(spark, base, eDay1, threshold = 0.9)
      assert(spark.table(s"${base}_elabels").select(col("vec_id"), col("canonical_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == day0Labels,
        "day-N maintenance must NOT rewrite the base generation before the fold cadence")
      assert(viewOf(s"${base}_elabels", "vec_id") == eDay1Want,
        "the overlay view must equal the from-scratch fixed point")
    } finally {
      dropEmbedTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("the overlay read is shuffle-free: bucketed base scan + broadcast anti-join, no exchange on either side") {
    // The design claim readLabels' scaladoc makes — the base side only
    // passes through a BROADCAST anti-join and the delta's max_by rides
    // the bucket distribution — pinned on the physical tree (the PlanSpec
    // convention: walk the plan, don't regex explain text). AQE off so the
    // executed plan is collectible (the PlanSpec `physical` rationale).
    // Two inputs: a delta at the production cadence, and the state right
    // after a fold, whose SET LOCATION must have kept the live table's
    // bucket spec.
    val base = s"graft_r18_plan_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_plan_")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val savedRuns = ops.TextOps.LabelFoldRuns
    def assertShuffleFree(clue: String): Unit = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan = ops.TextOps.readLabels(spark, s"${base}_labels", "doc_id")
          .queryExecution.executedPlan
        val shuffles = plan.collect {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
        }
        assert(shuffles.isEmpty,
          s"$clue: the overlay must not shuffle the corpus-sized base OR the delta: $shuffles")
        val anti = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
        }
        assert(anti.nonEmpty, s"$clue: the base side must pass through a broadcast ANTI join")
        // The planner may drop bucketing a plan does not need
        // (DisableUnnecessaryBucketedScan), so pin the relation's spec.
        val baseScans = plan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.tableIdentifier.exists(_.table == s"${base}_labels") => f
        }
        assert(baseScans.nonEmpty &&
          baseScans.forall(_.relation.bucketSpec.exists(_.numBuckets == 8)),
          s"$clue: the base side must scan the 8-bucket table: $baseScans")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(spark.table(s"${base}_labels_delta").count() > 0, "fixture: non-empty delta")
      assertShuffleFree("delta at the production cadence")
      ops.TextOps.LabelFoldRuns = 1
      val before = liveDir(s"${base}_labels")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay2)
      assert(liveDir(s"${base}_labels") != before, "fixture: the run must fold")
      assertShuffleFree("after a fold")
      assert(viewOf(s"${base}_labels", "doc_id") == sigDay2Want)
    } finally {
      ops.TextOps.LabelFoldRuns = savedRuns
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  private def liveDir(tbl: String): String =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location).getName

  // ------------------------------------------------------------------
  // 2. Band tables ride the compaction cadence.
  // ------------------------------------------------------------------

  test("maintenance compacts _bands past the cadence (ADVICE r17 medium)") {
    val base = s"graft_r18_bands_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_bands_")
    try {
      // buckets = 1: every append lands one file in the single bucket.
      // day-0 (1) + three maintenance appends = 4 > cadence 3 — the fourth
      // run's compaction rewrites the bucket to one file.
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 1)
      val batches = Seq(sigDay1, sigDay2, docsDF(30L -> words("juliet")),
        docsDF(31L -> words("kilo")))
      var compacted = false
      for (b <- batches if !compacted) {
        ops.Dedup.maintainSigClusterStore(spark, base, b)
        compacted = filesPerBucket(s"${base}_bands").values.forall(_ == 1) &&
          spark.table(s"${base}_bands").count() > 0
      }
      assert(compacted,
        s"the registered cadence must compact _bands: ${filesPerBucket(s"${base}_bands")}")
      // Content is preserved: the screen still finds the planted near-dup.
      val screened = ops.Dedup.screenAgainstStore(spark, base, docsDF(100L -> tA))
        .collect().head
      assert(!screened.getAs[Boolean]("novel"),
        "a known near-dup must still screen as non-novel after compaction")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // 3. Negative-nanoTime generation names.
  // ------------------------------------------------------------------

  test("genDirName folds a negative nanoTime into the sweep-visible namespace") {
    import ops.TextOps.{genDirName, GenSuffixRe}
    for (nano <- Seq(Long.MinValue, -1L, 0L, 42L, Long.MaxValue - 1)) {
      val name = genDirName("labels", nano)
      assert(name.matches(s"labels$GenSuffixRe"),
        s"genDirName($nano) = $name must match the generation regex")
    }
  }

  // ------------------------------------------------------------------
  // 4. Streaming appends ride the batch maintenance cadence.
  // ------------------------------------------------------------------

  test("storeNearDedup micro-batch appends are compacted by the next batch maintenance run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = s"graft_r18_stream_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_stream_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 1)
      val stream = MemoryStream[StreamDoc]
      val seen = mutable.Buffer.empty[Long]
      val q = streaming.Streams.storeNearDedup(stream.toDF(), base) { (_, id) =>
        seen.synchronized { seen += id }
      }
      try {
        // Five micro-batches of novel docs: five append files per bucket on
        // top of day-0's one — unbounded accretion if nothing compacts.
        for (i <- 0 until 5) {
          stream.addData(StreamDoc(100L + i, words(s"stream$i")))
          q.processAllAvailable()
        }
      } finally q.stop()
      val accreted = filesPerBucket(s"${base}_bands").values.max
      assert(accreted > ops.TextOps.MaintCompactFilesPerBucket,
        s"fixture: streaming appends must have accreted past the cadence, got $accreted")
      // The next day-N BATCH maintenance run compacts what streaming accreted.
      ops.Dedup.maintainSigClusterStore(spark, base, docsDF(200L -> words("mike")))
      assert(filesPerBucket(s"${base}_toks").values.forall(_ == 1),
        s"_toks: ${filesPerBucket(s"${base}_toks")}")
      assert(filesPerBucket(s"${base}_bands").values.forall(_ == 1),
        s"_bands: ${filesPerBucket(s"${base}_bands")}")
      // Nothing was lost: all streamed docs still screen as known.
      val screened = ops.Dedup.screenAgainstStore(spark, base,
        docsDF(300L -> words("stream3"))).collect().head
      assert(!screened.getAs[Boolean]("novel"))
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("ivfCompactCells bounds ingest accretion and retires replayed duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_ivf_").toString
    val cent = Seq((0L, vec(P1, (T, 0f), 0f)), (1L, vec(P2, (0f, T), 0f)))
      .toDF("cent_id", "cemb")
    val vecs = (0 until 8).map(i => (i.toLong, vec(if (i % 2 == 0) P1 else P2, (T, 0f), 0.001f * i)))
      .toDF("vec_id", "embedding")
    // Stage + five appends (one a verbatim replay — the at-least-once seam).
    ops.Similarity.ivfAssign(vecs, cent).write.mode("overwrite").partitionBy("cell").parquet(dir)
    for (_ <- 0 until 4) ops.Similarity.ivfAppend(vecs.limit(2), cent, dir)
    ops.Similarity.ivfAppend(vecs.limit(2), cent, dir)
    def cellFiles(): Map[String, Int] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell=")).map(c =>
        c.getName -> c.listFiles().count(f => f.isFile && f.getName.startsWith("part-"))).toMap
    assert(cellFiles().values.max > 3, s"fixture: appends must accrete, got ${cellFiles()}")
    val before = spark.read.parquet(dir).count()
    val n = ops.Similarity.ivfCompactCells(spark, dir, maxFilesPerCell = 3)
    assert(n > 0)
    assert(cellFiles().values.max <= 3, s"compaction must bound the accretion: ${cellFiles()}")
    val after = spark.read.parquet(dir).select("vec_id", "embedding").distinct().count()
    assert(after == 8, s"every distinct vector survives: $after")
    assert(spark.read.parquet(dir).count() < before,
      "the bit-identical replayed rows must be retired")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
