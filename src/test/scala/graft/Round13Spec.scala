package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13: the VERDICT r12 worklist.
  *
  *  1. Incremental embed-cluster maintenance ([[ops.Similarity
  *     .maintainEmbedClusterStore]]): day-N label merging through the
  *     contracted graph must equal from-scratch connected components over
  *     the full corpus — including cross-day cluster MERGES, first-time
  *     labels for day-0 singletons, and replay idempotency.
  *  2. (bands, bits) as table properties: explicit caller values that
  *     disagree with the build must fail fast, not silently screen against
  *     wrong buckets (ADVICE r12).
  *  3. Compaction on EVERY store family (VERDICT r12 next #6): the sig
  *     store's (band, sig)/(doc_id) tables and the embed store's tables —
  *     "compactStore applies unchanged" was a claim; the r13 sort-column
  *     generalization makes it true (the hardcoded "fp" threw on them).
  *  4. Replay recovery for the streaming store tier (VERDICT r12 next #5):
  *     a micro-batch replayed AFTER its append committed must not
  *     duplicate store rows, and its re-emitted verdicts must match the
  *     documented at-least-once contract (exact tier re-emits nothing —
  *     the docs are no longer novel; embed tier re-emits non-novel
  *     verdicts).
  */
class Round13Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  // ------------------------------------------------------------------
  // Deterministic embedding fixtures: the first 32 dims carry a per-group
  // SIGN PATTERN (bands read dims 1-32, so same pattern => all 4 band
  // buckets collide => candidacy is guaranteed, different pattern => no
  // shared bucket => no candidate), and dims 33-64 set the cosine
  // geometry: prefix mass 1.0, tail mass t² = 0.0753 gives
  // cos(member, bridge) = 1/(1+t²) ≈ 0.93 (>= the 0.9 threshold) while
  // cos(A, B) = (1-t²)/(1+t²) ≈ 0.86 (< threshold) — so A and B only
  // merge THROUGH the bridge vector, never directly.
  // ------------------------------------------------------------------
  private val T = math.sqrt(0.0753).toFloat

  /** pattern: per-group ±1 signs over dims 1-32 (scaled to unit mass);
    * tail: (dim33, dim34) = the cluster's tail direction; wiggle: a tiny
    * per-member perturbation on dim 40 keeping members near-identical. */
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
  // Day 0: cluster A (1, 2), cluster B (3, 4) — same pattern as A, tails
  // opposed so cos(A,B) ≈ 0.86 stays below threshold; 5 = an edgeless
  // singleton on its own pattern; 6 = unrelated noise.
  private def day0 = vecsDF(
    1L -> vec(P1, (T, 0f), 0.001f), 2L -> vec(P1, (T, 0f), -0.001f),
    3L -> vec(P1, (-T, 0f), 0.001f), 4L -> vec(P1, (-T, 0f), -0.001f),
    5L -> vec(P2, (T, 0f), 0f),
    6L -> vec(P4, (0f, T), 0f))
  // Day 1: 10 bridges A and B (orthogonal tail: cos 0.93 to both); 11 is
  // 5's first-ever near-dup; (12, 13) a brand-new within-batch cluster;
  // 14 matches nothing.
  private def day1 = vecsDF(
    10L -> vec(P1, (0f, T), 0f),
    11L -> vec(P2, (T, 0f), 0.001f),
    12L -> vec(P3, (T, 0f), 0.001f), 13L -> vec(P3, (T, 0f), -0.001f),
    14L -> vec(P5, (T, 0f), 0f))

  // The label READ PATH since r18 is the delta-overlay view (base
  // generation + latest-wins delta appends) — what the registered query
  // serves; maintenance only folds the base every LabelFoldRuns runs.
  private def labelsOf(tbl: String): Map[Long, Long] =
    ops.TextOps.readLabels(spark, tbl, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def fromScratch(union: DataFrame, threshold: Double): Map[Long, Long] =
    ops.Dedup.connectedComponentsAuto(
        ops.Similarity.embedNearDupBanded(union, threshold)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("embed-cluster store: day-N merge equals from-scratch CC (cross-day merge, singleton link, new cluster), replay idempotent") {
    val base = s"graft_r13_ecl_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_ecl_")
    try {
      ops.Similarity.buildEmbedClusterStore(spark, base, dir.toString, day0, threshold = 0.9)
      // Day-0 labels: exactly the two planted clusters, minima canonical.
      assert(labelsOf(s"${base}_elabels") ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))

      ops.Similarity.maintainEmbedClusterStore(spark, base, day1, threshold = 0.9)
      val want = fromScratch(day0.unionByName(day1), 0.9)
      // The planted geometry must actually exercise all three shapes.
      assert(want == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L,
        5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L),
        s"fixture drifted — from-scratch clusters were $want")
      assert(labelsOf(s"${base}_elabels") == want,
        "maintained labels must equal from-scratch connected components")

      // Replay the SAME batch: labels unchanged, no duplicate store rows.
      ops.Similarity.maintainEmbedClusterStore(spark, base, day1, threshold = 0.9)
      assert(labelsOf(s"${base}_elabels") == want, "replayed maintenance must be a no-op on labels")
      val vecIds = spark.table(s"${base}_evecs").select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      assert(vecIds.size == vecIds.distinct.size,
        s"replay must not duplicate vector rows: $vecIds")
      val bandRows = spark.table(s"${base}_ebands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
      assert(bandRows.size == bandRows.distinct.size, "replay must not duplicate band rows")
    } finally {
      Seq("_ebands", "_evecs", "_elabels", "_elabels_delta").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("embed store params are table properties: mismatched caller values fail fast, defaults resolve from the store") {
    val base = s"graft_r13_prop_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_prop_")
    try {
      ops.Similarity.buildEmbedBandStore(spark, base, dir.toString, day0, bands = 4, bits = 6)
      assert(ops.Similarity.embedStoreParams(spark, base) == (4, 6))
      // Steady-state default resolution uses the build-time 6 bits.
      val screened = ops.Similarity.screenEmbedStore(spark, base, day1, threshold = 0.9)
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      assert(screened(10L) == false && screened(14L) == true)
      // An explicit mismatch must throw, not silently mis-bucket.
      val e = intercept[IllegalArgumentException] {
        ops.Similarity.screenEmbedStore(spark, base, day1, 0.9, bands = 4, bits = 8).collect()
      }
      assert(e.getMessage.contains("bits"))
      // A store without the properties (hand-built, or older code) has no
      // known geometry: it must fail, naming the store and what is missing,
      // instead of screening against a guessed 4/8.
      spark.sql(s"ALTER TABLE ${base}_ebands UNSET TBLPROPERTIES ('graft.bands', 'graft.bits')")
      val legacy = intercept[IllegalArgumentException] {
        ops.Similarity.screenEmbedStore(spark, base, day1, threshold = 0.9).collect()
      }
      assert(legacy.getMessage.contains(base) && legacy.getMessage.contains("graft.bands") &&
        legacy.getMessage.contains("graft.bits"), legacy.getMessage)
    } finally {
      Seq("_ebands", "_evecs").foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // Compaction across store families.
  // ------------------------------------------------------------------

  private def bucketFiles(tbl: String): Map[String, Seq[java.io.File]] = {
    val loc = new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
        .filter(col("col_name") === "Location").head().getString(1)))
    val bucketId = """.*_(\d+)(?:\..*)?$""".r
    loc.listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .groupBy(f => f.getName match {
        case bucketId(b) => b
        case n => fail(s"unexpected data file name: $n")
      })
  }

  test("sig store compaction: bands and toks tables compact to one sorted file per bucket, screen output unchanged") {
    import spark.implicits._
    val base = s"graft_r13_sig_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_sig_")
    def doc(i: Int) = i.toLong -> s"alpha bravo charlie delta echo foxtrot golf id$i tail$i more$i words$i here$i"
    try {
      val d0 = Seq(doc(1), doc(2)).toDF("doc_id", "text")
      ops.Dedup.buildSigStore(spark, base, dir.toString, d0, buckets = 4)
      // Re-appending the build docs guarantees every occupied bucket gains
      // a second file (deterministic multi-file state, no bucket-hash
      // luck) — and doubles as a robustness fixture: the duplicate rows
      // must not change any screen verdict (distinct-candidate counting).
      // Appends take their width from each table's own spec: every file
      // lands in one of the store's 4 buckets, whatever the module default.
      def appendInSpec(docs: org.apache.spark.sql.DataFrame): Unit = {
        ops.Dedup.appendSigStore(spark, base, docs)
        for (sfx <- Seq("_bands", "_toks"); b <- bucketFiles(s"$base$sfx").keys)
          assert(b.toInt < 4, s"$base$sfx has a file in bucket $b of a 4-bucket table")
      }
      appendInSpec(d0)
      appendInSpec(Seq(doc(3)).toDF("doc_id", "text"))
      val batch = Seq(doc(3), 50L -> "unrelated vocabulary entirely disjoint tokens nothing shared with others at all").toDF("doc_id", "text")
      val before = ops.Dedup.screenAgainstStore(spark, base, batch)
        .orderBy("doc_id").collect().toSeq
      for (sfx <- Seq("_bands", "_toks")) {
        assert(bucketFiles(s"$base$sfx").exists(_._2.size > 1),
          s"appends must have left $base$sfx multi-file")
        assert(ops.TextOps.compactStore(spark, s"$base$sfx") > 0)
        assert(bucketFiles(s"$base$sfx").forall(_._2.size == 1),
          s"compaction must leave $base$sfx single-file per bucket")
      }
      val after = ops.Dedup.screenAgainstStore(spark, base, batch)
        .orderBy("doc_id").collect().toSeq
      assert(after == before, "compaction must preserve screen output bit-exactly")
      assert(after.head.getAs[Double]("best_jaccard") == 1.0, "doc 3 must still be a store dup")
    } finally {
      Seq("_bands", "_toks").foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("embed store compaction: ebands, evecs and elabels tables compact, screen and labels unchanged") {
    val base = s"graft_r13_ecmp_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_ecmp_")
    try {
      // 2 buckets (non-default width): the day-1 append then lands second
      // files in occupied buckets deterministically enough to exercise a
      // real compaction, and the whole embed family re-proves the
      // catalog-spec append at a width that is not the module default.
      ops.Similarity.buildEmbedClusterStore(spark, base, dir.toString, day0,
        threshold = 0.9, buckets = 2)
      ops.Similarity.maintainEmbedClusterStore(spark, base, day1, threshold = 0.9)
      val probe = vecsDF(100L -> vec(P1, (T, 0f), 0.002f))
      val before = ops.Similarity.screenEmbedStore(spark, base, probe, threshold = 0.9)
        .collect().toSeq
      val labelsBefore = labelsOf(s"${base}_elabels")
      var compactedAny = false
      for (sfx <- Seq("_ebands", "_evecs", "_elabels", "_elabels_delta")) {
        val multi = bucketFiles(s"$base$sfx").exists(_._2.size > 1)
        val n = ops.TextOps.compactStore(spark, s"$base$sfx")
        if (multi) { assert(n > 0); compactedAny = true }
        assert(bucketFiles(s"$base$sfx").forall(_._2.size == 1))
      }
      assert(compactedAny, "the day-1 append must have left at least one table multi-file")
      assert(ops.Similarity.screenEmbedStore(spark, base, probe, threshold = 0.9)
        .collect().toSeq == before)
      assert(labelsOf(s"${base}_elabels") == labelsBefore)
    } finally {
      Seq("_ebands", "_evecs", "_elabels", "_elabels_delta").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // Streaming replay recovery: kill the commit marker of a completed
  // micro-batch so the restarted query re-runs it through foreachBatch —
  // the exact at-least-once seam a crash between commit-write and
  // shutdown produces.
  // ------------------------------------------------------------------

  private def dropLastCommit(ckpt: String): Unit = {
    val dir = new java.io.File(s"$ckpt/commits")
    val last = dir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    // The local FS keeps a hidden Hadoop checksum twin; leaving it behind
    // makes the restarted query's commit rewrite fail on the .crc rename.
    val crc = new java.io.File(dir, s".${last.getName}.crc")
    assert(last.delete(), s"could not delete commit marker $last")
    if (crc.exists()) assert(crc.delete(), s"could not delete $crc")
  }

  test("storeDedup replay: a re-delivered committed batch emits nothing and never duplicates store rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val tbl = s"graft_r13_replay_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_replay_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_r13_ckpt_").toString
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Seq("seed doc").toDF("text")
      .select(md5(col("text").cast("binary")).as("fp")).distinct()
      .repartition(4, col("fp"))
      .write.bucketBy(4, "fp").sortBy("fp")
      .option("path", s"$dir/t").mode("overwrite").saveAsTable(tbl)

    val emitted = mutable.ArrayBuffer.empty[(Long, Seq[(Long, String)])]
    val stream = MemoryStream[StreamDoc]
    def start() = streaming.Streams.storeDedup(stream.toDF(), tbl, Some(ckpt)) { (novel, id) =>
      emitted.synchronized {
        emitted += ((id, novel.collect().map(r => (r.getLong(0), r.getString(2))).toSeq))
      }
    }
    val q1 = start()
    try {
      stream.addData(StreamDoc(1, "replay doc a"), StreamDoc(2, "replay doc b"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(emitted.synchronized(emitted.toList).map(_._2.map(_._1).sorted) == List(Seq(1L, 2L)))
    // onNovel carries the document text (ADVICE r12): a sink can persist
    // content without re-joining the source batch.
    assert(emitted.synchronized(emitted.head._2.toMap)(1L) == "replay doc a")
    val storeBefore = spark.table(tbl).collect().map(_.getString(0)).toSeq.sorted

    // Simulate the crash-after-append seam: the batch's offsets are in the
    // WAL but its commit marker is gone, so the restart re-runs it.
    dropLastCommit(ckpt)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val log = emitted.synchronized(emitted.toList)
    assert(log.size == 2 && log(1)._1 == log.head._1,
      s"the restart must re-deliver the same batch id, saw $log")
    assert(log(1)._2.isEmpty,
      "a replayed batch's docs are already in the store — it must emit ZERO novel rows")
    val storeAfter = spark.table(tbl).collect().map(_.getString(0)).toSeq.sorted
    assert(storeAfter == storeBefore, "replay must not append duplicate fingerprints")
    assert(storeAfter.size == storeAfter.distinct.size)

    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  test("embedStoreDedup replay: re-delivered batch re-screens as non-novel, store gains no duplicate vectors") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = s"graft_r13_ereplay_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_ereplay_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_r13_eckpt_").toString
    ops.Similarity.buildEmbedBandStore(spark, base, dir.toString, day0, bands = 4, bits = 8)

    val verdicts = mutable.ArrayBuffer.empty[(Long, Map[Long, Boolean])]
    val stream = MemoryStream[StreamVec]
    def start() = streaming.Streams.embedStoreDedup(stream.toDF(), base, 0.9, Some(ckpt)) { (scr, id) =>
      verdicts.synchronized {
        verdicts += ((id, scr.collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap))
      }
    }
    val q1 = start()
    try {
      stream.addData(StreamVec(20, vec(P3, (T, 0f), 0f)), StreamVec(21, vec(P1, (T, 0f), 0.002f)))
      q1.processAllAvailable()
    } finally q1.stop()
    // 20 is novel (its own pattern), 21 near-dups stored cluster A.
    assert(verdicts.synchronized(verdicts.head._2) == Map(20L -> true, 21L -> false))
    val before = spark.table(s"${base}_evecs").select("vec_id")
      .collect().map(_.getLong(0)).toSeq.sorted

    dropLastCommit(ckpt)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val log = verdicts.synchronized(verdicts.toList)
    assert(log.size == 2 && log(1)._1 == log.head._1)
    // The at-least-once contract: verdicts re-emit, but against the
    // post-absorption store — everything previously appended now screens
    // as a duplicate of itself.
    assert(log(1)._2 == Map(20L -> false, 21L -> false),
      s"replayed batch must re-screen non-novel, saw ${log(1)._2}")
    val after = spark.table(s"${base}_evecs").select("vec_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(after == before, "replay must not duplicate vector rows")
    assert(after.size == after.distinct.size)

    Seq("_ebands", "_evecs").foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  test("maintenance edge derivation: both store scans reach their joins exchange-free (the screen's plan shape)") {
    val base = s"graft_r13_plan_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_plan_")
    try {
      ops.Similarity.buildEmbedClusterStore(spark, base, dir.toString, day0, threshold = 0.9)
      val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        val plan = ops.Similarity
          .newVerifiedEdges(spark, base, day1, 0.9, 4, 8)
          .queryExecution.executedPlan
        def paths(p: SparkPlan, up: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("graft_r13_plan_")) =>
            Seq(up)
          case other => other.children.flatMap(c => paths(c, other :: up))
        }
        val storePaths = paths(plan, Nil)
        assert(storePaths.size >= 2, s"expected ebands + evecs store scans in:\n$plan")
        storePaths.foreach { up =>
          val belowJoin = up.takeWhile(!_.isInstanceOf[SortMergeJoinExec])
          assert(belowJoin.size < up.size, s"store scan not under any join:\n$plan")
          assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
            s"the store side of the maintenance screen must never re-shuffle:\n$plan")
        }
      } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    } finally {
      Seq("_ebands", "_evecs", "_elabels", "_elabels_delta").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("ivfIngest replay: the documented at-least-once contract — duplicate rows at the file layer, dedup-by-vec_id restores parity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val cent = (0 until 4).map { c =>
      (c.toLong, Array.tabulate(8)(i => if (i == c) 1.0f else 0.0f))
    }.toDF("cent_id", "cemb")
    def v(id: Long, axis: Int) = StreamVec(id,
      Array.tabulate(8)(i => if (i == axis) 1.0f else 0.0f))
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_ivf_").toString + "/store"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_r13_ivfck_").toString
    ops.Similarity.ivfAssign(Seq(v(1, 0)).toDF("vec_id", "embedding"), cent)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)

    val stream = MemoryStream[StreamVec]
    def start() = streaming.Streams.ivfIngest(stream.toDF(), cent, dir, Some(ckpt))
    val q1 = start()
    try {
      stream.addData(v(10, 1), v(11, 2))
      q1.processAllAvailable()
    } finally q1.stop()
    dropLastCommit(ckpt)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // ivfAppend is a bare file-layer append (no novelty screen exists for
    // vectors that SHOULD accumulate) — a replayed batch lands twice.
    // This is the Scaladoc's at-least-once contract, pinned here so the
    // behavior can't drift silently: exact duplicate rows, confined to
    // the replayed batch's cells, and a dedup-by-vec_id on read (the
    // named lakehouse-MERGE stand-in) restores batch-assignment parity.
    val rows = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.count(_._1 == 10L) == 2 && rows.count(_._1 == 11L) == 2,
      s"replayed batch must appear exactly twice at the file layer, saw $rows")
    assert(rows.count(_._1 == 1L) == 1, "non-replayed rows must appear once")
    val deduped = rows.distinct.toMap
    val want = ops.Similarity.ivfAssign(
        Seq(v(1, 0), v(10, 1), v(11, 2)).toDF("vec_id", "embedding"), cent)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deduped == want, "dedup-by-vec_id must restore the batch assignment")

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  test("screen n_cands counts distinct candidates: a duplicate store row (crashed-append residue) cannot inflate it") {
    import spark.implicits._
    val base = s"graft_r13_dup_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_dup_")
    val text = "golf hotel india juliet kilo lima mike november oscar papa quebec romeo"
    try {
      ops.Dedup.buildSigStore(spark, base,
        dir.toString, Seq(1L -> text).toDF("doc_id", "text"), buckets = 2)
      val batch = Seq(10L -> text).toDF("doc_id", "text")
      val clean = ops.Dedup.screenAgainstStore(spark, base, batch).collect().head
      assert(clean.getAs[Long]("n_cands") == 1L && !clean.getAs[Boolean]("novel"))
      // Plant the crash residue: a second _toks row for doc 1.
      Seq(1L -> text).toDF("doc_id", "text")
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        .repartition(2, col("doc_id"))
        .write.bucketBy(2, "doc_id").sortBy("doc_id")
        .mode("append").saveAsTable(s"${base}_toks")
      val dup = ops.Dedup.screenAgainstStore(spark, base, batch).collect().head
      assert(dup.getAs[Long]("n_cands") == 1L,
        "n_cands must count DISTINCT candidate docs, not toks rows")
      assert(dup.getAs[Double]("best_jaccard") == 1.0 && !dup.getAs[Boolean]("novel"))
    } finally {
      Seq("_bands", "_toks").foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
