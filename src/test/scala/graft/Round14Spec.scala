package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14: the VERDICT r13 worklist + ADVICE r13 flags.
  *
  *  1. Maintenance novelty screens against `_ebands`, not `_evecs`
  *     (ADVICE r13 medium): a crash between the vector append and the band
  *     append must be HEALED on replay — the half-committed vector gets its
  *     band rows re-driven instead of becoming permanently invisible to
  *     candidate generation.
  *  2. Crash-safe `_elabels` publish (VERDICT r13 next #2): the rewrite
  *     lands in a fresh generation before the live table moves — pinned at
  *     every crash point by CrashPointSweepSpec.
  *  3. storeNearDedup replay recovery (VERDICT r13 next #3): the last
  *     streaming-store tier gains a checkpoint parameter and the same
  *     commit-marker-deletion restart pin as the other three.
  *  4. A property-less embed store fails instead of screening with a
  *     silent 4/8 (ADVICE r13 low) — pinned in Round13Spec.
  *  5. IVF probe replay invariance (VERDICT r13 next #5): the REGISTERED
  *     probe's top-k is identical before and after a crash-replayed
  *     ivfIngest batch — no test-side distinct.
  *  6. Decade-scaled bucketed staging ([[ops.Extended.bucketsFor]],
  *     VERDICT r13 weak #1) and the map-typed q_map_agg rendering
  *     (VERDICT r13 next #6).
  */
class Round14Spec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
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

  // Same planted-geometry fixtures as Round13Spec: sign pattern over dims
  // 1-32 controls band candidacy, tail dims set the cosine.
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
  private def day0 = vecsDF(
    1L -> vec(P1, (T, 0f), 0.001f), 2L -> vec(P1, (T, 0f), -0.001f),
    3L -> vec(P1, (-T, 0f), 0.001f), 4L -> vec(P1, (-T, 0f), -0.001f),
    5L -> vec(P2, (T, 0f), 0f),
    6L -> vec(P4, (0f, T), 0f))
  private def day1 = vecsDF(
    10L -> vec(P1, (0f, T), 0f),
    11L -> vec(P2, (T, 0f), 0.001f),
    12L -> vec(P3, (T, 0f), 0.001f), 13L -> vec(P3, (T, 0f), -0.001f),
    14L -> vec(P5, (T, 0f), 0f))

  private val day1Want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L,
    5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L)

  private def labelsOf(tbl: String): Map[Long, Long] =
    spark.table(tbl).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def dropEmbedTables(base: String): Unit =
    Seq("_ebands", "_evecs", "_elabels", "_elabels_stage", "_elabels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  private def dropLastCommit(ckpt: String): Unit = {
    val dir = new java.io.File(s"$ckpt/commits")
    val last = dir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    val crc = new java.io.File(dir, s".${last.getName}.crc")
    assert(last.delete(), s"could not delete commit marker $last")
    if (crc.exists()) assert(crc.delete(), s"could not delete $crc")
  }

  // ------------------------------------------------------------------
  // 1. Band-based novelty: the half-committed-append crash heals.
  // ------------------------------------------------------------------

  test("maintenance heals a vectors-written-bands-missing crash: band rows are re-driven, labels equal from-scratch") {
    val base = s"graft_r14_heal_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r14_heal_")
    try {
      ops.Similarity.buildEmbedClusterStore(spark, base, dir.toString, day0, threshold = 0.9)
      // Simulate appendEmbedBandStore dying between its two writes: the
      // batch's VECTOR rows land, its band rows never do.
      day1.select("vec_id", "embedding").repartition(16, col("vec_id"))
        .write.bucketBy(16, "vec_id").sortBy("vec_id")
        .mode("append").saveAsTable(s"${base}_evecs")
      val orphaned = spark.table(s"${base}_ebands")
        .filter(col("vec_id") >= 10L).count()
      assert(orphaned == 0L, "fixture: day-1 must have vector rows but no band rows")

      // Replay the whole maintenance batch. With the old `_evecs` novelty
      // screen the batch would read as non-novel and its band rows would
      // never be written; the `_ebands` screen re-drives the append.
      ops.Similarity.maintainEmbedClusterStore(spark, base, day1, threshold = 0.9)
      assert(labelsOf(s"${base}_elabels") == day1Want,
        "healed maintenance must produce the from-scratch labels")
      val bandKeys = spark.table(s"${base}_ebands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
      assert(bandKeys.size == bandKeys.distinct.size, "band rows must not duplicate")
      assert(day1.collect().map(_.getLong(0)).forall(id => bandKeys.exists(_._1 == id)),
        "every day-1 vector must be band-visible after the heal")
      // The tolerated residue: the re-driven append duplicates the vector
      // rows the crash had already written — storage-only, screened out by
      // the distinct-candidate conventions.
      val vecCounts = spark.table(s"${base}_evecs").groupBy("vec_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(vecCounts(10L) == 2L && vecCounts(1L) == 1L)
      val screened = ops.Similarity.screenEmbedStore(spark, base,
          vecsDF(100L -> vec(P3, (T, 0f), 0.002f)), threshold = 0.9)
        .collect().head
      assert(!screened.getAs[Boolean]("novel") && screened.getAs[Long]("n_cands") == 2L,
        "screens must see the healed batch and count DISTINCT candidates")
    } finally {
      dropEmbedTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // 3. storeNearDedup replay recovery — the streaming 2×2 completes.
  // ------------------------------------------------------------------

  test("storeNearDedup replay: re-delivered batch re-screens non-novel, sig store gains no duplicate rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = s"graft_r14_nreplay_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r14_nreplay_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_r14_nckpt_").toString
    val seed = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val fresh = "unrelated vocabulary entirely disjoint tokens nothing shared with the stored corpus at all"
    ops.Dedup.buildSigStore(spark, base,
      dir.toString, Seq(1L -> seed).toDF("doc_id", "text"), buckets = 4)

    val verdicts = mutable.ArrayBuffer.empty[(Long, Map[Long, Boolean])]
    val stream = MemoryStream[StreamDoc]
    def start() = streaming.Streams.storeNearDedup(stream.toDF(), base, 0.6, Some(ckpt)) { (scr, id) =>
      verdicts.synchronized {
        verdicts += ((id, scr.collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap))
      }
    }
    val q1 = start()
    try {
      stream.addData(StreamDoc(10, seed), StreamDoc(11, fresh))
      q1.processAllAvailable()
    } finally q1.stop()
    // 10 near-dups the stored doc, 11 is novel and gets absorbed.
    assert(verdicts.synchronized(verdicts.head._2) == Map(10L -> false, 11L -> true))
    def storeRows() = (
      spark.table(s"${base}_toks").select("doc_id").collect().map(_.getLong(0)).toSeq.sorted,
      spark.table(s"${base}_bands").select("doc_id", "band", "sig").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sortBy(_.toString))
    val before = storeRows()
    assert(before._1 == Seq(1L, 11L), "only the novel doc must have been absorbed")

    dropLastCommit(ckpt)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val log = verdicts.synchronized(verdicts.toList)
    assert(log.size == 2 && log(1)._1 == log.head._1,
      s"the restart must re-deliver the same batch id, saw $log")
    // The at-least-once contract: verdicts re-emit against the
    // post-absorption store — 11 is now a duplicate of itself.
    assert(log(1)._2 == Map(10L -> false, 11L -> false),
      s"replayed batch must re-screen non-novel, saw ${log(1)._2}")
    assert(storeRows() == before, "replay must not duplicate sig-store rows")

    Seq("_bands", "_toks").foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  // ------------------------------------------------------------------
  // 5. IVF probe replay invariance.
  // ------------------------------------------------------------------

  test("the registered IVF probe's top-k is identical before and after a crash-replayed ivfIngest batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val cent = (0 until 4).map { c =>
      (c.toLong, Array.tabulate(8)(i => if (i == c) 1.0f else 0.0f))
    }.toDF("cent_id", "cemb")
    def v(id: Long, axis: Int) = StreamVec(id,
      Array.tabulate(8)(i => if (i == axis) 1.0f else 0.0f))
    val dir = java.nio.file.Files.createTempDirectory("graft_r14_ivf_").toString + "/store"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_r14_ivfck_").toString
    ops.Similarity.ivfAssign(Seq(v(1, 0)).toDF("vec_id", "embedding"), cent)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val q = Seq(Tuple1(Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f))).toDF("qemb")
    def topk() = ops.Similarity.probeCellStoreWith(spark, dir, cent, q)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val stream = MemoryStream[StreamVec]
    def start() = streaming.Streams.ivfIngest(stream.toDF(), cent, dir, Some(ckpt))
    val q1 = start()
    try {
      stream.addData(v(10, 1), v(11, 2))
      q1.processAllAvailable()
    } finally q1.stop()
    val before = topk()
    assert(before.map(_._1).contains(10L), "fixture: the ingested vector must be probe-visible")

    dropLastCommit(ckpt)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // The file layer really does hold the batch twice (the pinned
    // at-least-once contract) — the REGISTERED probe must still answer
    // identically, with no duplicate vec_id occupying two top-k slots.
    assert(spark.read.parquet(dir).filter(col("vec_id") === 10L).count() == 2L)
    val after = topk()
    assert(after == before, s"probe must be replay-invariant: $before vs $after")
    assert(after.map(_._1).size == after.map(_._1).distinct.size)

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  // ------------------------------------------------------------------
  // 6. Decade-scaled bucket provisioning + the map-typed aggregation.
  // ------------------------------------------------------------------

  test("bucketsFor: fixture-stable floor, doubles with the corpus, bounded per-bucket rows, capped") {
    import ops.Extended.bucketsFor
    // The oracle fixtures and the existing plan pins stay at the floor.
    assert(bucketsFor(600L) == 16 && bucketsFor(600000L) == 16)
    // sf10-scale (~60M rows) and sf100-scale (~600M rows): per-bucket rows
    // stay ≤ the 4M target instead of a fixed 16 buckets' ~40M.
    assert(bucketsFor(60000000L) == 16)
    val b100 = bucketsFor(600000000L)
    assert(b100 == 256, s"600M rows must provision 256 buckets, got $b100")
    assert(600000000L / b100 <= 4000000L)
    // Monotone in the corpus, hard-capped.
    assert(bucketsFor(6000000000L) == 2048)
    assert(bucketsFor(Long.MaxValue / 2) == 4096)
  }

  // ------------------------------------------------------------------
  // 7. Incremental sig-store cluster maintenance — the text-tier twin of
  //    r13's maintained embed clusters, closing the last asymmetry between
  //    the two near-dup tiers.
  // ------------------------------------------------------------------

  // Disjoint 20-word vocabularies per planted cluster: exact-duplicate
  // texts share every shingle, so their signatures collide in every band
  // (candidacy is deterministic, no S-curve roll); cross-cluster token
  // jaccard is 0.
  private def words(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
  private val (tA, tC, tE, tF, tG, tH) =
    (words("alpha"), words("charlie"), words("echo"),
     words("foxtrot"), words("golf"), words("hotel"))
  private def docsDF(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  // day-0: {1,2} cluster, 3/5/6 singletons (no label rows).
  private def sigDay0 = docsDF(1L -> tA, 2L -> tA, 3L -> tC, 5L -> tE, 6L -> tF)
  // day-1: 10 merges into {1,2}; 11 gives store-singleton 5 its FIRST edge;
  // {12,13} is a brand-new cluster; 14 is novel and alone.
  private def sigDay1 = docsDF(10L -> tA, 11L -> tE, 12L -> tG, 13L -> tG, 14L -> tH)
  private val sigDay1Want = Map(1L -> 1L, 2L -> 1L, 10L -> 1L,
    5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L)

  private def dropSigTables(base: String): Unit =
    Seq("_bands", "_toks", "_labels", "_labels_stage", "_labels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  test("sig cluster maintenance: cross-day merge, first-edge store singleton, new cluster — labels equal from-scratch") {
    val base = s"graft_r14_scl_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r14_scl_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      assert(labelsOf(s"${base}_labels") == Map(1L -> 1L, 2L -> 1L),
        "day-0 labels must hold only the built half's clusters")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(labelsOf(s"${base}_labels") == sigDay1Want,
        "maintained labels must equal from-scratch clustering of the union")
      // Every day-1 doc was absorbed exactly once into both store tables.
      val bandDocs = spark.table(s"${base}_bands").select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(Set(10L, 11L, 12L, 13L, 14L).subsetOf(bandDocs))
      val tokCounts = spark.table(s"${base}_toks").groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(tokCounts.values.forall(_ == 1L), s"clean run must not duplicate toks: $tokCounts")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("sig cluster maintenance replay: a re-delivered batch is a fixed point with no duplicate store rows") {
    val base = s"graft_r14_sclr_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r14_sclr_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      val bandRows = spark.table(s"${base}_bands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(labelsOf(s"${base}_labels") == sigDay1Want, "replay must stay at the fixed point")
      val after = spark.table(s"${base}_bands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
      assert(after == bandRows, "replay must not duplicate band rows")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("sig maintenance heals a toks-written-bands-missing crash: band rows re-driven, labels equal from-scratch") {
    val base = s"graft_r14_sclh_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r14_sclh_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      // Simulate appendSigStore dying between its two writes: the batch's
      // TOKEN rows land, its band rows never do ( _toks appends first).
      sigDay1.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        .repartition(8, col("doc_id"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("append").saveAsTable(s"${base}_toks")
      assert(spark.table(s"${base}_bands").filter(col("doc_id") >= 10L).count() == 0L,
        "fixture: day-1 must have token rows but no band rows")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      assert(labelsOf(s"${base}_labels") == sigDay1Want,
        "healed maintenance must produce the from-scratch labels")
      val bandKeys = spark.table(s"${base}_bands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      assert(bandKeys.size == bandKeys.distinct.size, "band rows must not duplicate")
      assert(Seq(10L, 11L, 12L, 13L, 14L).forall(id => bandKeys.exists(_._1 == id)),
        "every day-1 doc must be band-visible after the heal")
      // Tolerated residue: duplicated toks rows for the re-driven batch —
      // and the screen still counts DISTINCT candidates through them.
      val tokCounts = spark.table(s"${base}_toks").groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(tokCounts(10L) == 2L && tokCounts(1L) == 1L)
      val screened = ops.Dedup.screenAgainstStore(spark, base, docsDF(100L -> tG))
        .collect().head
      assert(!screened.getAs[Boolean]("novel") && screened.getAs[Long]("n_cands") == 2L,
        "screens must see the healed batch and count DISTINCT candidates")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("registered q_dedup_clusters_store equals from-scratch q_dedup_clusters on real data") {
    val d = s"${SparkEntry.FixtureRoot}/sf0.001"
    val maintained = ops.Dedup.dedupClustersStore(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val scratch = ops.Dedup.dedupClusters(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(maintained == scratch,
      "the maintained label table must match full recomputation row for row")
    assert(maintained.nonEmpty)
  }

  test("q_map_agg emits a deterministic MapType: sorted keys, to_json rendering matches the oracle's JSON construction") {
    import org.apache.spark.sql.types.MapType
    val df = ops.Extended.mapAgg(spark, s"${SparkEntry.FixtureRoot}/sf0.001")
    assert(df.schema("type_counts").dataType.isInstanceOf[MapType],
      "the registered query must RETURN a map (Bench's checksum map branch rides on it)")
    val rendered = df.select(col("user_id"), to_json(col("type_counts")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rendered.nonEmpty)
    rendered.foreach { case (_, j) =>
      val keys = """\"([a-z_]+)\":""".r.findAllMatchIn(j).map(_.group(1)).toSeq
      assert(keys == keys.sorted, s"map keys must render sorted, got $j")
      assert(!j.contains(" "), s"to_json must render compactly, got $j")
    }
    // Run-to-run determinism of the rendering (collect_list order is
    // nondeterministic; the array_sort must fully pin it).
    val again = ops.Extended.mapAgg(spark, s"${SparkEntry.FixtureRoot}/sf0.001")
      .select(col("user_id"), to_json(col("type_counts")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rendered.toMap == again.toMap)
  }
}
