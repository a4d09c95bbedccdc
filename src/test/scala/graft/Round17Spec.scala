package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17: the VERDICT r16 worklist + the ADVICE r16 medium/low flags on
  * the store-swap lifecycle.
  *
  *  1. The REGISTERED maintenance cadence retires heal residue (VERDICT r15
  *     next #4): `compactStore(dedupKeys)` existed and was unit-tested but
  *     no registered path invoked it, so the duplicate `_toks`/`_evecs`
  *     rows a re-driven append tolerates lived forever. Day-N maintenance
  *     now compacts buckets past [[ops.TextOps.MaintCompactFilesPerBucket]]
  *     files and retires the duplicates as it rewrites.
  *  2. Key-duplicate retirement refuses CONFLICTING payloads (ADVICE r16
  *     low): rows sharing a dedup key must be bit-identical copies (the
  *     only thing a re-driven heal can produce) — anything else fails the
  *     compaction loudly instead of discarding an arbitrary survivor.
  *  3. Generation-name stems never mangle user names (ADVICE r16 low): the
  *     stem is recorded as a table property and never parsed back out of
  *     a directory name.
  */
class Round17Spec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
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

  private def labelsOf(tbl: String): Map[Long, Long] =
    spark.table(tbl).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // ---- sig-tier planted fixture (the Round14/15Spec geometry) ----------
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
  private val sigDay1Want = Map(1L -> 1L, 2L -> 1L, 10L -> 1L,
    5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L)
  private val sigDay2Want = sigDay1Want ++
    Map(14L -> 14L, 20L -> 14L, 21L -> 21L, 22L -> 21L)

  private def dropSigTables(base: String): Unit =
    Seq("_bands", "_toks", "_labels", "_labels_stage", "_labels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  // ---- embed-tier planted fixture (the Round14/15Spec geometry) --------
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
  private val P4 = 0x7B01; private val P5 = 0x5AD3; private val P6 = 0x2E4B
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
  private def eDay2 = vecsDF(
    20L -> vec(P5, (T, 0f), 0.001f),
    21L -> vec(P6, (0f, T), 0f))

  private def dropEmbedTables(base: String): Unit =
    Seq("_ebands", "_evecs", "_elabels", "_elabels_stage", "_elabels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  // ------------------------------------------------------------------
  // 1. The REGISTERED maintenance cadence retires heal residue.
  // ------------------------------------------------------------------

  test("sig-tier day-N maintenance compacts _toks past the file cadence and retires heal residue") {
    val base = s"graft_r17_cad_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_cad_")
    try {
      // buckets = 1 so every append lands in the same bucket: day-0 (1 file)
      // + planted heal residue (1) + two day-N appends (2) = 4 files, one
      // past MaintCompactFilesPerBucket = 3 — the cadence triggers on the
      // SECOND maintenance run with no direct compactStore call anywhere.
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 1)
      // The Round14Spec crash shape: _toks lands, _bands never does; the
      // band-screen heal re-drives the whole batch, duplicating _toks rows.
      sigDay1.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        .repartition(1, col("doc_id"))
        .write.bucketBy(1, "doc_id").sortBy("doc_id")
        .mode("append").saveAsTable(s"${base}_toks")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      val healed = spark.table(s"${base}_toks").groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(healed(10L) == 2L,
        "fixture: under the cadence threshold the residue must still be present")
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay2)
      val counts = spark.table(s"${base}_toks").groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts.values.forall(_ == 1L),
        s"the registered cadence must retire the duplicate rows: $counts")
      assert(labelsOf(s"${base}_labels") == sigDay2Want)
      val screened = ops.Dedup.screenAgainstStore(spark, base, docsDF(100L -> tG))
        .collect().head
      assert(!screened.getAs[Boolean]("novel") && screened.getAs[Long]("n_cands") == 2L)
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("embed-tier day-N maintenance compacts _evecs past the file cadence and retires heal residue") {
    val base = s"graft_r17_ecad_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_ecad_")
    try {
      ops.Similarity.buildEmbedClusterStore(spark, base, dir.toString, eDay0,
        threshold = 0.9, buckets = 1)
      eDay1.select("vec_id", "embedding").repartition(1, col("vec_id"))
        .write.bucketBy(1, "vec_id").sortBy("vec_id")
        .mode("append").saveAsTable(s"${base}_evecs")
      ops.Similarity.maintainEmbedClusterStore(spark, base, eDay1, threshold = 0.9)
      val healed = spark.table(s"${base}_evecs").groupBy("vec_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(healed(10L) == 2L,
        "fixture: under the cadence threshold the residue must still be present")
      ops.Similarity.maintainEmbedClusterStore(spark, base, eDay2, threshold = 0.9)
      val counts = spark.table(s"${base}_evecs").groupBy("vec_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts.values.forall(_ == 1L),
        s"the registered cadence must retire the duplicate rows: $counts")
      val screened = ops.Similarity.screenEmbedStore(spark, base,
          vecsDF(100L -> vec(P3, (T, 0f), 0.002f)), threshold = 0.9)
        .collect().head
      assert(!screened.getAs[Boolean]("novel") && screened.getAs[Long]("n_cands") == 2L)
    } finally {
      dropEmbedTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // 2. Conflicting payloads fail the compaction loudly.
  // ------------------------------------------------------------------

  test("compactStore(dedupKeys) refuses to pick a survivor among rows whose payloads differ") {
    val base = s"graft_r17_conf_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_conf_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 1)
      // doc 1 re-appears with DIFFERENT tokens — not a re-driven heal (those
      // are bit-identical) but an upstream corruption.
      docsDF(1L -> tH)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        .repartition(1, col("doc_id"))
        .write.bucketBy(1, "doc_id").sortBy("doc_id")
        .mode("append").saveAsTable(s"${base}_toks")
      val e = intercept[Throwable] {
        ops.TextOps.compactStore(spark, s"${base}_toks", dedupKeys = Seq("doc_id"))
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(m => m.contains("CONFLICTING") &&
          m.contains(s"${base}_toks") && m.contains("doc_id")),
        s"the failure must name the conflict, the table and the key: ${messages(e)}")
      // The refusal fails the staged write itself; its staging goes with it.
      import scala.jdk.CollectionConverters._
      val staging = java.nio.file.Files.walk(dir)
      try assert(!staging.iterator().asScala.exists(
          _.getFileName.toString.startsWith(".graft_compact_")),
        "a refused compaction must not leave its staging directory behind")
      finally staging.close()
      // Nothing was silently discarded: both payload variants still present.
      val n = spark.table(s"${base}_toks").filter(col("doc_id") === 1L).count()
      assert(n == 2L, "the conflicting rows must survive the refused compaction")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ------------------------------------------------------------------
  // 3. Stem safety.
  // ------------------------------------------------------------------

  test("published generations record their stem as a table property and reuse it") {
    val base = s"graft_r17_stem_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_stem_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString, sigDay0, buckets = 8)
      ops.Dedup.maintainSigClusterStore(spark, base, sigDay1)
      val meta = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${base}_labels"))
      assert(meta.properties.get(ops.TextOps.StemProp).contains("labels"),
        s"the live generation must carry the recorded stem: ${meta.properties}")
      val live = new java.io.File(new java.net.URI(meta.location.toString)).getName
      assert(live.matches("labels_g\\d{19}"),
        s"generation names are zero-padded 19-digit nanoTime suffixes: $live")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
