package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12: the two store-maintenance gaps VERDICT r11 left open.
  *
  *  1. A deterministic end-to-end lifecycle on a NON-default bucket width
  *     (the r11 lifecycle property caught `appendNovel` hardcoding 32
  *     buckets; this pins the fix at a width that is neither the module
  *     default nor the property's 4): build → append honoring the
  *     catalog's spec → compact → sort-free probe.
  *  2. `compactStore` under a CONCURRENT append (VERDICT r11 #5): an
  *     append landing exactly between compaction's file listing and its
  *     file moves must never be lost — compaction merges and deletes only
  *     the files it listed, so the append's fresh files survive; the only
  *     artifact is a temporarily multi-file bucket, closed by the next
  *     compaction. The reader-side caveat (no snapshot isolation at the
  *     file layer) is documented on [[ops.TextOps.compactStore]].
  */
class Round12Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val tblCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private def fps(ids: Seq[Int]) = {
    import spark.implicits._
    ids.toDF("id").select(md5(col("id").cast("string")).as("fp"))
  }

  private def buildStore(tbl: String, dir: String, buckets: Int, ids: Seq[Int]): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    fps(ids).distinct()
      .repartition(buckets, col("fp"))
      .write.bucketBy(buckets, "fp").sortBy("fp")
      .option("path", s"$dir/t").mode("overwrite").saveAsTable(tbl)
  }

  private def bucketFiles(tbl: String): Map[String, Seq[java.io.File]] = {
    val loc = new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
        .filter(col("col_name") === "Location")
        .head().getString(1)))
    val bucketId = """.*_(\d+)(?:\..*)?$""".r
    loc.listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .groupBy(f => f.getName match {
        case bucketId(b) => b
        case n => fail(s"unexpected data file name (no _NNNN bucket suffix): $n")
      })
  }

  private def withProbeConfs[A](f: => A): A = {
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Store side of a forced sort-merge anti-join probe must be
    * exchange-free always, and Sort-free exactly when single-file. */
  private def checkProbeShape(tbl: String): Unit = withProbeConfs {
    import spark.implicits._
    val multiFile = bucketFiles(tbl).exists(_._2.size > 1)
    val batch = (1 to 20).map(i => s"probe_fp_$i").toDF("fp")
    val plan = batch.join(spark.table(tbl), Seq("fp"), "left_anti")
      .queryExecution.executedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(joins.size == 1, s"expected one sort-merge anti-join, got:\n$plan")
    val storeSide = joins.head.right
    assert(storeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty,
      "the store side must NEVER re-shuffle: its buckets are the join partitions")
    assert(storeSide.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.nonEmpty == multiFile,
      s"store-side Sort must appear exactly when a bucket has >1 file ($multiFile)")
  }

  private def contents(tbl: String): Set[String] =
    spark.table(tbl).collect().map(_.getString(0)).toSet

  test("non-default bucket width end-to-end: append honors the catalog spec, compaction restores the sort-free probe") {
    val Buckets = 5
    val tbl = s"graft_r12_store_${tblCounter.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r12_store_")
    try {
      val (a, b) = ((0 to 40), (25 to 70))
      buildStore(tbl, dir.toString, Buckets, a)
      checkProbeShape(tbl)
      ops.TextOps.appendNovel(spark, tbl, fps(b).distinct())
      // The append must land as correctly-hashed files of the table's OWN
      // width: ids confined to 0..Buckets-1 (a 32-bucket write against
      // this 5-bucket store is what r11's hardcoded width produced —
      // Spark rejects it; asserting the file layout proves the catalog
      // spec was read, not a lucky constant).
      val byBucket = bucketFiles(tbl)
      assert(byBucket.keySet.forall(_.toInt < Buckets),
        s"appended files must use the table's $Buckets-bucket spec, saw ids ${byBucket.keySet}")
      assert(byBucket.exists(_._2.size > 1), "the append must add per-bucket files")
      checkProbeShape(tbl)
      assert(ops.TextOps.compactStore(spark, tbl) > 0)
      val multi = bucketFiles(tbl).filter(_._2.size > 1)
      assert(multi.isEmpty, s"compaction left multi-file buckets: ${multi.keys}")
      checkProbeShape(tbl)
      assert(contents(tbl) == fps((a ++ b).distinct).collect().map(_.getString(0)).toSet)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("compaction vs concurrent append: an append inside the listing->move window is never lost") {
    val Buckets = 4
    val tbl = s"graft_r12_store_${tblCounter.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_r12_race_")
    try {
      val (a, b, c) = ((0 to 30), (20 to 50), (45 to 80))
      buildStore(tbl, dir.toString, Buckets, a)
      ops.TextOps.appendNovel(spark, tbl, fps(b).distinct()) // make buckets multi-file
      assert(bucketFiles(tbl).exists(_._2.size > 1))
      // The adversarial schedule: batch C lands after compaction has
      // captured its file listing but before any rewrite moves. Its
      // anti-join still reads the pre-swap files (nothing deleted yet),
      // and its output files are invisible to the in-flight rewrite.
      val compacted = ops.TextOps.compactStore(spark, tbl, maxFilesPerBucket = 1,
        afterListing = () => ops.TextOps.appendNovel(spark, tbl, fps(c).distinct()))
      assert(compacted > 0, "the multi-file buckets must have been rewritten")
      val want = fps((a ++ b ++ c).distinct).collect().map(_.getString(0)).toSet
      assert(contents(tbl) == want,
        "the mid-window append must survive compaction: content = distinct union of all batches")
      // The window's one artifact: C's files make buckets multi-file again
      // (the probe honestly regains its Sort — invariant, not corruption)...
      checkProbeShape(tbl)
      // ...and the NEXT maintenance cycle closes it.
      ops.TextOps.compactStore(spark, tbl)
      assert(bucketFiles(tbl).forall(_._2.size == 1))
      checkProbeShape(tbl)
      assert(contents(tbl) == want, "follow-up compaction must preserve content bit-exactly")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
