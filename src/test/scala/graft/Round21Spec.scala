package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-21 (optimization round 1): the ADVICE r20 lifecycle fixes +
  * VERDICT r20 missing #4.
  *
  *  1. [[ops.TextOps.commitDay0]] acquires the `<stem>_swap.lock` (ADVICE
  *     r20 low #2): a day-0 rebuild racing a live fold previously deleted
  *     the fold's staged generation and overwrote its manifest commit
  *     SILENTLY; now the single-writer contract violation fails loudly,
  *     exactly like [[ops.TextOps.publishBucketed]].
  *  2. The builders clear the dropped delta table's FILES at the DROP
  *     (ADVICE r20 low #1): a crash between the builder's
  *     `DROP TABLE ..._delta` and commitDay0 (whose own clear lands only
  *     at commit) left the old store's delta rows on disk for the next
  *     `mode("append").saveAsTable` to resurrect via latest-wins.
  *  3. [[ops.StoreFs.readSmall]] maps ANY IOException to None (VERDICT r20
  *     missing #4): a transient object-store fault on the manifest must
  *     degrade to the pre-manifest catalog path, not fail the read.
  */
class Round21Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  private def words(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
  private val tA = words("alpha")
  private def docsDF(rows: (Long, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def dropSigTables(base: String): Unit =
    Seq("_bands", "_toks", "_labels", "_labels_stage", "_labels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  test("commitDay0 refuses to run under a held swap lock, and proceeds once it is freed") {
    val base = s"graft_r21_lock_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r21_lock_")
    try {
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString,
        docsDF(1L -> tA, 2L -> tA), buckets = 4)
      val fs = ops.StoreFs.fs(spark, new org.apache.hadoop.fs.Path(dir.toString))
      val lock = new org.apache.hadoop.fs.Path(dir.toString, "labels_swap.lock")
      assert(!fs.exists(lock), "a completed build must not leave the lock behind")
      // A concurrent fold appears mid-publish: commitDay0 must fail loudly
      // instead of silently sweeping the fold's staged generation away.
      assert(ops.StoreFs.createLockNoOverwrite(fs, lock))
      val e = intercept[IllegalStateException] {
        ops.TextOps.commitDay0(spark, s"${base}_labels", "labels")
      }
      assert(e.getMessage.contains("single-writer"))
      ops.StoreFs.deleteQuietly(fs, lock)
      ops.TextOps.commitDay0(spark, s"${base}_labels", "labels")
      assert(!fs.exists(lock), "commitDay0 must release the lock it took")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("the builder clears stale delta files at the DROP, before the day-0 write") {
    val base = s"graft_r21_delta_${ctr.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory("graft_r21_delta_")
    try {
      val fs = ops.StoreFs.fs(spark, new org.apache.hadoop.fs.Path(dir.toString))
      // The crash-window residue: delta FILES on disk with no registered
      // table (a prior rebuild died between its DROP and its commitDay0 —
      // commitDay0's own clear never ran, so only the builder's new
      // drop-time clear can retire these).
      val deltaDir = new org.apache.hadoop.fs.Path(dir.toString, "labels_delta")
      fs.mkdirs(deltaDir)
      ops.StoreFs.writeAtomic(fs,
        new org.apache.hadoop.fs.Path(deltaDir, "part-stale"), "stale")
      ops.Dedup.buildSigClusterStore(spark, base, dir.toString,
        docsDF(1L -> tA, 2L -> tA), buckets = 4)
      assert(!fs.exists(deltaDir),
        "the build must clear crash-stranded delta files so the next " +
        "append cannot resurrect pre-rebuild labels over them")
    } finally {
      dropSigTables(base)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("salted hot join at the production threshold: no fixture key is hot, result equals the plain join") {
    import org.apache.spark.sql.functions._
    val sf = s"${SparkEntry.FixtureRoot}/sf0.001"
    // The r21 re-calibration: skew is absolute (rows-per-task budget), so
    // on a fixture whose max per-key fan-out is 7, detection must find
    // NOTHING at the registered default — the operator degrades to
    // detection + the plain join, the right plan on unskewed data.
    assert(ops.Tpch.HotKeyRowThreshold == 4000000L)
    val hotCount = Tables(spark, sf, "lineitem")
      .groupBy("l_orderkey").count()
      .filter(col("count") >= ops.Tpch.HotKeyRowThreshold).count()
    assert(hotCount == 0,
      "the production rows-per-task threshold must not classify the " +
      "fixture's uniform fan-out band as skew")
    assert(ops.Tpch.saltedHotKeys(Tables(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")).count() == 0,
      "the sampled detector must agree: nothing is hot at the production threshold")
    val plain = Tables(spark, sf, "lineitem")
      .join(Tables(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(ops.Tpch.saltedHotJoin(spark, sf).collect().toSeq == plain,
      "the empty-hot degenerate path must still equal the plain join")
  }

  test("readSmall degrades a transient I/O failure to None (catalog decides)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r21_iofs_")
    try {
      val p = new org.apache.hadoop.fs.Path(dir.toString, "labels.manifest")
      val real = ops.StoreFs.fs(spark, p)
      ops.StoreFs.writeAtomic(real, p, "labels_g42")
      assert(ops.StoreFs.readSmall(real, p).contains("labels_g42"))
      // A FileSystem whose open() throws like a throttled object store:
      // the status read succeeds (the object exists), the data read fails.
      val throwing = new org.apache.hadoop.fs.RawLocalFileSystem {
        override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int) =
          throw new java.io.IOException("injected: throttled")
      }
      throwing.initialize(java.net.URI.create("file:///"),
        spark.sparkContext.hadoopConfiguration)
      assert(ops.StoreFs.readSmall(throwing, p).isEmpty,
        "an unreadable manifest must read as absent, not fail the caller")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
