package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `compactStore` rewrites every oversized bucket of a table in one Spark
  * write. Pinned here: each rewritten row lands in the file of the bucket
  * its hash names, buckets under the threshold are left byte-for-byte
  * alone, and the number of jobs does not grow with the number of
  * rewritten buckets. */
class CompactStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Buckets = 8
  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  private def fps(ids: Range) = {
    import spark.implicits._
    ids.toDF("id").select(md5(col("id").cast("string")).as("fp"))
  }

  private def bucketOf(c: org.apache.spark.sql.Column) = pmod(hash(c), lit(Buckets))

  /** A `Buckets`-wide fingerprint store, then one append whose rows hash
    * only to `grow` — so exactly those buckets hold two files. */
  private def withStore[A](grow: Set[Int])(f: (String, java.io.File) => A): A = {
    val tbl = s"graft_compact_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_compact_")
    try {
      fps(0 until 400).repartition(Buckets, col("fp"))
        .write.bucketBy(Buckets, "fp").sortBy("fp")
        .option("path", s"$dir/t").mode("overwrite").saveAsTable(tbl)
      ops.TextOps.appendBucketed(spark, tbl,
        fps(1000 until 1400).filter(bucketOf(col("fp")).isin(grow.toSeq: _*)))
      f(tbl, new java.io.File(s"$dir/t"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  private val bucketId = """.*_(\d+)(?:\..*)?$""".r

  /** Names of every table in the session catalog. */
  private def tables(): Set[String] = spark.catalog.listTables().collect().map(_.name).toSet

  /** bucket -> (file name -> length) of the table's data files. */
  private def layout(loc: java.io.File): Map[Int, Map[String, Long]] =
    loc.listFiles().toSeq.filter(f => f.isFile && f.getName.startsWith("part-"))
      .groupBy(f => f.getName match { case bucketId(b) => b.toInt })
      .map { case (b, fs) => b -> fs.map(f => f.getName -> f.length).toMap }

  test("rewritten rows land in their hash's bucket; untouched buckets keep their files") {
    val grow = Set(2, 5)
    withStore(grow) { (tbl, loc) =>
      val before = layout(loc)
      assert(before.keySet == (0 until Buckets).toSet, s"fixture: every bucket non-empty: ${before.keySet}")
      assert(before.filter(_._2.size > 1).keySet == grow,
        "fixture: exactly the grown buckets are oversized, and bucket 0 is not one")
      val want = spark.table(tbl).collect().map(_.getString(0)).toSet
      val catalog = tables()

      assert(ops.TextOps.compactStore(spark, tbl) == grow.size)

      val after = layout(loc)
      assert(after.keySet == before.keySet)
      assert(after.values.forall(_.size == 1), s"a bucket holds more than one file: $after")
      for (b <- before.keySet -- grow)
        assert(after(b) == before(b), s"bucket $b was under the threshold and must be untouched")
      val misplaced = spark.read.parquet(loc.toString)
        .select(col("fp"), col("_metadata.file_name").as("file"))
        .withColumn("file_bucket",
          regexp_extract(col("file"), "_(\\d+)(?:\\..*)?$", 1).cast("int"))
        .filter(col("file_bucket") =!= bucketOf(col("fp")))
      assert(misplaced.isEmpty, s"rows outside their hash's bucket: ${misplaced.collect().toSeq}")
      assert(spark.table(tbl).collect().map(_.getString(0)).toSet == want)
      assert(!loc.list().exists(_.startsWith(".graft_compact_")), "staging directory left behind")
      assert(tables() == catalog, "staging table left behind")
    }
  }

  test("one write for the whole table: the job count does not grow with the oversized buckets") {
    def jobs(grow: Set[Int]): Int = withStore(grow) { (tbl, _) =>
      val sc = spark.sparkContext
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.ListenerDrain(sc)
      sc.addSparkListener(listener)
      try {
        assert(ops.TextOps.compactStore(spark, tbl, dedupKeys = Seq("fp")) == grow.size)
        org.apache.spark.ListenerDrain(sc)
      } finally sc.removeSparkListener(listener)
      n.get
    }
    val two = jobs(Set(3, 6))
    val all = jobs((0 until Buckets).toSet)
    assert(two == all, s"jobs grew with the rewritten buckets: 2 -> $two, $Buckets -> $all")
    // Under AQE: one job for the shuffle's map stage, one for the write.
    assert(all <= 2, s"compaction ran $all jobs")
  }

  /** Copy `src` into the table directory as `name` — a file the bucketed
    * writer would never produce. */
  private def plant(loc: java.io.File, src: String, name: String): Unit =
    java.nio.file.Files.copy(new java.io.File(loc, src).toPath, new java.io.File(loc, name).toPath)

  test("a data file with no bucket suffix fails naming the file and the table") {
    withStore(Set(1)) { (tbl, loc) =>
      plant(loc, layout(loc)(0).keys.head, "part-00000-stray.snappy.parquet")
      val e = intercept[RuntimeException](ops.TextOps.compactStore(spark, tbl))
      assert(e.getMessage.contains("part-00000-stray.snappy.parquet") && e.getMessage.contains(tbl),
        e.getMessage)
    }
  }

  test("appendBucketed refuses a table with no bucket spec, naming it, and writes nothing") {
    val tbl = s"graft_compact_plain_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_compact_plain_")
    try {
      fps(0 until 10).write.option("path", s"$dir/t").mode("overwrite").saveAsTable(tbl)
      val e = intercept[IllegalArgumentException](
        ops.TextOps.appendBucketed(spark, tbl, fps(10 until 20)))
      assert(e.getMessage.contains(tbl) && e.getMessage.contains("not a bucketed table"),
        e.getMessage)
      assert(spark.table(tbl).count() == 10)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("a table sorted by other than its bucket columns is refused before anything moves") {
    val tbl = s"graft_compact_sort_${ctr.incrementAndGet()}"
    val dir = TestSpark.tempDir("graft_compact_sort_")
    try {
      for (ids <- Seq((0L, 100L), (100L, 200L)))
        spark.range(ids._1, ids._2).select(md5(col("id").cast("string")).as("fp"), col("id"))
          .repartition(Buckets, col("fp"))
          .write.bucketBy(Buckets, "fp").sortBy("id")
          .option("path", s"$dir/t").mode("append").saveAsTable(tbl)
      val loc = new java.io.File(s"$dir/t")
      val before = layout(loc)
      assert(before.values.exists(_.size > 1), "fixture: some bucket holds two files")
      val e = intercept[IllegalArgumentException](ops.TextOps.compactStore(spark, tbl))
      assert(e.getMessage.contains(tbl) && e.getMessage.contains("sorts by (id)"), e.getMessage)
      assert(layout(loc) == before)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("rows filed under the wrong bucket refuse the compaction and move nothing") {
    withStore(Set(1)) { (tbl, loc) =>
      // Bucket 3's rows under bucket 2's suffix: rewriting bucket 2 would
      // route them to bucket 3, which is not being rewritten.
      val b3 = layout(loc)(3).keys.head
      plant(loc, b3, b3.replace("_00003.", "_00002."))
      val before = layout(loc)
      val catalog = tables()
      val e = intercept[RuntimeException](ops.TextOps.compactStore(spark, tbl))
      assert(e.getMessage.contains("bucket 3"), e.getMessage)
      assert(layout(loc) == before)
      assert(!loc.list().exists(_.startsWith(".graft_compact_")), "staging directory left behind")
      assert(tables() == catalog, "staging table left behind")
    }
  }
}
