package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` resolves each table's parquet relation once and reuses it from
  * then on. Pinned here: a repeated load runs no Spark job and lists no
  * files, the memoized read returns what a plain `spark.read.parquet`
  * returns, a rewritten table is resolved again (schema and rows), and
  * every call still gets its own attribute ids. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  private lazy val tables: Seq[String] =
    new java.io.File(sf).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  /** Spark jobs started while `f` runs. */
  private def jobs(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      f
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(struct(col("*"))))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  test("a repeated load runs no Spark job, for every fixture table") {
    assert(tables.toSet.contains("events") && tables.size >= 7, s"fixture tables: $tables")
    for (t <- tables) {
      Tables(spark, sf, t).schema
      val n = jobs(Tables(spark, sf, t).schema)
      assert(n == 0, s"loading $t again ran $n Spark jobs")
    }
  }

  test("a repeated load discovers no files, for every fixture table") {
    val discovered = org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED
    for (t <- tables) {
      Tables(spark, sf, t).schema
      val before = discovered.getCount
      Tables(spark, sf, t).schema
      assert(discovered.getCount == before,
        s"loading $t again discovered ${discovered.getCount - before} files")
    }
  }

  test("the memoized read returns the schema and rows of a plain parquet read") {
    for (t <- tables) {
      val path = s"$sf/$t.parquet"
      if (t == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val plain = spark.read.parquet(path)
      val memo = Tables.read(spark, path)
      assert(memo.schema == plain.schema, s"$t: schema")
      assert(digest(memo) == digest(plain), s"$t: (count, checksum)")
    }
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = TestSpark.tempDir("graft_tables_")
    try {
      val path = s"$dir/t.parquet"
      spark.range(3).select(col("id").cast("int").as("a"))
        .write.mode("overwrite").parquet(path)
      assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("a"))
      // Same schema, other files: only the rows tell a stale file index.
      spark.range(10, 14).select(col("id").cast("int").as("a"))
        .write.mode("overwrite").parquet(path)
      assert(digest(Tables(spark, dir.toString, "t")) == digest(spark.read.parquet(path)))
      spark.range(5).select(col("id").as("a"), col("id").cast("string").as("b"))
        .write.mode("overwrite").parquet(path)
      val again = Tables(spark, dir.toString, "t")
      assert(again.schema == spark.read.parquet(path).schema)
      assert(again.columns.toSeq == Seq("a", "b"))
      assert(digest(again) == digest(spark.read.parquet(path)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("events.ts is still a session-timezone TimestampType") {
    assert(Tables(spark, sf, "events").schema("ts").dataType == TimestampType)
  }

  test("two loads of one table are separate relations with disjoint attribute ids") {
    val a = Tables(spark, sf, "lineitem").queryExecution.analyzed.output.map(_.exprId).toSet
    val b = Tables(spark, sf, "lineitem").queryExecution.analyzed.output.map(_.exprId).toSet
    assert(a.nonEmpty && (a intersect b).isEmpty, s"shared attribute ids: ${a intersect b}")
  }
}
