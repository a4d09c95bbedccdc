package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` infers each table's parquet schema once and reads with it from
  * then on. Pinned here: a repeated load runs no Spark job, the memoized
  * read returns what a plain `spark.read.parquet` returns, a rewritten
  * table is inferred again, and every call still builds its own relation. */
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
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_")
    try {
      spark.range(3).select(col("id").cast("int").as("a"))
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("a"))
      spark.range(5).select(col("id").as("a"), col("id").cast("string").as("b"))
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val again = Tables(spark, dir.toString, "t")
      assert(again.schema == spark.read.parquet(s"$dir/t.parquet").schema)
      assert(again.columns.toSeq == Seq("a", "b"))
      assert(again.count() == 5)
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
