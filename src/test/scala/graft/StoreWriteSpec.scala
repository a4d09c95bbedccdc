package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import TestSpark.{stageTasks, withConf, withTables}

/** The store's one bucketed write ([[ops.TextOps.bucketedWriter]]) runs at
  * most one task per task slot, and still lays every bucket out as one
  * file, sorted by its bucket columns and holding exactly the rows its
  * hash names — the layout a bucketed join reads with no Exchange and,
  * under the legacy ordering conf, no Sort. */
class StoreWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fps(ids: Range) = spark.range(ids.start, ids.end, 1, 4)
    .select(md5(col("id").cast("string")).as("fp"), col("id"))

  private val bucketId = """.*_(\d+)(?:\..*)?$""".r

  /** bucket -> data file names of the table stored under `dir`. */
  private def layout(dir: java.io.File): Map[Int, Seq[String]] =
    dir.listFiles().toSeq.map(_.getName).filter(_.startsWith("part-"))
      .groupBy { case bucketId(b) => b.toInt }

  test("a 16-bucket write runs one task per slot; each bucket is one file of its hash's rows") {
    val Buckets = 16
    val slots = spark.sparkContext.defaultParallelism
    assert(slots == 4, s"fixture: the test session has 4 task slots, not $slots")
    withTables(2) { case (Seq(a, b), dir) =>
      val stages = stageTasks {
        ops.TextOps.bucketedWriter(fps(0 until 2000), Buckets, "fp")
          .option("path", s"$dir/a").mode("overwrite").saveAsTable(a)
      }
      assert(stages.nonEmpty && stages(stages.keys.max) == slots,
        s"the write stage must run one task per slot ($slots): stage -> tasks $stages")
      assert(stages.values.forall(_ <= slots), s"a stage ran more tasks than slots: $stages")

      val files = layout(new java.io.File(s"$dir/a"))
      assert(files.keySet == (0 until Buckets).toSet, s"every bucket non-empty: ${files.keySet}")
      assert(files.values.forall(_.size == 1), s"a bucket holds more than one file: $files")
      val misplaced = spark.read.parquet(s"$dir/a")
        .withColumn("file_bucket",
          regexp_extract(col("_metadata.file_name"), "_(\\d+)(?:\\..*)?$", 1).cast("int"))
        .filter(col("file_bucket") =!= pmod(hash(col("fp")), lit(Buckets)))
      assert(misplaced.isEmpty, s"rows outside their hash's bucket: ${misplaced.take(5).toSeq}")
      assert(spark.table(a).count() == 2000)

      ops.TextOps.bucketedWriter(fps(1000 until 3000), Buckets, "fp")
        .option("path", s"$dir/b").mode("overwrite").saveAsTable(b)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
        val joined = spark.table(a).join(spark.table(b), Seq("fp"))
        val plan = joined.queryExecution.executedPlan
        assert(plan.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
          .size == 1, s"expected one sort-merge join:\n$plan")
        assert(plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.isEmpty,
          s"a join of two bucketed store tables must not shuffle:\n$plan")
        assert(plan.collect { case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
          s"single-file sorted buckets must not be sorted again:\n$plan")
        assert(joined.count() == 1000)
      }
    }
  }

  test("a session-level maxRecordsPerFile does not split an appended bucket") {
    val Buckets = 4
    withTables(1) { case (Seq(t), dir) =>
      spark.sql(s"CREATE TABLE $t (fp STRING, id BIGINT) USING parquet " +
        s"CLUSTERED BY (fp) SORTED BY (fp) INTO $Buckets BUCKETS LOCATION '$dir/t'")
      withConf("spark.sql.files.maxRecordsPerFile" -> "10") {
        ops.TextOps.appendBucketed(spark, t, fps(0 until 400))
      }
      val files = layout(new java.io.File(s"$dir/t"))
      assert(files.keySet == (0 until Buckets).toSet, s"every bucket non-empty: ${files.keySet}")
      assert(files.values.forall(_.size == 1),
        s"an appended bucket of ~100 rows was split into several files: $files")
      assert(spark.table(t).count() == 400)
    }
  }
}
