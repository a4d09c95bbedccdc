package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sources & sinks beyond the driver's parquet: csv and json round-trips
  * (SURVEY.md §2.2 "Scans / sources" + "Sinks" — the reference has only an
  * in-memory table source and an in-memory result sink,
  * `/root/reference/src/executor/mod.rs:250-276, :205-207`). */
class SinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sample = {
    import spark.implicits._
    Seq((1L, "alpha", 1.5), (2L, "beta", -2.25), (3L, "gamma", 0.0))
      .toDF("id", "name", "score")
  }

  test("parquet sink/source round-trip preserves schema and rows") {
    val dir = TestSpark.tempDir("graft_parquet").toString
    sample.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).orderBy("id")
    // parquet reads back as nullable — compare names and types.
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      sample.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().toSeq == sample.orderBy("id").collect().toSeq)
  }

  test("csv sink/source round-trip with header and inferred schema") {
    val dir = TestSpark.tempDir("graft_csv").toString
    sample.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read
      .option("header", "true").option("inferSchema", "true")
      .csv(dir).orderBy("id")
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    assert(back.count() == 3)
    assert(back.select(sum(col("score"))).collect().head.getDouble(0) == -0.75)
  }

  test("json-lines sink/source round-trip") {
    val dir = TestSpark.tempDir("graft_json").toString
    sample.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir).orderBy("id")
    assert(back.count() == 3)
    assert(back.filter(col("name") === "beta").collect().head.getAs[Double]("score") == -2.25)
  }

  test("orc sink/source round-trip") {
    val dir = TestSpark.tempDir("graft_orc").toString
    sample.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir).orderBy("id")
    assert(back.count() == 3)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      sample.schema.map(f => (f.name, f.dataType)))
  }

  test("text sink/source round-trip (one line per row)") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_text").toString
    Seq("the quick fox", "jumps over", "the lazy dog").toDF("value")
      .write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
    assert(back.count() == 3)
    assert(back.select(sum(length(col("value")))).collect().head.getLong(0)
      == ("the quick fox" + "jumps over" + "the lazy dog").length)
  }

  test("binaryFile source: the media-ingestion path reads whole files as binary rows") {
    val dir = TestSpark.tempDir("graft_bin")
    val payloads = Map("a.bin" -> Array[Byte](1, 2, 3), "b.bin" -> Array[Byte](9, 8, 7, 6))
    payloads.foreach { case (name, bytes) =>
      Files.write(dir.resolve(name), bytes)
    }
    // binaryFile is how raw media (images/audio/video) enters a multimodal
    // pipeline: (path, modificationTime, length, content) — downstream the
    // content column feeds the Multimodal.decode plumbing.
    val back = spark.read.format("binaryFile").load(dir.toString)
    assert(back.columns.toSet == Set("path", "modificationTime", "length", "content"))
    val got = back.collect()
      .map(r => r.getAs[String]("path").split('/').last -> r.getAs[Array[Byte]]("content").toSeq)
      .toMap
    assert(got == payloads.map { case (k, v) => k -> v.toSeq })
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = TestSpark.tempDir("graft_part").toString
    sample.withColumn("part", col("id") % 2)
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("part") === 1)
    // Partition pruning: only the part=1 directory is listed in the scan.
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(pruned.collect().map(_.getAs[Long]("id")).toSet == Set(1L, 3L))
    assert(!scanDesc.contains("part=0"))
  }
}
