package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * The reference engine's only source is an in-memory row-store scanned in
  * 1024-row morsels (reference `src/executor/mod.rs:250-276`,
  * `src/releation/mod.rs:20-26`; SURVEY.md §2). Here a "scan" is a parquet
  * read: Spark's vectorized reader supplies the columnar batches, and
  * Catalyst pushes filters + prunes columns into the scan — at 100 TB the
  * scan is where most of the win lives, so every query in this library
  * selects explicit columns early so `ReadSchema` stays minimal.
  *
  * Schema memo: a parquet read without a schema infers one by reading
  * footers in a Spark job, which every query would pay before it even
  * plans (one job per table it loads). Each table's schema is inferred once
  * and every later call reads with `spark.read.schema(s)`, which runs no
  * job. The memo is keyed on the qualified path, the path's modification
  * time (a rewritten table is inferred again; a directory's time moves
  * whenever a file in it is added or removed, as every Spark write of it
  * does) and the parquet confs that change what inference returns
  * ([[SchemaConfs]]; `events` sets `nanosAsLong` itself). Only the schema
  * is shared: every call still builds a fresh relation with fresh
  * attribute ids, so a query that loads one table twice (q_tpch21 reads
  * `lineitem` three times) self-joins cleanly.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped in two physical layouts across driver data
      // generations: parquet TIMESTAMP(NANOS) (readable only as a raw long
      // via the legacy conf — ScaleUp-derived dirs preserve that long), and
      // TIMESTAMP(MICROS, isAdjustedToUTC=false), which reads natively as
      // TIMESTAMP_NTZ. Normalize BOTH to Spark's session-timezone
      // TimestampType (sessions here run UTC, so the instants are
      // identical): the streaming tier requires TimestampType for
      // watermarks/windows, and it keeps every events-derived output the
      // same type across data generations.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = read(spark, s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          // Integral DIV, not `/`: epoch-nanos (~1.7e18) exceed double's
          // 2^53 mantissa; float division silently loses microseconds.
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else {
      read(spark, s"$dir/$name.parquet")
    }

  /** Session confs that change the schema parquet inference returns: the
    * footer type mappings, and which footers are read. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  private case class SchemaKey(path: String, modTime: Long, confs: Seq[String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** A fresh parquet relation over `path`, read with its memoized schema. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val status = fs.getFileStatus(p)
    val key = SchemaKey(status.getPath.toString, status.getModificationTime,
      SchemaConfs.map(spark.conf.get))
    val schema = schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }
}
