package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

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
  * Relation memo: resolving a parquet directory is per-call driver work
  * that every query would pay before it even plans: schema inference (a
  * Spark job reading footers), `DataSource` resolution and the file
  * index's listing of the directory. Each table is resolved once, and the
  * resolved `HadoopFsRelation` (its schema and its file index, with the
  * listed files) is kept. The memo is keyed on the session, the qualified
  * path, the path's modification time and the parquet confs that change
  * what inference returns ([[SchemaConfs]]; `events` sets `nanosAsLong`
  * itself). Every call still `getFileStatus`es the path, so a rewritten
  * table is resolved again: a directory's time moves whenever a file in
  * it is added or removed, as every Spark write of it does. Only the
  * relation is shared: every call wraps it in a fresh `LogicalRelation`
  * (`baseRelationToDataFrame`), whose output attributes get fresh ids, so
  * a query that loads one table twice (a self-join) resolves each side's
  * columns without ambiguity.
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

  private case class RelationKey(session: SparkSession, path: String, modTime: Long,
                                 confs: Seq[String])

  private val relations = new ConcurrentHashMap[RelationKey, BaseRelation]()

  /** A fresh `LogicalRelation` over `path`'s memoized parquet relation. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status = ops.StoreFs.fs(spark, p).getFileStatus(p)
    val key = RelationKey(spark, status.getPath.toString, status.getModificationTime,
      SchemaConfs.map(spark.conf.get))
    val rel = relations.computeIfAbsent(key, _ =>
      spark.read.parquet(path).queryExecution.analyzed
        .collectFirst { case r: LogicalRelation => r.relation }
        .getOrElse(throw new IllegalStateException(s"$path: not a file relation")))
    spark.baseRelationToDataFrame(rel)
  }
}
