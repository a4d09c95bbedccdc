package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout scale proofs — the two layout decisions that matter most
  * at 100 TB, pinned as plan assertions:
  *
  *  1. BUCKETING: fact⋈fact co-located join. Both tables bucketed (and
  *     sorted) by the join key with the same bucket count → the sort-merge
  *     join reads bucket i against bucket i with ZERO exchanges — the
  *     shuffle is paid once at write time, amortized over every subsequent
  *     join. This is the production answer to "the daily lineitem⋈orders
  *     shuffle dominates the pipeline".
  *
  *  2. PARTITION PRUNING: a date-partitioned fact table scanned with a
  *     date predicate must show the predicate as a PartitionFilter (whole
  *     directories skipped at planning time), not a post-scan Filter over
  *     all data.
  *
  * These are spec-level (they write fixture tables to the test warehouse);
  * registered queries stay read-only over the driver's parquet.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  test("bucketed fact-fact join: zero exchanges, zero sorts in the join plan") {
    Tables(spark, sf, "orders")
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    Tables(spark, sf, "lineitem")
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Force the shuffle-join path so the assertion is about bucketing,
      // not about one side happening to broadcast at this fixture size.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("l_quantity").as("sum_qty"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), "expected the sort-merge path")
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        "bucketed join must not shuffle either side")
      assert(p.contains("SelectedBucketsCount"), "scan must report bucket pruning metadata")
      // And the bucketed result equals the plain-parquet join's result.
      val expected = Tables(spark, sf, "lineitem")
        .join(Tables(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("sum_qty"))
        .orderBy("o_orderpriority").collect().toSeq
      assert(joined.orderBy("o_orderpriority").collect().toSeq == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("date-partitioned table: the date predicate prunes partitions at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year")
      .parquet(dir)
    val q = spark.read.parquet(dir).filter(col("o_year") === 1997)
      .agg(count(lit(1)).as("cnt"))
    val p = q.queryExecution.explainString(FormattedMode)
    assert(p.contains("PartitionFilters: [isnotnull(o_year"),
      "year predicate must prune at the directory level")
    assert(!p.contains("PushedFilters: [IsNotNull(o_year"),
      "partition predicate must not degrade to a data filter")
    val expected = Tables(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(q.collect()(0).getLong(0) == expected)
  }
}
