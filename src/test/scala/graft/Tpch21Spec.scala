package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_tpch21's per-order test, `min(supp) < max(supp) AND min(late) =
  * max(late)` with `culprit = min(late)`, against the set-aggregate form
  * it replaced (`countDistinct(supp) >= 2 AND size(collect_set(late)) = 1`,
  * culprit the set's one element), kept here as the reference. Hand-built
  * orders cover one supplier, two late suppliers, exactly one late
  * supplier, a late supplier on several lines, and null suppliers and
  * ship dates. */
class Tpch21Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(day).atStartOfDay())

  private val Late = 100 // days after the order date: past the 90-day cut
  private val OnTime = 10

  /** (o_orderkey, o_orderstatus) — every order is dated day 0. */
  private val orderRows = Seq(
    1L -> "F", // one supplier, late
    2L -> "F", // two suppliers, both late
    3L -> "F", // two suppliers, exactly one late
    4L -> "F", // the late supplier on several lines, one of them on time
    5L -> "F", // a late line with a null supplier beside one late supplier
    6L -> "F", // a null ship date on the other supplier's line
    7L -> "F", // one supplier plus a null supplier: not multi-supplier
    8L -> "F", // two on-time suppliers plus a late null supplier
    9L -> "O") // exactly one late supplier, but the order is open

  /** (l_orderkey, l_suppkey, days shipped after the order date). */
  private val lineRows: Seq[(Long, Option[Long], Option[Int])] = Seq(
    (1L, Some(10L), Some(Late)), (1L, Some(10L), Some(Late)),
    (2L, Some(10L), Some(Late)), (2L, Some(20L), Some(Late)),
    (3L, Some(10L), Some(OnTime)), (3L, Some(20L), Some(Late)),
    (4L, Some(30L), Some(Late)), (4L, Some(30L), Some(Late)), (4L, Some(30L), Some(OnTime)),
    (4L, Some(10L), Some(OnTime)),
    (5L, None, Some(Late)), (5L, Some(10L), Some(Late)), (5L, Some(20L), Some(OnTime)),
    (6L, Some(20L), None), (6L, Some(10L), Some(Late)),
    (7L, Some(10L), Some(Late)), (7L, None, Some(OnTime)),
    (8L, Some(10L), Some(OnTime)), (8L, Some(20L), Some(OnTime)), (8L, None, Some(Late)),
    (9L, Some(10L), Some(OnTime)), (9L, Some(20L), Some(Late)))

  /** The set-aggregate form of q_tpch21 over the same tables. */
  private def reference(dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate")
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    val perOrder = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late_supp",
        when(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          col("l_suppkey")))
      .groupBy("o_orderkey")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        collect_set(col("late_supp")).as("late_supps"))
      .filter(col("n_supp") >= 2 && size(col("late_supps")) === 1)
    val supp = Tables(spark, dir, "supplier").select("s_suppkey", "s_name")
    perOrder.select(col("late_supps").getItem(0).as("culprit"))
      .groupBy("culprit").agg(count(lit(1)).as("numwait"))
      .join(supp, col("culprit") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(25)
  }

  test("min/max per-order test equals the countDistinct/collect_set form on edge cases") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_tpch21_")
    try {
      orderRows.map { case (k, st) => (k, st, ts(0)) }
        .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
        .write.parquet(s"$dir/orders.parquet")
      lineRows.map { case (k, sk, days) => (k, sk, days.map(ts)) }
        .toDF("l_orderkey", "l_suppkey", "l_shipdate")
        .write.parquet(s"$dir/lineitem.parquet")
      Seq(10L, 20L, 30L).map(k => (k, s"Supplier#$k")).toDF("s_suppkey", "s_name")
        .write.parquet(s"$dir/supplier.parquet")

      def rows(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val got = rows(ops.Tpch.tpch21(spark, dir.toString))
      assert(got == rows(reference(dir.toString)))
      // Orders 5 and 6 blame supplier 10, order 3 blames 20, order 4 blames
      // 30; every other order is single-supplier, all-late, no-late or open.
      assert(got == Seq((10L, "Supplier#10", 2L), (20L, "Supplier#20", 1L),
        (30L, "Supplier#30", 1L)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
