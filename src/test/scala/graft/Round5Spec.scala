package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariant checks for the round-5 queries (TPC-H q17/q18 shapes, LATERAL
  * top-N, deterministic mode, bool aggregates, event-time RANGE frames, the
  * quality-gate/repetition/TF-IDF text ops, embedding norms). The DuckDB
  * oracle proves cross-engine equality; these prove the SEMANTICS are the
  * intended ones on the small fixture. */
class Round5Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  test("q_tpch18: every surviving order clears the quantity threshold") {
    val rows = ops.Tpch.tpch18(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("sum_qty") > 250L))
  }

  test("q_tpch17: small-quantity filter is strictly below 20% of part avg") {
    // Recompute n_small independently through plain SQL over the same
    // parquet tables (the 5*qty*cnt < sum_qty predicate spelled out from
    // scratch) and require exact agreement with the DataFrame pipeline.
    val r = ops.Tpch.tpch17(spark, sf).collect().head
    val expected = spark.sql(
      s"""WITH a AS (SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS sq,
         |                  count(*) AS c
         |           FROM parquet.`$sf/lineitem.parquet` GROUP BY l_partkey)
         |SELECT count(*) AS n
         |FROM parquet.`$sf/lineitem.parquet` l
         |JOIN parquet.`$sf/part.parquet` p
         |  ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#4'
         |JOIN a ON l.l_partkey = a.l_partkey
         |WHERE CAST(l.l_quantity AS BIGINT) * 5 * a.c < a.sq""".stripMargin)
      .head.getLong(0)
    assert(r.getAs[Long]("n_small") == expected,
      s"n_small=${r.getAs[Long]("n_small")} but independent SQL recount=$expected")
    assert(math.abs(r.getAs[Double]("avg_yearly") * 7 - r.getAs[Double]("total_price")) < 1e-6)
  }

  test("q_lateral: at most 2 orders per customer, descending by price") {
    val df = ops.Extended.lateralTopN(spark, sf)
    val perCust = df.groupBy("c_custkey").count().agg(max("count")).head.getLong(0)
    assert(perCust <= 2L)
    val one = df.filter(col("c_custkey") === df.select("c_custkey").head.getLong(0))
      .select("o_totalprice").collect().map(_.getDouble(0))
    assert(one.sameElements(one.sortBy(-_)))
  }

  test("q_mode: exactly one winner per status, and it is the max count") {
    val winners = ops.Extended.modeAgg(spark, sf).collect()
    val counts = Tables(spark, sf, "orders")
      .groupBy("o_orderstatus", "o_orderpriority").count()
      .groupBy("o_orderstatus").agg(max("count").as("mx")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(winners.map(_.getString(0)).distinct.length == winners.length)
    winners.foreach(r => assert(r.getAs[Long]("cnt") == counts(r.getString(0))))
  }

  test("q_wrange_time: every event counts itself in its trailing hour") {
    val df = ops.Extended.timeRangeWindow(spark, sf)
    assert(df.filter(col("n_1h") < 1).isEmpty)
  }

  test("q_quality_filter: keep implies every individual rule") {
    val kept = ops.TextOps.qualityFilter(spark, sf).filter(col("keep"))
    assert(kept.filter(col("n_words") < 30 || col("n_words") > 80
      || col("mean_wlen") < 3.0 || col("mean_wlen") > 6.0
      || col("stop_cnt") * 10 > col("n_words") * 3).isEmpty)
  }

  test("q_repetition: ratio is a valid fraction and witness count is positive") {
    val df = ops.TextOps.repetition(spark, sf)
    assert(df.filter(col("rep_ratio") <= 0.0 || col("rep_ratio") > 1.0).isEmpty)
    assert(df.filter(col("bg_cnt") < 1).isEmpty)
  }

  test("q_tfidf: top-3 per doc, ranks 1..3, score matches tf*N/df") {
    val df = ops.TextOps.tfidf(spark, sf)
    val n = Tables(spark, sf, "documents").count()
    assert(df.groupBy("doc_id").count().filter(col("count") > 3).isEmpty)
    assert(df.filter(col("rk") < 1 || col("rk") > 3).isEmpty)
    assert(df.filter(
      abs(col("score") - col("tf") * lit(n).cast("double") / col("df")) > 1e-12).isEmpty)
  }

  test("q_embed_norm: norms are positive and usable is consistent") {
    val df = ops.Similarity.embedNorm(spark, sf)
    assert(df.filter(col("l2_norm") <= 0.0).isEmpty)
    assert(df.filter(col("usable") =!= (col("l2_norm") >= 0.5))
      .filter(abs(col("l2_norm") - 0.5) > 1e-3).isEmpty)
  }

  test("q_pack: bins conserve tokens and stay near the 512 budget") {
    val bins = ops.TextOps.pack(spark, sf).collect()
    val total = Tables(spark, sf, "documents")
      .select(sum(size(split(col("text"), " ")).cast("long"))).head.getLong(0)
    assert(bins.map(_.getAs[Long]("bin_tokens")).sum == total)
    // A bin only opens once the previous is full, so every bin except each
    // stratum's last must reach the budget (its last doc may straddle).
    val lastBin = bins.groupBy(_.getString(0)).view.mapValues(_.map(_.getAs[Long]("bin")).max)
    bins.filter(r => r.getAs[Long]("bin") < lastBin(r.getString(0)))
      .foreach(r => assert(r.getAs[Long]("bin_tokens") >= 512 - 120)) // max doc ≈ 120 tokens
  }

  test("q_chunk: chunks cover every token with the configured overlap") {
    val chunks = ops.TextOps.chunk(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    chunks.groupBy(_.getLong(0)).foreach { case (id, cs) =>
      val n = docs(id)
      val covered = cs.map { c =>
        val i = c.getAs[Int]("chunk_id"); (i * 24 + 1, i * 24 + c.getAs[Int]("chunk_tokens"))
      }.sortBy(_._1)
      assert(covered.head._1 == 1 && covered.last._2 == n, s"doc $id gaps at the ends")
      covered.sliding(2).foreach { case Array((_, e1), (s2, _)) => assert(s2 <= e1 + 1)
        case _ => () }
    }
  }

  test("q_stratified: strata counts respect the per-language rate ordering") {
    val rows = ops.TextOps.stratified(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("cnt") > 0))
  }

  test("q_bool_agg: flags agree with independently computed extremes") {
    val rows = ops.Extended.boolAgg(spark, sf).collect()
    val byFlag = Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(max("l_discount").as("mx_d"), max("l_tax").as("mx_t")).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    rows.foreach { r =>
      val (mxD, mxT) = byFlag(r.getString(0))
      assert(r.getAs[Boolean]("all_low_disc") == (mxD <= 0.05))
      assert(r.getAs[Boolean]("any_high_tax") == (mxT > 0.07))
    }
  }
}
