package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the corpus-curation additions: BPE pair counts,
  * vocabulary coverage, mixing weights, per-source provenance stats, and
  * near-dup cluster representative selection. Cross-engine equality is the
  * DuckDB oracle's job; these pin the MEANING of each statistic. */
class CorpusOpsSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  private val plantedDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  private def planted(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_corpus_")
    plantedDirs += dir
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir.toString
  }

  override def afterAll(): Unit = {
    plantedDirs.foreach { d =>
      java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    super.afterAll()
  }

  test("bpe_pairs: counts adjacent pairs per token occurrence, skips 1-char tokens") {
    // "aa" x3 -> pair "aa" x3; "ab" x1 -> "ab" x1; "a" contributes nothing.
    val dir = planted(Seq((0L, "aa aa a"), (1L, "aa ab")))
    val out = ops.TextOps.bpePairs(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("aa" -> 3L, "ab" -> 1L))
  }

  test("bpe_pairs: a 3-char token yields both overlapping pairs") {
    val dir = planted(Seq((0L, "abc")))
    val out = ops.TextOps.bpePairs(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("ab" -> 1L, "bc" -> 1L))
  }

  test("vocab_coverage: thresholds are monotone and bounded by the vocab size") {
    val r = ops.TextOps.vocabCoverage(spark, sf).collect()(0)
    val Seq(nTotal, vocab, v50, v75, v90, v95, v99) =
      (0 to 6).map(i => r.getLong(i))
    assert(nTotal > vocab, "corpus tokens must exceed distinct tokens here")
    assert(1L <= v50 && v50 <= v75 && v75 <= v90 && v90 <= v95 && v95 <= v99)
    assert(v99 <= vocab)
  }

  test("vocab_coverage: exact on a hand-computable corpus") {
    // counts: a=4, b=2, c=1, d=1 (total 8). cum: 4, 6, 7, 8 ->
    // 50% at rank 1, 75% at rank 2, 90%/95% at rank 3 (7*100 >= 8*90? 700>=720 no -> rank 4... recompute:
    // cum*100 >= total*p: rank1 400>=400 (50); rank2 600>=600 (75); rank3 700 >= 720? no; rank4 800 -> 90,95,99.
    val dir = planted(Seq((0L, "a a b c"), (1L, "a a b d")))
    val r = ops.TextOps.vocabCoverage(spark, dir).collect()(0)
    assert((0 to 6).map(i => r.getLong(i)) == Seq(8L, 4L, 1L, 2L, 4L, 4L, 4L))
  }

  test("mix_weights: weights sum to 1 and upsample the rarer language") {
    val rows = ops.TextOps.mixWeights(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-5)
    // alpha < 1 compresses the distribution: a lower-count language gets
    // MORE epochs over its natural share, and epoch order inverts count order.
    for (Seq(a, b) <- rows.toSeq.combinations(2)) {
      if (a._2 < b._2) assert(a._4 >= b._4,
        s"rarer ${a._1} must get >= epochs than ${b._1}")
      if (a._2 > b._2) assert(a._4 <= b._4)
    }
  }

  test("source_stats: partitions the corpus and bounds the language spread") {
    val rows = ops.TextOps.sourceStats(spark, sf).collect()
    val total = Tables(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum == total)
    assert(rows.forall { r => r.getLong(2) >= 1 && r.getLong(2) <= 5 })
    assert(rows.forall { r => r.getLong(4) >= 0 && r.getLong(4) <= r.getLong(1) })
  }

  test("outliers: Tukey fences bound each tail by a quartile's mass") {
    val rows = ops.Scalars.outliers(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, hi, lo, frac) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      // > q3 + 1.5*IQR implies > q3, which at most 25% of values exceed
      // (interpolated quartile, so no +1 tie slack needed on the high side).
      assert(hi <= n / 4 + 1 && lo <= n / 4 + 1)
      assert(frac == hi.toDouble / n)
    }
  }

  test("priority_sample: fixed size, deterministic, and plans as a top-k (no full sort)") {
    val a = ops.TextOps.prioritySample(spark, sf).collect()
    val b = ops.TextOps.prioritySample(spark, sf).collect()
    assert(a.length == 25 && a.toSeq == b.toSeq)
    val plan = ops.TextOps.prioritySample(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"fixed-size sample must be a per-partition top-k, got:\n$plan")
  }

  test("cluster_keep: the representative is the longest member, ties to min id") {
    val labels = ops.Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val chars = Tables(spark, sf, "documents").select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCluster = labels.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1) }
    val out = ops.Dedup.clusterKeep(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (cluster, keepId, keepChars, nMembers, nDropped, clusterChars) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val members = byCluster(cluster)
      assert(members.contains(keepId), s"keep_id $keepId must be in cluster $cluster")
      val best = members.maxBy(m => (chars(m), -m))
      assert(keepId == best && keepChars == chars(best))
      assert(nMembers == members.length && nDropped == nMembers - 1)
      assert(clusterChars == members.map(chars).sum)
    }
    assert(out.map(_.getLong(0)).toSet == byCluster.keySet)
  }
}
