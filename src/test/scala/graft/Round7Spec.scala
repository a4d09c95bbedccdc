package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the round-7 additions: the Bloom-prefiltered
  * incremental dedup's one-sided-error guarantee, the BloomBits sketch's
  * merge semantics, and the BPE-ish pretokenizer's piece accounting. The
  * DuckDB oracle proves cross-engine equality; these prove the SEMANTICS
  * hold under adversarial sizing. */
class Round7Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  test("bloom dedup: output identical to the plain anti-join at production sizing") {
    val plain = ops.TextOps.dedupIncremental(spark, sf).collect().toSeq
    val bloomed = ops.TextOps.dedupBloom(spark, sf).collect().toSeq
    assert(bloomed == plain)
  }

  test("bloom dedup: output UNCHANGED even when the filter is tiny (massive FP rate)") {
    // 64 bits for ~250 canonical fps: nearly every probe reads "maybe
    // present", so nearly every batch row falls through to the anti-join —
    // and the result must still be exactly the plain anti-join's. This is
    // the one-sided-error invariant: false positives cost shuffle, never
    // correctness; true negatives are guaranteed correct.
    val plain = ops.TextOps.dedupIncremental(spark, sf).collect().toSeq
    val tiny = ops.TextOps.dedupBloomSized(64, 3)(spark, sf).collect().toSeq
    assert(tiny == plain)
  }

  test("BloomBits: no false negatives, and merge ORs partials") {
    val b = new ops.Custom.BloomBits(1 << 10, 3)
    val items = (1L to 100L).map(i => (i * 2654435761L, i * 40503L + 7L))
    // Build in two halves merged together — the map-side-combine path.
    val half1 = items.take(50).foldLeft(b.zero)(b.reduce)
    val half2 = items.drop(50).foldLeft(b.zero)(b.reduce)
    val merged = b.merge(half1, half2)
    val whole = items.foldLeft(b.zero)(b.reduce)
    assert(merged.toSeq == whole.toSeq, "merge must equal single-pass build")
    // Every inserted item must probe positive (no false negatives).
    def contains(bits: Array[Long], h1: Long, h2: Long): Boolean =
      (0 until 3).forall { i =>
        val idx = java.lang.Math.floorMod(h1 + i * h2, 1L << 10).toInt
        (bits(idx >> 6) >> (idx & 63) & 1L) == 1L
      }
    assert(items.forall { case (h1, h2) => contains(whole, h1, h2) })
  }

  test("dup_ngrams: a planted shared 8-gram flags in BOTH docs; a unique doc reads 0") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha beta gamma $shared tail0 tail1 tail2"),
      (1L, s"$shared other words entirely from here on"),
      (2L, "totally unique words one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_dupng_").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ops.TextOps.dupNgrams(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(0L) >= 1 && out(1L) >= 1,
      "the shared 8-gram must count as corpus-duplicated in both docs")
    assert(out(2L) == 0, "a unique doc must have zero duplicated grams")
  }

  test("PQ self-encoding: every codebook vector quantizes to its own code in all 4 subspaces") {
    // The codebook IS the 16 lowest-id vectors' subvectors, so each of them
    // is at exact distance 0 from its own codeword — any other winner means
    // the distance expression or tie order is broken.
    val rows = ops.Similarity.pqEncode(spark, sf)
      .filter(col("vec_id") < 16).collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      val id = r.getLong(0).toInt
      val codes = Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(codes.forall(_ == id),
        s"codebook vector $id must self-encode, got $codes")
    }
  }

  test("pretokenizer: piece counts reconstruct the text's non-space length") {
    // The BPE-ish pieces (with their leading spaces) plus whitespace runs
    // partition the text exactly: concatenating all matches restores it.
    val pat = "'(s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
    val bad = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"),
        concat_ws("", regexp_extract_all(col("text"), lit(pat), lit(0))).as("rebuilt"))
      .filter(col("rebuilt") =!= col("text"))
      .count()
    assert(bad == 0L, "pretokenizer must partition the text losslessly")
  }

  test("pretokenizer: contraction split matches GPT-2 pretokenization on a known case") {
    import spark.implicits._
    val pat = "'(s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
    val pieces = Seq("it's 42 engines, isn't it?").toDF("t")
      .select(regexp_extract_all(col("t"), lit(pat), lit(0)).as("p"))
      .collect()(0).getSeq[String](0)
    assert(pieces == Seq("it", "'s", " 42", " engines", ",", " isn", "'t", " it", "?"))
  }
}
