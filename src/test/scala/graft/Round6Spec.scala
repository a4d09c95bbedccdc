package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the round-6 additions: incremental dedup, the IVF
  * k-means training step, the CSV source round-trip, the bounded top-k
  * Aggregator rewrite, and the q_quality_filter fixture invariant. The
  * DuckDB oracle proves cross-engine equality; these prove the SEMANTICS
  * are the intended ones on the small fixture. */
class Round6Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  test("q_dedup_incremental: survivors + canonical set partition the corpus content") {
    // The incremental run must lose nothing and duplicate nothing: the
    // canonical (existing-corpus) fingerprints and the batch survivors are
    // disjoint, and their union is exactly the full-corpus distinct content
    // that one-shot q_dedup_exact sees.
    val fps = Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"),
        pmod(ops.Dedup.portableHash(col("doc_id").cast("string")), lit(2L)).as("b"))
    val canon = fps.filter(col("b") === 0).select("fp").distinct()
      .collect().map(_.getString(0)).toSet
    val survivors = ops.TextOps.dedupIncremental(spark, sf)
      .select("fp").collect().map(_.getString(0)).toSet
    val all = ops.TextOps.dedupExact(spark, sf)
      .select(md5(col("text").cast("binary")).as("fp"))
      .collect().map(_.getString(0)).toSet
    assert((canon & survivors).isEmpty, "a surviving batch doc duplicates canonical content")
    assert((canon | survivors) == all,
      s"incremental union misses ${(all -- canon -- survivors).size} fingerprints / " +
        s"invents ${((canon | survivors) -- all).size}")
  }

  test("kmeansStep: one Lloyd round pulls a centroid onto a planted cluster and IVF recalls it") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 16
    val q = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    // Planted cluster: tiny perturbations of q. Seed centroids are NOISE
    // vectors only — before training no centroid represents the cluster;
    // after one Lloyd step the seed nearest the cluster has absorbed its
    // members and moved to (roughly) their mean, so probing the trained
    // cells recalls every planted neighbor.
    val planted = (1L to 5L).map(i => (i, q.map(x => x + math.signum(x) * 0.01f * i)))
    val noise = (100L until 200L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val emb = (planted ++ noise).toDF("vec_id", "embedding")
    val seed = noise.take(8).map { case (i, v) => (i, v) }.toDF("cent_id", "cemb")
    val trained = ops.Similarity.kmeansStep(emb, seed).localCheckpoint()
    // Structural sanity: centroids keep the dimension, never multiply.
    val tc = trained.select(col("cent_id"), size(col("cemb")).as("d")).collect()
    assert(tc.length <= 8 && tc.forall(_.getAs[Int]("d") == dim))
    val qdf = Seq(Tuple1(q)).toDF("qemb")
    val top5 = ops.Similarity.ivfSearch(emb, trained, qdf, nProbe = 2, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(top5 == Set(1L, 2L, 3L, 4L, 5L),
      s"trained IVF should recall the planted cluster, got $top5")
  }

  test("incremental near-dup screen flags planted cross-corpus near-dups and passes novel docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today " +
      "while the happy farmer watches the field from the old wooden gate nearby"
    val existing = Seq(
      (1L, base),
      (2L, "completely unrelated text about database engines and query plans here"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, base + " tonight"), // near-dup of existing doc 1
      (101L, "a genuinely novel document with entirely different words and content"),
    ).toDF("doc_id", "text")
    val out = ops.Dedup.incrementalNearDupScreen(existing, batch)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(!out(100L)._3, s"planted near-dup should NOT be novel: ${out(100L)}")
    assert(out(100L)._2 >= 0.6)
    assert(out(101L)._3 && out(101L)._1 == 0L,
      s"unrelated doc should be novel with zero candidates: ${out(101L)}")
  }

  test("kmeansTrain: two Lloyd iterations keep the planted cluster recalled") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val dim = 16
    val q = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val planted = (1L to 5L).map(i => (i, q.map(x => x + math.signum(x) * 0.01f * i)))
    val noise = (100L until 200L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val emb = (planted ++ noise).toDF("vec_id", "embedding")
    val seed = noise.take(8).toDF("cent_id", "cemb")
    val trained = ops.Similarity.kmeansTrain(emb, seed, iters = 2)
    val qdf = Seq(Tuple1(q)).toDF("qemb")
    val top5 = ops.Similarity.ivfSearch(emb, trained, qdf, nProbe = 2, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(top5 == Set(1L, 2L, 3L, 4L, 5L),
      s"trained IVF (2 iterations) should recall the planted cluster, got $top5")
  }

  test("q_jsonl_scan round-trips region through the JSON-lines source bit-exactly") {
    val viaJson = ops.Extended.jsonlScan(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    val direct = Tables(spark, sf, "region")
      .select("r_regionkey", "r_name").orderBy("r_regionkey").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(viaJson.toSeq == direct.toSeq && viaJson.nonEmpty)
  }

  test("contamination screen finds a benchmark passage planted in a corpus doc") {
    import spark.implicits._
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
      "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two three four " +
      "five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val bench = Seq((1L, passage)).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "unrelated filler words " + passage + " trailing content here"),
      (11L, "a completely different document with no overlap whatsoever at all"),
    ).toDF("doc_id", "text")
    val hits = ops.TextOps.contaminationScreen(bench, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.map(h => (h._1, h._2)).toSet == Set((1L, 10L)),
      s"expected only the planted (1,10) contamination pair, got ${hits.toSeq}")
    assert(hits.head._3 >= 1L)
  }

  test("PII scrub redacts planted emails, URLs, and phone numbers") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to alice.b+spam@corp.example.com or bob@ex.org for info"),
      (2L, "docs at https://example.com/a?b=1 and nothing else"),
      (3L, "call 555-123-4567 or 555 987 6543 right now"),
      (4L, "no pii in this one at all"),
    ).toDF("doc_id", "text")
      .select(col("doc_id"), ops.TextOps.scrubPii(col("text")).as("clean"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "write to <EMAIL> or <EMAIL> for info")
    assert(m(2L) == "docs at <URL> and nothing else")
    assert(m(3L) == "call <PHONE> or <PHONE> right now")
    assert(m(4L) == "no pii in this one at all")
  }

  test("q_quality_filter fixture invariant: n_chars equals the text length") {
    // mean_wlen is derived as (n_chars - (n_words - 1)) / n_words, which is
    // only the true mean word length if n_chars == length(text) and tokens
    // are single-space separated. The oracle mirrors the formula, so a
    // violating fixture would pass the cross-engine check while being
    // silently wrong — this pins the invariant the formula rests on.
    val bad = Tables(spark, sf, "documents")
      .filter(length(col("text")) =!= col("n_chars") ||
        col("text").contains("  ") || col("text").startsWith(" ") || col("text").endsWith(" "))
      .count()
    assert(bad == 0L, s"$bad documents violate the n_chars/single-space invariant")
  }

  test("q_udaf_topk (bounded insertion) still equals its window-query twin") {
    val agg = ops.Custom.udafTopK(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3), r.getInt(4)))
    val win = spark.sql(
      s"""SELECT l_returnflag, CAST(rnk AS INT) AS rnk, l_extendedprice, l_orderkey, l_linenumber
         |FROM (SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
         |             row_number() OVER (PARTITION BY l_returnflag
         |               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
         |      FROM parquet.`$sf/lineitem.parquet`) t
         |WHERE rnk <= 3 ORDER BY l_returnflag, rnk""".stripMargin).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3), r.getInt(4)))
    assert(agg.toSeq == win.toSeq)
  }

  test("q_csv_scan round-trips nation through the CSV source bit-exactly") {
    val viaCsv = ops.Extended.csvScan(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    val direct = Tables(spark, sf, "nation")
      .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(viaCsv.toSeq == direct.toSeq)
  }

  test("staged sources live under the store root, which is deleted at JVM exit") {
    val root = new java.io.File(ops.TextOps.storeRoot).getCanonicalFile.toPath
    val files = ops.Extended.csvScan(spark, sf).inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      val p = new java.io.File(new java.net.URI(f)).getCanonicalFile.toPath
      assert(p.startsWith(root) && p.getParent.getFileName.toString.startsWith("graft_stage_"),
        s"staged file $p is not in a graft_stage_* directory under $root")
    }
  }
}
