package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Round-11: the bucketed-store lifecycle as a PROPERTY, not three pinned
  * schedules (VERDICT r10 #4). Round10Spec pins build → 3 appends → 1
  * compaction; here ScalaCheck drives randomized schedules — N appends
  * (novel, overlapping, or fully-duplicate batches), a random compaction
  * threshold, compactions interleaved anywhere — and after EVERY step
  * checks the two invariants the maintained store promises:
  *
  *  1. "probe plan is store-side Sort-free iff every bucket is a single
  *     file" (Spark's reader only trusts write-time sortBy order for
  *     single-file buckets), and the store side never pays an Exchange.
  *  2. Content: the store always holds exactly the distinct union of every
  *     batch ever offered, and a final threshold-1 compaction restores the
  *     all-single-file, sort-free layout bit-exactly.
  */
class Round11Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Buckets = 4
  private val tblCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Driver-side union-find over a collected pair list — the
    * engine-independent reference for the adversarial CC tests below
    * (what the DuckDB mirror computes via its recursive CTE, here exact
    * and iteration-free). Returns id -> component minimum. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  // ---- adversarial deep chains through the REGISTERED cluster queries ----
  // StarCcSpec pins the probe-then-star fallback on planted edge lists;
  // these two tests force it through q_dedup_clusters / q_embed_clusters
  // themselves (VERDICT r10 #5): a corpus whose near-dup pair graph is a
  // chain deeper than the 8-round min-label probe, so the registered path
  // MUST take the star branch — and its labels still match an
  // engine-independent union-find over the same verified pairs.

  test("q_dedup_clusters on a deep near-dup chain: star fallback fires, labels match union-find") {
    import spark.implicits._
    // Sliding-window corpus: doc i = 50 consecutive tokens starting at 4*i
    // from an unbounded unique-token stream. Token-set Jaccard between docs
    // i and j is (50-4d)/(50+4d) for d=|i-j|: 0.85 at d=1, 0.72 at d=2,
    // 0.61 at d=3, 0.51 (< 0.6 threshold) at d=4 — so verified edges reach
    // at most 3 steps and a 60-doc chain has label-propagation depth
    // ~20 > the 8-round probe.
    val n = 60
    val docRows = (0 until n).map { i =>
      val text = (4 * i until 4 * i + 50).map(t => s"tok$t").mkString(" ")
      (i.toLong, text, "en", "chain", text.length.toLong)
    }
    val docsDf = docRows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.tempDir("graft_chain_docs_")
    try {
      docsDf.coalesce(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // The pair graph the registered query will cluster, recomputed via
      // the same public pipeline, to (a) prove the corpus forces the
      // fallback and (b) feed the union-find reference.
      val pairs = ops.Dedup.exactJaccard(
          ops.Dedup.candidatePairs(ops.Dedup.minhashBands(ops.Dedup.minhashSignatures(docsDf))),
          docsDf)
        .filter(col("jaccard") >= 0.6).select("doc_a", "doc_b")
      val collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert((0 until n - 1).forall(i =>
          collected.contains((i.toLong, i.toLong + 1))),
        "every adjacent pair must be LSH-found and verified (chain intact)")
      assert(collected.forall { case (a, b) => math.abs(a - b) <= 3 },
        "no pair may span more than 3 steps (chain must stay deep)")
      val (_, strategy) = ops.Dedup.ccAutoWithStrategy(pairs, 8)
      assert(strategy == "star",
        "the 8-round min-label probe must fail on this chain and switch to star contraction")
      // The REGISTERED query over the planted corpus.
      val got = SparkEntry.queries("q_dedup_clusters")(spark, dir.toString)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(collected),
        "registered q_dedup_clusters labels must match union-find on the adversarial chain")
      assert(got.values.toSet == Set(0L), "one chain, one component, canonical = min id")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("q_embed_clusters on a deep embedding chain: star fallback fires, labels match union-find") {
    import spark.implicits._
    // Geodesic chain on the unit sphere: vector i sits at arc length 0.1*i
    // along a path that walks coordinate axes (64-dim, never revisits an
    // axis, so no wrap-around shortcuts). Within a segment
    // cos(v_i, v_j) = cos(0.1*|i-j|), but ACROSS a segment corner the chord
    // angle is smaller than the path arc (two vectors straddling a corner
    // share one axis: cos = cos(a)·cos(b) for arc remainders a, b, which
    // stays >= 0.40 out to a+b ≈ 1.77 rad ≈ 17 steps vs the within-segment
    // 11) — r11 hardcoded the within-segment bound as the precondition and
    // the assert fired on a 13-step corner pair at cos ≈ 0.42. The
    // admissible span is therefore DERIVED from the constructed vectors
    // below, and the depth guard (8-round probe cannot reach the chain end)
    // is asserted against that measured span, not a formula. All
    // coordinates are non-negative and only 2 are nonzero, so the sign-LSH
    // buckets degenerate (bands over all-zero coords collide for every
    // pair) — candidate generation is complete and the verified pair graph
    // is EXACTLY the cosine-threshold graph: fully deterministic.
    val n = 200
    val dim = 64
    val step = 0.1
    val vecRows = (0 until n).map { i =>
      val phi = step * i
      val seg = (phi / (math.Pi / 2)).toInt
      val beta = phi - seg * (math.Pi / 2)
      val v = Array.fill(dim)(0.0f)
      v(seg) = math.cos(beta).toFloat
      v(seg + 1) = math.sin(beta).toFloat
      (i.toLong, v.toSeq, "chain")
    }
    val embDf = vecRows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val dir = TestSpark.tempDir("graft_chain_emb_")
    try {
      embDf.coalesce(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val bits = ops.Similarity.autoBits(n)
      val pairs = ops.Similarity.embedNearDupBanded(embDf, 0.40, bits = bits)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert((0 until n - 1).forall(i => collected.contains((i.toLong, i.toLong + 1))),
        "every adjacent vector pair must verify above threshold (chain intact)")
      // Measured admissible span: the largest chain distance at which ANY
      // constructed pair scores >= the registered threshold (tiny slack so
      // driver-side double arithmetic can only OVER-estimate the span —
      // both asserts below get conservative, never flaky).
      val unit = vecRows.map(_._2.map(_.toDouble).toArray)
      def cosOf(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var k = 0
        while (k < a.length) { dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1 }
        dot / math.sqrt(na * nb)
      }
      val maxSpan = (1 until n)
        .filter(d => (0 until n - d).exists(i => cosOf(unit(i), unit(i + d)) >= 0.40 - 1e-6))
        .max
      assert(collected.forall { case (a, b) => math.abs(a - b) <= maxSpan },
        s"no verified pair may span more than the measured admissible $maxSpan steps")
      assert((n - 1).toLong > 8L * maxSpan,
        s"chain must be deeper than the probe: ${n - 1} steps vs 8 rounds x $maxSpan-step hops")
      val (_, strategy) = ops.Dedup.ccAutoWithStrategy(pairs, 8)
      assert(strategy == "star",
        "the 8-round min-label probe must fail on this chain and switch to star contraction")
      val got = SparkEntry.queries("q_embed_clusters")(spark, dir.toString)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(collected),
        "registered q_embed_clusters labels must match union-find on the adversarial chain")
      assert(got.values.toSet == Set(0L), "one chain, one component, canonical = min id")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def withProbeConfs[A](f: => A): A = {
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def bucketFiles(tbl: String): Map[String, Seq[java.io.File]] = {
    val loc = new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
        .filter(col("col_name") === "Location")
        .head().getString(1)))
    val bucketId = """.*_(\d+)(?:\..*)?$""".r
    loc.listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .groupBy(f => f.getName match {
        case bucketId(b) => b
        case n => fail(s"unexpected data file name (no _NNNN bucket suffix): $n")
      })
  }

  /** Store side of a forced sort-merge anti-join probe of `tbl`. */
  private def probeStoreSide(tbl: String) = {
    import spark.implicits._
    val batch = (1 to 20).map(i => s"probe_fp_$i").toDF("fp")
    val plan = batch.join(spark.table(tbl), Seq("fp"), "left_anti")
      .queryExecution.executedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(joins.size == 1, s"expected one sort-merge anti-join, got:\n$plan")
    joins.head.right
  }

  /** Invariant 1, checked after every schedule step. */
  private def checkProbeShape(tbl: String): Unit = withProbeConfs {
    val multiFile = bucketFiles(tbl).exists(_._2.size > 1)
    val storeSide = probeStoreSide(tbl)
    val sorts = storeSide.collect {
      case s: org.apache.spark.sql.execution.SortExec => s }
    val exchanges = storeSide.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.isEmpty,
      "the store side must NEVER re-shuffle: its buckets are the join partitions")
    assert(sorts.nonEmpty == multiFile,
      s"store-side Sort (${sorts.nonEmpty}) must appear exactly when a bucket " +
        s"has >1 file ($multiFile)")
  }

  test("store lifecycle property: Sort iff multi-file bucket; compaction restores sort-free; content is the running union (50 schedules)") {
    import spark.implicits._
    // A schedule: batches of fingerprint ids (overlap freely across
    // batches via the small id space), a compaction threshold, and for
    // each batch a coin deciding whether a compaction runs right after it.
    val gen = for {
      nBatches <- Gen.choose(1, 4)
      batches <- Gen.listOfN(nBatches,
        Gen.nonEmptyListOf(Gen.choose(0, 80)))
      threshold <- Gen.choose(1, 3)
      compactAfter <- Gen.listOfN(nBatches, Gen.prob(0.4))
    } yield (batches, threshold, compactAfter)

    val prop = Prop.forAllNoShrink(gen) { case (batches, threshold, compactAfter) =>
      val tbl = s"graft_prop_store_${tblCounter.incrementAndGet()}"
      val dir = TestSpark.tempDir("graft_prop_store_")
      def fps(ids: Seq[Int]) =
        ids.toDF("id").select(md5(col("id").cast("string")).as("fp"))
      try {
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        fps(batches.head).distinct()
          .repartition(Buckets, col("fp"))
          .write.bucketBy(Buckets, "fp").sortBy("fp")
          .option("path", s"$dir/t").mode("overwrite").saveAsTable(tbl)
        checkProbeShape(tbl)
        var offered: Set[Int] = batches.head.toSet
        batches.zip(compactAfter).drop(1).foreach { case (batch, doCompact) =>
          ops.TextOps.appendNovel(spark, tbl, fps(batch).distinct())
          offered ++= batch.toSet
          checkProbeShape(tbl)
          if (doCompact) {
            ops.TextOps.compactStore(spark, tbl, threshold)
            val over = bucketFiles(tbl).filter(_._2.size > threshold)
            assert(over.isEmpty,
              s"post-compaction(threshold=$threshold) oversized buckets: ${over.keys}")
            checkProbeShape(tbl)
          }
        }
        // Final threshold-1 compaction must restore the day-1 layout...
        ops.TextOps.compactStore(spark, tbl, 1)
        val multi = bucketFiles(tbl).filter(_._2.size > 1)
        assert(multi.isEmpty, s"threshold-1 compaction left multi-file buckets: ${multi.keys}")
        checkProbeShape(tbl)
        // ...and the content must be exactly the distinct union of every
        // batch offered, in write-time sortBy order per bucket.
        val got = spark.table(tbl).collect().map(_.getString(0)).toSet
        val want = fps(offered.toSeq).collect().map(_.getString(0)).toSet
        assert(got == want,
          s"store content diverged: ${got.size} stored vs ${want.size} offered")
        true
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(50).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }
}
