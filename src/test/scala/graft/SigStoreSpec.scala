package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A streamed embedding row (top-level for encoder derivation). */
final case class StreamVec(vec_id: Long, embedding: Array[Float])

/** The persistent near-dup signature store ([[ops.Dedup.buildSigStore]] /
  * appendSigStore / screenAgainstStore) and its streaming form
  * ([[streaming.Streams.storeNearDedup]]): signatures computed once per
  * document ever, batch-only shuffles on both probe joins, store growth
  * by bucketed append honoring each table's own catalog spec. Built on a
  * NON-default width so the appends exercise the catalog-spec path. */
class SigStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ~0.9 token-set jaccard variants and a disjoint novel doc: similar
  // pairs collide in at least one of the 16 LSH bands with overwhelming
  // probability (P = 1-(1-j^4)^16 ≈ 0.9999 at j=0.9).
  private val base0 = "the quick brown fox jumps over the lazy dog while rain falls on the quiet green hills tonight"
  private val near0 = base0.replace("tonight", "today")
  private val near0b = base0.replace("rain", "snow")
  private val novel1 = "entirely different words about compilers registers lattices and the festival of winter lights downtown"

  private def docsDF(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("batch: store-backed screen matches the recomputing screen, probes shuffle the batch side only, append absorbs novel docs") {
    val Buckets = 4
    val base = "graft_sigstore_t1"
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore_")
    try {
      val existing = docsDF(1L -> base0,
        2L -> "solar panels hum beside the canal while engineers tune turbines and measure voltage under grey skies")
      ops.Dedup.buildSigStore(spark, base, dir.toString, existing, Buckets)

      val batch = docsDF(10L -> near0, 11L -> novel1)
      val screened = ops.Dedup.screenAgainstStore(spark, base, batch)

      // Identical contract to the recomputing screen on the same split.
      val expect = ops.Dedup.incrementalNearDupScreen(existing, batch)
        .orderBy("doc_id").collect().toSeq
      assert(screened.orderBy("doc_id").collect().toSeq == expect)

      val rows = screened.orderBy("doc_id").collect()
      assert(!rows(0).getAs[Boolean]("novel"), "near-dup of a stored doc must screen as dup")
      assert(rows(0).getAs[Double]("best_jaccard") >= 0.6)
      assert(rows(1).getAs[Boolean]("novel"), "unrelated doc must screen novel")

      // Store sides of BOTH probe joins are exchange-free: their buckets
      // are the join partitions (forced sort-merge so broadcast can't hide
      // a missing distribution).
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
               "spark.sql.adaptive.enabled" -> "false") {
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        val plan = ops.Dedup.screenAgainstStore(spark, base, batch)
          .queryExecution.executedPlan
        // Each store scan must reach its JOIN without crossing an exchange
        // (its buckets ARE the join partitions); exchanges ABOVE the join
        // shuffle join output — the batch side — and are expected.
        def paths(p: SparkPlan, up: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("graft_sigstore")) =>
            Seq(up)
          case other => other.children.flatMap(c => paths(c, other :: up))
        }
        val storePaths = paths(plan, Nil)
        assert(storePaths.size >= 2, s"expected bands + toks store scans in:\n$plan")
        storePaths.foreach { up =>
          val belowJoin = up.takeWhile(!_.isInstanceOf[SortMergeJoinExec])
          assert(belowJoin.size < up.size, s"store scan not under any sort-merge join:\n$plan")
          assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
            s"store side must reach its join exchange-free:\n$plan")
        }
      }

      // Append the novel doc; a re-screen of the same batch now finds BOTH
      // docs in the store (11 at jaccard 1.0) — nothing novel left.
      ops.Dedup.appendSigStore(spark, base, docsDF(11L -> novel1))
      val again = ops.Dedup.screenAgainstStore(spark, base, batch)
        .orderBy("doc_id").collect()
      assert(again.forall(!_.getAs[Boolean]("novel")))
      assert(again(1).getAs[Double]("best_jaccard") == 1.0)

      // Appended files honor the tables' 4-bucket catalog spec.
      for (suffix <- Seq("bands", "toks")) {
        val loc = new java.io.File(new java.net.URI(
          spark.sql(s"DESCRIBE TABLE EXTENDED ${base}_$suffix")
            .filter(col("col_name") === "Location").head().getString(1)))
        val bucketId = """.*_(\d+)(?:\..*)?$""".r
        val ids = loc.listFiles().toSeq
          .filter(f => f.isFile && f.getName.startsWith("part-"))
          .map(_.getName match {
            case bucketId(b) => b.toInt
            case n => fail(s"unexpected data file name: $n")
          })
        assert(ids.nonEmpty && ids.forall(_ < Buckets),
          s"${base}_$suffix appends must use the $Buckets-bucket spec, saw $ids")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${base}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${base}_toks")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("streaming: cross-batch near-dups dropped via the store, within-batch greedy min-id keeps, zero streaming state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = "graft_sigstore_t2"
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstream_")
    try {
      ops.Dedup.buildSigStore(spark, base, dir.toString,
        docsDF(1L -> base0), buckets = 4)

      val verdicts = mutable.Map.empty[Long, Map[Long, Boolean]]
      val stream = MemoryStream[StreamDoc]
      val q = streaming.Streams.storeNearDedup(stream.toDF(), base) { (screened, id) =>
        verdicts.synchronized {
          verdicts(id) = screened.collect()
            .map(r => r.getLong(0) -> r.getAs[Boolean]("novel")).toMap
        }
      }
      try {
        // Batch 1: near-dup of the stored doc (20 — dropped vs store), a
        // within-batch near-dup pair (21/22 — 22 dropped greedily, 21
        // survives and enters the store), genuinely novel 21 only.
        stream.addData(StreamDoc(20, near0), StreamDoc(21, novel1),
          StreamDoc(22, novel1.replace("downtown", "uptown")))
        q.processAllAvailable()
        // Batch 2: near-dup of batch 1's SURVIVOR (30 ~ 21: dropped via
        // the store the stream itself maintained; last-token edit so only
        // one shingle differs — candidate probability ~1), plus one novel.
        stream.addData(StreamDoc(30, novel1.replace("downtown", "tonight")),
          StreamDoc(31, "completely fresh sentence mentioning harbors tides lighthouses and gulls at dawn"))
        q.processAllAvailable()

        val v = verdicts.synchronized(verdicts.toMap)
        val Seq(b1, b2) = v.toSeq.sortBy(_._1).map(_._2)
        assert(b1 == Map(20L -> false, 21L -> true, 22L -> true),
          s"vs-STORE verdicts for batch 1: $b1")
        assert(b2 == Map(30L -> false, 31L -> true),
          s"batch 2 must see 21's signatures in the store: $b2")

        // Store toks table = day-0 doc + the survivors (21, not 22; 31).
        val ids = spark.table(s"${base}_toks")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(ids == Set(1L, 21L, 31L), s"store ids: $ids")

        assert(q.lastProgress.stateOperators.isEmpty,
          "storeNearDedup must keep no streaming state - the store is the state")
      } finally q.stop()
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${base}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${base}_toks")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  private def withConf[A](confs: (String, String)*)(f: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // ---- IVF store maintenance (the ANN tier's append path, r12) ----

  test("ivf maintenance: append lands inside the cell layout, pruning holds, answers equal a rebuild") {
    val sf = s"${SparkEntry.FixtureRoot}/sf0.001"
    // The registered q_ivf_maint stages half + appends half (memoized per
    // JVM); force the staging now so the file layout is inspectable.
    val maintained = ops.Similarity.ivfMaint(spark, sf)
    val rows = maintained.collect().toSeq

    // Answers equal both the single-shot store and the on-the-fly search —
    // the maintained store serves the same index.
    assert(rows == ops.Similarity.ivfPruned(spark, sf).collect().toSeq,
      "append-maintained store must serve the same answers as a rebuilt store")
    assert(rows == ops.Similarity.ivfAnn(spark, sf).collect().toSeq)

    // The probe plan still prunes: cell IN (...) is a PartitionFilter.
    val p = ops.Similarity.ivfMaint(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && """cell#\d+L? IN""".r.findFirstIn(p).isDefined,
      s"maintained store's probe must keep the partition filter:\n$p")

    // The append wrote real per-cell files INTO the partition dirs (every
    // data file sits under cell=N; touched cells are multi-file: one from
    // staging + one from the append), and no stray top-level files exist.
    val stageDir = new java.io.File(maintained.queryExecution.analyzed.collectLeaves()
      .collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.head.toUri
      }.getOrElse(fail("no file relation under the maintained probe")))
    val cellDirs = stageDir.listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, s"expected cell= partition dirs under $stageDir")
    assert(stageDir.listFiles().filter(_.isFile).forall(!_.getName.startsWith("part-")),
      "no data files may land outside the cell layout")
    assert(cellDirs.exists(_.listFiles().count(_.getName.startsWith("part-")) > 1),
      "an appended cell must hold its staging file AND its append file")
  }

  // ---- embedding band store (the embedding tier's incremental screen, r12) ----

  test("embed band store: screen verdicts, exchange-free store probes, append absorbs novel vectors") {
    import spark.implicits._
    val base = "graft_ebandstore_t1"
    val dir = java.nio.file.Files.createTempDirectory("graft_ebandstore_")
    try {
      def v(id: Long, coords: Seq[Float]) = (id, coords.toArray)
      val e1 = v(1L, Seq.fill(32)(1.0f))
      val existing = Seq(e1).toDF("vec_id", "embedding")
      ops.Similarity.buildEmbedBandStore(spark, base, dir.toString, existing, buckets = 4)

      // n1: signs identical to e1 (every band bucket collides), cos ~1 → dup.
      // c1: shares band 0's bucket only, cos = -0.5 → candidate but novel.
      // v1: no shared bucket at all → zero candidates, novel with best -1.
      val n1 = v(10L, Seq.tabulate(32)(i => if (i % 2 == 0) 0.9f else 1.1f))
      val c1 = v(11L, Seq.fill(8)(1.0f) ++ Seq.fill(24)(-1.0f))
      val v1 = v(12L, Seq.fill(32)(-1.0f))
      val batch = Seq(n1, c1, v1).toDF("vec_id", "embedding")

      val rows = ops.Similarity.screenEmbedStore(spark, base, batch)
        .orderBy("vec_id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L))
      assert(!rows(0).getAs[Boolean]("novel") && rows(0).getAs[Double]("best_cos") >= 0.99)
      assert(rows(1).getAs[Boolean]("novel") && rows(1).getLong(1) == 1L &&
        math.abs(rows(1).getAs[Double]("best_cos") + 0.5) < 1e-9,
        s"band-0 collision must verify as candidate-but-novel: ${rows(1)}")
      assert(rows(2).getAs[Boolean]("novel") && rows(2).getLong(1) == 0L &&
        rows(2).getAs[Double]("best_cos") == -1.0)

      // Store sides of both probes reach their joins exchange-free.
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
               "spark.sql.adaptive.enabled" -> "false") {
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        val plan = ops.Similarity.screenEmbedStore(spark, base, batch)
          .queryExecution.executedPlan
        def paths(p: SparkPlan, up: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("graft_ebandstore")) =>
            Seq(up)
          case other => other.children.flatMap(c => paths(c, other :: up))
        }
        val sp = paths(plan, Nil)
        assert(sp.size >= 2, s"expected ebands + evecs store scans in:\n$plan")
        sp.foreach { up =>
          val belowJoin = up.takeWhile(!_.isInstanceOf[SortMergeJoinExec])
          assert(belowJoin.size < up.size && !belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
            s"embed store side must reach its join exchange-free:\n$plan")
        }
      }

      // Append the novel vectors (4-bucket catalog spec honored); the same
      // batch re-screens all-dup: each novel vector now finds itself.
      ops.Similarity.appendEmbedBandStore(spark, base,
        Seq(c1, v1).toDF("vec_id", "embedding").localCheckpoint())
      val again = ops.Similarity.screenEmbedStore(spark, base, batch)
        .orderBy("vec_id").collect()
      assert(again.forall(!_.getAs[Boolean]("novel")),
        s"after append every batch vector is a store dup: ${again.mkString(",")}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${base}_ebands")
      spark.sql(s"DROP TABLE IF EXISTS ${base}_evecs")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("streaming embed dedup: store dups and within-batch near-dups dropped, survivors enter the store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = "graft_ebandstore_t2"
    val dir = java.nio.file.Files.createTempDirectory("graft_ebandstream_")
    try {
      def arr(coords: Seq[Float]) = coords.toArray
      val e1 = arr(Seq.fill(32)(1.0f))
      // A: orthogonal to e1 but band-2 collides (dims 16-23 positive) —
      // candidate vs the store, cosine 0 → novel. B: alternating signs,
      // bucket 170 in every band — collides with nothing here.
      val a = arr(Seq.fill(16)(-1.0f) ++ Seq.fill(16)(1.0f))
      val aJit = arr(Seq.fill(16)(-0.9f) ++ Seq.fill(16)(1.1f))
      val aJit2 = arr(Seq.fill(16)(-1.1f) ++ Seq.fill(16)(0.9f))
      val b = arr(Seq.tabulate(32)(i => if (i % 2 == 0) -1.0f else 1.0f))
      ops.Similarity.buildEmbedBandStore(spark, base, dir.toString,
        Seq((1L, e1)).toDF("vec_id", "embedding"), buckets = 4)

      val verdicts = mutable.Map.empty[Long, Map[Long, Boolean]]
      val stream = MemoryStream[StreamVec]
      val q = streaming.Streams.embedStoreDedup(stream.toDF(), base) { (screened, id) =>
        verdicts.synchronized {
          verdicts(id) = screened.collect()
            .map(r => r.getLong(0) -> r.getAs[Boolean]("novel")).toMap
        }
      }
      try {
        // 20 ~ e1 (store dup); 21 = A novel (band-2 candidate, cos 0);
        // 22 ~ 21 within-batch (greedy: larger id dropped).
        stream.addData(StreamVec(20, arr(Seq.fill(32)(0.95f))),
          StreamVec(21, a), StreamVec(22, aJit))
        q.processAllAvailable()
        // 30 ~ the batch-1 SURVIVOR 21 (dropped via the store the stream
        // itself maintains); 31 collides with nothing → novel.
        stream.addData(StreamVec(30, aJit2), StreamVec(31, b))
        q.processAllAvailable()

        val v = verdicts.synchronized(verdicts.toMap)
        val Seq(b1, b2) = v.toSeq.sortBy(_._1).map(_._2)
        assert(b1 == Map(20L -> false, 21L -> true, 22L -> true),
          s"vs-STORE verdicts for batch 1: $b1")
        assert(b2 == Map(30L -> false, 31L -> true),
          s"batch 2 must see 21's bands in the store: $b2")

        val ids = spark.table(s"${base}_evecs")
          .select("vec_id").collect().map(_.getLong(0)).toSet
        assert(ids == Set(1L, 21L, 31L), s"store ids: $ids")
        assert(q.lastProgress.stateOperators.isEmpty)
      } finally q.stop()
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${base}_ebands")
      spark.sql(s"DROP TABLE IF EXISTS ${base}_evecs")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("streaming ivf ingest: micro-batches land in the cell layout, content equals batch assignment, zero streaming state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // 4 axis-aligned centroids; vectors cluster by dominant coordinate.
    val cent = (0 until 4).map { c =>
      (c.toLong, Array.tabulate(8)(i => if (i == c) 1.0f else 0.0f))
    }.toDF("cent_id", "cemb")
    def vec(id: Long, axis: Int, wobble: Float) = StreamVec(id,
      Array.tabulate(8)(i => if (i == axis) 1.0f else if (i == (axis + 1) % 8) wobble else 0.0f))

    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_stream_").toString + "/store"
    // Day-0 staging: two vectors.
    ops.Similarity.ivfAssign(
      Seq(vec(1, 0, 0.1f), vec(2, 1, 0.1f)).toDF("vec_id", "embedding"), cent)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)

    val stream = MemoryStream[StreamVec]
    val q = streaming.Streams.ivfIngest(stream.toDF(), cent, dir)
    try {
      stream.addData(vec(10, 0, 0.2f), vec(11, 2, 0.05f))
      q.processAllAvailable()
      stream.addData(vec(20, 3, 0.3f))
      q.processAllAvailable()

      // Store content = batch assignment of ALL vectors (staged + streamed).
      val all = Seq(vec(1, 0, 0.1f), vec(2, 1, 0.1f), vec(10, 0, 0.2f),
        vec(11, 2, 0.05f), vec(20, 3, 0.3f)).toDF("vec_id", "embedding")
      val wantCells = ops.Similarity.ivfAssign(all, cent)
        .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // The partition column's value is directory-inferred (int), so cast.
      val got = spark.read.parquet(dir)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == wantCells, s"streamed store content: $got vs batch assignment $wantCells")

      // Files live only under cell= dirs; the twice-hit cell 0 is multi-file.
      val root = new java.io.File(dir)
      assert(root.listFiles().filter(_.isFile).forall(!_.getName.startsWith("part-")))
      val cell0 = new java.io.File(root, "cell=0")
      assert(cell0.isDirectory &&
        cell0.listFiles().count(_.getName.startsWith("part-")) > 1,
        "cell 0 must hold its staging file and batch-1's append file")

      assert(q.lastProgress.stateOperators.isEmpty,
        "ivfIngest must keep no streaming state - the store is the state")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
    }
  }
}
