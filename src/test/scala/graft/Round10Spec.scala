package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 additions: bucketed-store compaction after day-N appends.
  * The append path (Round9Spec) lands one extra file per bucket per batch;
  * Spark's reader reports write-time sortBy order only for SINGLE-file
  * buckets, so without compaction the probe plan silently regains a
  * per-bucket Sort on day 3. These tests pin the full lifecycle:
  * multi-file buckets DO cost a store-side Sort, compaction restores the
  * one-file-per-bucket layout, and the post-compaction probe is again
  * Exchange-free AND Sort-free on the store side. */
class Round10Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = s"${SparkEntry.FixtureRoot}/sf0.001"

  /** The Round8Spec probe-plan recipe: forced sort-merge anti-join, AQE
    * off, reader trusting write-time bucket order where layout allows. */
  private def withProbeConfs[A](f: => A): A = {
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Store side (right) of the single sort-merge anti-join in a probe of
    * `tbl` by a small fresh batch. */
  private def probeStoreSide(tbl: String) = {
    val batch = Tables(spark, sf, "documents").limit(50)
      .select(md5(col("text").cast("binary")).as("fp"))
    val plan = batch.join(spark.table(tbl), Seq("fp"), "left_anti")
      .queryExecution.executedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(joins.size == 1, s"expected one sort-merge anti-join, got ${joins.size}")
    joins.head.right
  }

  private def bucketFiles(tbl: String): Map[String, Seq[java.io.File]] = {
    val loc = new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
        .filter(col("col_name") === "Location")
        .head().getString(1)))
    val bucketId = """.*_(\d+)(?:\..*)?$""".r
    loc.listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .groupBy(f => f.getName match { case bucketId(b) => b })
  }

  // ---- banded embed verify: no embeddings through the dedup shuffle ----

  test("banded near-dup: no exchange ABOVE the candidate join carries an embedding") {
    // The sf100 probe filled the disk on the cross-band dedup shuffle while
    // it still carried both embeddings per candidate pair. Post-fix, the
    // only array-typed exchanges are the banded vector rows FEEDING the
    // join; everything above it moves (vec_a, vec_b, cos) triples.
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = ops.Similarity.embedNearDup2(spark, sf).queryExecution.executedPlan
      val exchangesAboveJoin = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.collect {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
          }.nonEmpty => e
      }
      assert(exchangesAboveJoin.nonEmpty, "expected the dedup/sort exchanges above the join")
      for (e <- exchangesAboveJoin)
        assert(!e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"exchange above the candidate join must not carry embeddings: ${e.output.map(_.name)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  // ---- zero-shuffle winnowing (sf100 probe rewrite) ----

  test("winnow per-doc arrays are bit-identical to the window formulation") {
    import spark.implicits._
    // Fixture corpus + adversarial shapes: tiny docs (< w shingles, the
    // global-min fallback), heavy repetition (tie-breaking + distinct
    // collapse), and random token streams.
    val rnd = new scala.util.Random(7)
    val extra = Seq(
      1000001L -> "one",
      1000002L -> "a b",
      1000003L -> "a b c d",
      1000004L -> Seq.fill(40)("dup").mkString(" "),
      1000005L -> Seq.fill(200)(s"w${rnd.nextInt(5)}").mkString(" "),
      1000006L -> Seq.fill(300)(s"t${rnd.nextInt(1000)}").mkString(" "),
    ).toDF("doc_id", "text")
    val docs = Tables(spark, sf, "documents").select("doc_id", "text").unionByName(extra)
    val viaWindow = ops.TextOps.winnowSelections(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaArray = ops.TextOps.winnowPerDoc(docs)
      .select(col("doc_id"), explode(col("dsels")).as("k"))
      .select(col("doc_id"), expr("k >> 20").as("fp"),
        (lit(1048575L) - (col("k") % lit(1048576L))).as("selpos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaArray == viaWindow,
      "per-doc selection set must equal the window formulation exactly")
  }

  test("winnow fingerprints: zero-shuffle form equals the exploded groupBy reference") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val ref = ops.TextOps.winnowFingerprintsExploded(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = ops.TextOps.winnowFingerprints(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == ref)
  }

  test("winnow_true plan: NO shuffle before the output sort — the corpus never leaves its partitions") {
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = ops.TextOps.winnowTrue(spark, sf).queryExecution.executedPlan
      val hashEx = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      assert(hashEx.isEmpty,
        "the per-doc array form must not hash-shuffle the shingle set")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("store compaction: content survives 3 appends + compaction bit-exactly") {
    val store = ops.TextOps.dedupStoreCompact(spark, sf)
      .collect().map(_.getString(0)).toSeq
    val expected = Tables(spark, sf, "documents")
      .select(md5(col("text").cast("binary")).as("fp"))
      .distinct().orderBy("fp")
      .collect().map(_.getString(0)).toSeq
    assert(store == expected,
      "the compacted store must hold every distinct corpus fingerprint, sorted")
  }

  test("store compaction: every bucket is back to ONE file after 3 appends + compaction") {
    ops.TextOps.dedupStoreCompact(spark, sf).collect() // build + maintain + compact
    val tbl = ops.TextOps.canonStoreName(sf) + "_cmp"
    val multi = bucketFiles(tbl).filter(_._2.size > 1)
    assert(multi.isEmpty,
      s"compaction must leave one file per bucket, got multi-file buckets: ${multi.keys.toSeq.sorted}")
  }

  test("store compaction: the re-probe plan is STILL sort-free and exchange-free") {
    ops.TextOps.dedupStoreCompact(spark, sf).collect()
    val tbl = ops.TextOps.canonStoreName(sf) + "_cmp"
    withProbeConfs {
      val storeSide = probeStoreSide(tbl)
      assert(storeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.isEmpty,
        "compacted store must never re-shuffle: its buckets ARE the join partitions")
      assert(storeSide.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
        "one file per bucket + write-time sortBy: the post-compaction probe must not re-sort")
      val scans = storeSide.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.head.bucketedScan,
        "store side must still be a bucketed file scan after the file rewrite")
    }
  }

  test("store compaction: WITHOUT it, the appended store's probe regains a Sort (the cost compaction deletes)") {
    // The _maint store has day-2's append in place (2 files/bucket where
    // both halves hit the bucket) and is never compacted — the reader
    // rightly refuses to report sortBy order for its multi-file buckets,
    // so the same probe pays a store-side per-bucket SortExec. This is the
    // counterfactual that makes the compaction test meaningful.
    ops.TextOps.dedupStoreMaint(spark, sf).collect() // ensure built + appended
    val tbl = ops.TextOps.canonStoreName(sf) + "_maint"
    assert(bucketFiles(tbl).exists(_._2.size > 1),
      "precondition: the maintained store must actually have multi-file buckets")
    withProbeConfs {
      val storeSide = probeStoreSide(tbl)
      assert(storeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.isEmpty,
        "appends never cost the store an Exchange — buckets still align")
      assert(storeSide.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }.nonEmpty,
        "multi-file buckets must cost a store-side Sort — else compaction would be pointless")
    }
  }
}
