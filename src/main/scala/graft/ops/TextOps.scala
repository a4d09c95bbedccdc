package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text analysis for LLM-training-data pipelines (north-star mandate,
  * BASELINE.json): tokenization, quality scoring, language stats, document
  * fingerprinting, heuristic language-ID. Everything here is built from
  * codegen'd built-ins + higher-order array functions — no UDFs — so at
  * 100 TB each query is a single scan + (at most) one group-by shuffle.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private val StopWords = Seq("the", "a", "of", "and", "to")

  def tokens(text: Column): Column = split(text, " ")

  /** Exact deduplication: hash-groupBy on content. At 100 TB, group on
    * md5(text) (or a 128-bit xxhash) instead of the raw text to shrink the
    * shuffle payload — here text is the group key so the oracle can express
    * the same query. */
  val dedupExact: Q = (s, d) =>
    Tables(s, d, "documents")
      .groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
      .select("doc_id", "text", "dup_cnt")
      .orderBy("doc_id")

  /** Token counting: whitespace tokens + a BPE-ish regex token count. */
  val textStats: Q = (s, d) =>
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("tokens"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))).as("bpe_tokens"),
        col("n_chars"),
        (col("n_chars").cast("double") / size(tokens(col("text")))).as("chars_per_token"))
      .orderBy("doc_id")

  /** GPT-2-style pretokenization counts: contractions, space-prefixed
    * letter runs, space-prefixed digit runs, punctuation runs, whitespace
    * runs (Radford et al. 2019 §2.2's regex, ported minus lookahead so the
    * SAME pattern runs under both Java regex and RE2 — both engines use
    * leftmost, first-alternative-preference matching, so the piece split is
    * identical). This is the token-budget estimator a training pipeline
    * runs before the real BPE merge table exists: a pure per-row map at
    * read bandwidth, prunable to (doc_id, text). */
  private val BpePattern =
    "'(s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  val tokenCount: Q = (s, d) => {
    val pieces = regexp_extract_all(col("text"), lit(BpePattern), lit(0))
    // Whitespace runs are structure, not content: exclude them from the
    // billable-piece count the way a real tokenizer folds them into the
    // following piece's leading space.
    val content = filter(pieces, p => !p.rlike("^\\s+$"))
    Tables(s, d, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("int").as("ws_tokens"),
        size(content).cast("int").as("bpe_pieces"),
        (col("n_chars").cast("double") / size(content)).as("chars_per_piece"))
      .orderBy("doc_id")
  }

  /** Quality scoring: stopword ratio + lexical diversity (distinct-token
    * ratio). Low-diversity / stopword-heavy docs are the classic filter
    * targets in a pretraining pipeline. */
  val textQuality: Q = (s, d) => {
    val toks = tokens(col("text"))
    val stops = filter(toks, t => t.isin(StopWords: _*))
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        size(toks).as("tokens"),
        size(stops).as("stop_cnt"),
        (size(stops).cast("double") / size(toks)).as("stop_ratio"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("distinct_ratio"))
      .orderBy("doc_id")
  }

  /** Per-language corpus stats. */
  val langStats: Q = (s, d) =>
    Tables(s, d, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")

  /** Content fingerprint (md5) — the join key for cross-corpus exact dedup. */
  val fingerprint: Q = (s, d) =>
    Tables(s, d, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .orderBy("doc_id")

  /** Incremental (cross-corpus) exact dedup — the shape a production corpus
    * pipeline runs daily: a new document batch is deduped WITHIN itself
    * (groupBy fp, keep min id) and then anti-joined against the existing
    * corpus's canonical fingerprint set, so only genuinely-new content
    * survives. Here the corpus splits into "existing" / "new batch" by one
    * bit of the engine-portable document hash (deterministic, so the oracle
    * expresses the same split). At 100 TB the canonical set is itself huge
    * — the anti-join SHUFFLES on fp (never broadcast), and since both sides
    * are already grouped by fp the join rides the same partitioning; with
    * the canonical table bucketed by fp on disk the daily run shuffles only
    * the new batch. */
  val dedupIncremental: Q = (s, d) => {
    val fps = Tables(s, d, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"),
        pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(2L)).as("b"))
    val canon = fps.filter(col("b") === 0).select("fp").distinct()
    fps.filter(col("b") === 1)
      .groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_dups"))
      .join(canon, Seq("fp"), "left_anti")
      .select("doc_id", "fp", "batch_dups")
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered incremental exact dedup — [[dedupIncremental]] with
    * the anti-join shuffle cut by a Bloom screen: a [[Custom.BloomBits]]
    * sketch of the canonical fingerprint set broadcasts to the batch side,
    * rows the filter rules out ("definitely not in the corpus") are emitted
    * as novel WITHOUT touching the anti-join, and only the maybe-present
    * remainder — true dups plus the false-positive fraction — pays the
    * shuffle. The final result is EXACTLY the plain anti-join's output at
    * any false-positive rate (FPs are resolved by the join; true negatives
    * are correct by the Bloom's one-sided guarantee), so the oracle is the
    * same SQL as q_dedup_incremental. The probe is built-in column ops
    * (element_at + getbit over the broadcast word array) — codegen'd, no
    * UDF on the batch side. At 100 TB a single 128 KB bloom doesn't hold a
    * 10^11-row canonical store: partition the store by fp range and keep
    * one right-sized bloom per bucket next to the bucketed canonical table
    * (the probe picks its bloom by the same fp bucketing), or size m to the
    * daily batch's candidate set instead. */
  val dedupBloom: Q = (s, d) => dedupBloomSized(1 << 20, 3)(s, d)

  /** [[dedupBloom]] with the sketch geometry exposed: DedupSpec runs this
    * with M small enough to force a massive false-positive rate and asserts
    * the output is STILL identical — the one-sided-error invariant that
    * makes the bloom safe to deploy at any sizing. */
  def dedupBloomSized(M: Int, K: Int): Q = (s, d) => {
    import s.implicits._
    // Both hashes fold to 31 bits BEFORE any combination: h1 + 2·h2 then
    // tops out below 2^33, so the ANSI-mode overflow check can never fire,
    // and the build (JVM floorMod) and probe (SQL pmod) sides combine the
    // exact same folded values.
    val fps = Tables(s, d, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"),
        pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(2L)).as("b"))
      .withColumn("h1", pmod(xxhash64(col("fp")), lit(1L << 31)))
      .withColumn("h2", pmod(xxhash64(col("fp"), lit(1)), lit(1L << 31)))
    val canon = fps.filter(col("b") === 0).select("fp").distinct()
    val bloom = fps.filter(col("b") === 0).select(col("h1"), col("h2"))
      .as[(Long, Long)]
      .select(new Custom.BloomBits(M, K).toColumn.name("bloom"))
    val batch = fps.filter(col("b") === 1)
      .groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_dups"),
        first(col("h1")).as("h1"), first(col("h2")).as("h2"))
      .crossJoin(broadcast(bloom))
    val mightContain = (0 until K).map { i =>
      expr(s"getbit(element_at(bloom, CAST(pmod(h1 + ${i}L * h2, ${M}L) DIV 64 AS INT) + 1), " +
        s"CAST(pmod(h1 + ${i}L * h2, ${M}L) % 64 AS INT)) = 1")
    }.reduce(_ && _)
    val definitelyNovel = batch.filter(!mightContain)
      .select("doc_id", "fp", "batch_dups")
    val maybe = batch.filter(mightContain)
      .join(canon, Seq("fp"), "left_anti")
      .select("doc_id", "fp", "batch_dups")
    definitelyNovel.union(maybe).orderBy("doc_id")
  }

  /** Persisted canonical dedup store + day-2 probe — the registered form of
    * the shape [[dedupIncremental]]'s scaladoc prescribes and BucketingSpec
    * demonstrates: the canonical fingerprint set is WRITTEN once as a table
    * bucketed (and sorted) by fp, and the daily incremental run anti-joins
    * the new batch against the store with ZERO exchange on the store side —
    * each bucket file IS a ready-made join partition, so the daily cost is
    * shuffling the new batch only, never the accumulated corpus. (At 100 TB
    * the store is the large side; re-shuffling it every day is the dominant
    * cost the bucketed layout deletes. Round8Spec pins the zero-Exchange
    * store side under a forced sort-merge anti-join. The store writes ONE
    * file per bucket (repartition on fp before bucketBy), which also makes
    * the probe SORT-free — though only under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (SPARK-28595
    * made the reader distrust write-time order by default); without it a
    * partition-local, network-free SortExec remains above the bucket
    * scan.) The store
    * lands in the JVM temp dir keyed by the data dir, rebuilt per run —
    * in production it is the maintained output of day N-1. Output (and
    * oracle) identical to [[dedupIncremental]]. */
  val StoreBuckets = 32
  def canonStoreName(d: String): String =
    "graft_canon_store_" + d.replaceAll("[^A-Za-z0-9]", "_")

  /** Store root is PROCESS-private (the [[Extended.stageOnce]] rationale):
    * the driver's Verify and a dev sbt JVM must never race on one path.
    * Deleted recursively on JVM exit (ADVICE r08). */
  private[ops] lazy val storeRoot: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file._
      import java.util.Comparator
      try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case _: Throwable => () }
    }))
    dir.toString
  }

  /** Store builds run AT MOST ONCE per (session, data dir) per JVM
    * (ADVICE r08: two concurrent invocations — Bench/TimeProbe in one JVM,
    * or plan-only inspection racing an executing probe — previously raced
    * on the shared DROP TABLE + overwrite). computeIfAbsent serializes the
    * build; steady-state invocations construct the probe plan against the
    * already-registered catalog table without touching it. Keyed on
    * session identity too: a catalog registration exists only in the
    * session that wrote it. */
  private val builtStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[ops] def buildStoreOnce(s: SparkSession, key: String, tbl: String)
                            (build: String => Unit): Unit =
    // Keyed on sessionUUID, not identityHashCode (ADVICE r09): identity
    // hashes can be reused after a stopped session is GC'd (skipping the
    // build while the catalog registration is gone), sessionUUID cannot.
    // The data-dir is part of `key`, so a different dir builds fresh.
    builtStores.computeIfAbsent(
      s"${org.apache.spark.sql.GraftSqlBridge.sessionUUID(s)}_$key", { _ =>
        build(s"$storeRoot/$tbl"); tbl
      })

  val dedupStore: Q = (s, d) => {
    val fps = Tables(s, d, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"),
        pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(2L)).as("b"))
    val tbl = canonStoreName(d)
    buildStoreOnce(s, s"store_$d", tbl) { loc =>
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      // repartition on fp BEFORE the bucketed write: task partitioning then
      // coincides with bucket assignment, so each bucket is exactly ONE file
      // — the precondition for Spark's reader to trust the write-time sortBy
      // (FileSourceScanExec only reports sorted output for single-file
      // buckets), which deletes the probe-side Sort as well as the Exchange.
      fps.filter(col("b") === 0).select("fp").distinct()
        .repartition(StoreBuckets, col("fp"))
        .write.bucketBy(StoreBuckets, "fp").sortBy("fp")
        .option("path", loc).mode("overwrite").saveAsTable(tbl)
    }
    fps.filter(col("b") === 1)
      .groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_dups"))
      .join(s.table(tbl), Seq("fp"), "left_anti")
      .select("doc_id", "fp", "batch_dups")
      .orderBy("doc_id")
  }

  /** Day-N store MAINTENANCE — the append step [[dedupStore]]'s scaladoc
    * promises (VERDICT r08 missing #4: a registered day-N append closes
    * the loop, proving the store is maintained, not rebuilt): day 1 writes
    * the canonical store bucketed+sorted by fp; day 2's batch anti-joins
    * against it (zero exchange on the store side, as q_dedup_store pins)
    * to isolate its NOVEL fingerprints; the novel set is then appended
    * INTO the store with the SAME bucketing spec (`mode("append")` +
    * matching bucketBy — Spark validates the spec against the existing
    * table), so the append lands as one correctly-hashed extra file per
    * bucket and the store's accumulated history is never rewritten, let
    * alone re-shuffled. After maintenance the store IS the canonical set
    * of the whole corpus — exactly what the oracle checks
    * (`SELECT DISTINCT md5(text)`), so the driver hash-verifies the
    * maintained store's CONTENT, not a recomputation. A re-probe of the
    * same batch returning zero novel rows — the store actually absorbed
    * the delta — plus the zero-exchange store side of that re-probe are
    * pinned in Round8Spec. Build+append memoize per (session, dir):
    * steady state is a pure bucketed read. */
  val dedupStoreMaint: Q = (s, d) => {
    val fps = Tables(s, d, "documents")
      .select(md5(col("text").cast("binary")).as("fp"),
        pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(2L)).as("b"))
    val tbl = canonStoreName(d) + "_maint"
    buildStoreOnce(s, s"maint_$d", tbl) { loc =>
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      fps.filter(col("b") === 0).select("fp").distinct()
        .repartition(StoreBuckets, col("fp"))
        .write.bucketBy(StoreBuckets, "fp").sortBy("fp")
        .option("path", loc).mode("overwrite").saveAsTable(tbl)
      appendNovel(s, tbl,
        fps.filter(col("b") === 1).select("fp").distinct())
    }
    s.table(tbl).orderBy("fp")
  }

  /** Catalog metadata for a store table — the same lookup [[compactStore]]
    * makes for the location; [[appendNovel]] reads the bucket spec from it
    * so maintenance honors whatever width the table was BUILT with. */
  private[ops] def storeMeta(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
      .getTableMetadata(_: org.apache.spark.sql.catalyst.TableIdentifier)

  /** Append a batch's NOVEL fingerprints into the bucketed store. The novel
    * set is materialized (eager localCheckpoint) BEFORE the append starts:
    * the anti-join reads the very table the write appends to, and Spark
    * only guards self-reads for overwrite — without the barrier,
    * correctness would ride on the scan's file listing being snapshotted
    * before the new files land (ADVICE r09). With it, the store read
    * completes first and the write sources RDD blocks, not table files.
    * The bucket count comes from the table's OWN catalog bucketSpec (r11:
    * a hardcoded `StoreBuckets` made every append to a non-32-bucket store
    * throw Spark's spec-mismatch AnalysisException — maintenance must work
    * on any store a user built, not just ones this module wrote). */
  private[graft] def appendNovel(s: SparkSession, tbl: String, batch: DataFrame): Unit =
    appendFps(s, tbl,
      batch.join(s.table(tbl), Seq("fp"), "left_anti").localCheckpoint())

  /** Bucketed append of ALREADY-novel fingerprints, honoring the table's
    * own catalog bucket spec. Callers must guarantee `fps` is (a) disjoint
    * from the store and (b) materialized — no live scan of `tbl` left in
    * its lineage (the self-read barrier [[appendNovel]]'s Scaladoc
    * explains). [[appendNovel]] establishes both for batch callers; the
    * streaming path ([[graft.streaming.Streams.storeDedup]]) anti-joins
    * and checkpoints once per micro-batch — because it also EMITS the
    * novel rows downstream — and calls this directly so the store isn't
    * probed a second time inside the append. */
  private[graft] def appendFps(s: SparkSession, tbl: String, fps: DataFrame): Unit = {
    val nBuckets = storeMeta(s)(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .bucketSpec.map(_.numBuckets).getOrElse(StoreBuckets)
    fps.repartition(nBuckets, col("fp"))
      .write.bucketBy(nBuckets, "fp").sortBy("fp")
      .mode("append").saveAsTable(tbl)
  }

  /** Compact the bucketed store after day-N appends — the maintenance step
    * that keeps the probe plan sort-free forever (VERDICT r09 missing #2):
    * each append lands one correctly-hashed extra file per bucket, and
    * Spark's reader only reports write-time sortBy order for SINGLE-file
    * buckets (`FileSourceScanExec.outputOrdering` under SPARK-28595's
    * legacy conf), so by day 3 the probe silently regains a per-bucket
    * SortExec. Every bucket whose file count exceeds `maxFilesPerBucket` is
    * rewritten back to one sorted file; under-threshold buckets are
    * untouched, so cost is proportional to the oversized buckets, not the
    * store (the Iceberg/Delta OPTIMIZE shape, done at the file layer
    * because the container has no lakehouse format).
    *
    * All oversized buckets are rewritten by ONE Spark write: read their
    * listed files, `repartition(numBuckets, bucketColumns)`, optionally
    * retire duplicates, sort within partitions by the table's sortBy
    * columns, write to a dot-prefixed staging directory under the store.
    * Shuffle partition i IS bucket i — the shuffle and Spark's bucketed
    * writer share `HashPartitioning.partitionIdExpression`, and AQE never
    * coalesces a repartition with an explicit count (the same property
    * [[appendFps]] relies on). Each oversized bucket's single staged
    * `part-<i>-<uuid>-c000…` file then moves in as
    * `part-<i>-<uuid>_<bucket>.c000…`, whose trailing `_<bucket>` Spark's
    * `BucketingUtils` parses exactly like a bucketed-writer file, and that
    * bucket's listed files are deleted. Staged files of buckets that were
    * not rewritten must be empty (partition 0 always gets a file) and are
    * dropped with the staging directory — refused or failed compactions
    * included, so no `.graft_compact_*` residue outlives the call.
    *
    * COMMIT WINDOW: one rename plus the listed files' deletes per bucket.
    * A crash inside it leaves that bucket holding both the merged file and
    * (some of) its inputs — the same rows twice, never a lost row; the
    * next compaction merges them again (with `dedupKeys`, retiring the
    * copies).
    *
    * CONCURRENCY CONTRACT (r12, pinned in Round12Spec): an [[appendNovel]]
    * landing between the file LISTING and the moves is never lost — the
    * rewrite reads and deletes only the files captured in the listing, so
    * the append's fresh per-bucket files survive untouched; the window's
    * only artifact is that those buckets may be multi-file again (probe
    * regains its per-bucket Sort) until the next compaction. What the file
    * layer CANNOT give is snapshot isolation for concurrent READERS: a
    * scan that listed files before the swap can hit a deleted file
    * mid-read (FileNotFoundException) — the window a lakehouse format's
    * atomic manifest commit would close; at this layer, schedule probes
    * and compactions of one store from one maintenance process.
    * `afterListing` is a test seam executing exactly inside that window.
    * Returns the number of buckets compacted. */
  def compactStore(s: SparkSession, tbl: String, maxFilesPerBucket: Int = 1,
                   afterListing: () => Unit = () => (),
                   dedupKeys: Seq[String] = Nil): Int = {
    val meta = storeMeta(s)(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val spec = meta.bucketSpec.getOrElse(
      sys.error(s"compactStore($tbl): not a bucketed table"))
    require(spec.bucketColumnNames.forall(dedupKeys.contains) || dedupKeys.isEmpty,
      s"compactStore($tbl): dedupKeys (${dedupKeys.mkString(",")}) must contain " +
        s"the bucket columns (${spec.bucketColumnNames.mkString(",")})")
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = StoreFs.fs(s, loc)
    val bucketId = """.*_(\d+)(?:\..*)?$""".r
    val byBucket = StoreFs.listFiles(fs, loc)
      .filter(_.getPath.getName.startsWith("part-"))
      .groupBy(_.getPath.getName match {
        case bucketId(b) => b
        case n => sys.error(s"compactStore($tbl): data file $n in $loc has no " +
          "_<bucket> suffix — not written by a bucketed writer")
      })
    val oversized = byBucket.filter(_._2.size > maxFilesPerBucket)
    afterListing()
    if (oversized.isEmpty) return 0
    // Staged on the store's own filesystem, so the commit is a real rename;
    // Spark's file listing skips `.`-prefixed names, so readers never see it.
    val tmp = new org.apache.hadoop.fs.Path(loc, s".graft_compact_${System.nanoTime()}")
    try {
      // The catalog schema spares the schema-inference job a bare read runs.
      val raw = s.read.schema(meta.schema)
        .parquet(oversized.values.flatten.map(_.getPath.toString).toSeq: _*)
        .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
      // Heal-residue retirement (VERDICT r14 next #4): a re-driven append —
      // the band-screen heal's tolerated outcome — leaves duplicate rows in
      // the key-unique inert tables (`_toks`, `_evecs`) forever. Pass the
      // table's unique key and each rewritten bucket keeps one row per key;
      // leave Nil for multi-row-per-key tables (`_bands`). The key contains
      // the bucket columns, so after the repartition every copy of a key
      // shares a partition and neither step below shuffles again.
      // Retirement is full-row distinct + an invariant check, NOT
      // dropDuplicates(keys) (ADVICE r16 low): the heal contract only ever
      // re-drives a batch BIT-IDENTICALLY, so rows sharing a key must be
      // exact copies — if they ever differ (an upstream bug, not a heal),
      // silently keeping an arbitrary survivor would destroy data on a
      // nondeterministic coin flip; fail the write loudly instead. The
      // check is a FILTER over a per-key window count, so it runs inside
      // the write (a projected check column would be pruned away).
      val merged = if (dedupKeys.isEmpty) raw else {
        val keys = dedupKeys.map(col)
        raw.dropDuplicates()
          .withColumn("__graft_key_rows",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)))
          .filter(col("__graft_key_rows") === 1 || raise_error(concat(
            lit(s"compactStore($tbl): rows share a dedup key " +
              s"(${dedupKeys.mkString(",")}) = "),
            to_json(struct(keys: _*)),
            lit(" with CONFLICTING payloads — heal residue is bit-identical " +
              "by contract, so this is an upstream corruption; refusing to " +
              "discard an arbitrary survivor"))))
          .drop("__graft_key_rows")
      }
      val sorted = if (spec.sortColumnNames.isEmpty) merged
        else merged.sortWithinPartitions(spec.sortColumnNames.map(col): _*)
      sorted.write.option("maxRecordsPerFile", 0L).parquet(tmp.toString)
      val staged = StoreFs.listFiles(fs, tmp).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
        .groupBy(_.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt)
      // A row lands outside the rewritten buckets only if its source file
      // held a row of another bucket; dropping that staged file would lose
      // it, so refuse before anything moves.
      staged.foreach { case (i, ps) =>
        if (!oversized.keySet.exists(_.toInt == i) && ps.exists(parquetRows(s, _) > 0))
          sys.error(s"compactStore($tbl): rewritten files hold rows of bucket $i, " +
            "which is not being rewritten — the store's files do not match their " +
            "bucket suffixes; refusing to drop those rows")
      }
      val moves = oversized.toSeq.map { case (bid, files) =>
        staged.getOrElse(bid.toInt, Nil) match {
          // part-00003-<uuid>-c000.snappy.parquet -> part-00003-<uuid>_00003.c000...
          case Seq(p) => (p, new org.apache.hadoop.fs.Path(loc,
            p.getName.replaceFirst("-c000", s"_$bid.c000")), files)
          case ps => sys.error(s"compactStore($tbl) bucket $bid: staged ${ps.size} files, expected 1")
        }
      }
      moves.foreach { case (src, dst, files) =>
        if (!fs.rename(src, dst))
          sys.error(s"compactStore($tbl): rename $src -> $dst failed")
        files.foreach(st => fs.delete(st.getPath, false))
      }
      oversized.size
    } finally {
      StoreFs.deleteQuietly(fs, tmp)
      s.catalog.refreshTable(tbl)
    }
  }

  /** Row count of one parquet file, from its footer. */
  private def parquetRows(s: SparkSession, p: org.apache.hadoop.fs.Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, s.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }

  /** Test seam for the bucketed-rewrite crash windows — production code
    * never sets these; [[publishBucketed]] invokes them at the two seams a
    * crash could land in. Shared by every full-rewrite store table (embed
    * cluster labels, sig cluster labels). */
  private[graft] object SwapHooks {
    @volatile var afterStageWrite: () => Unit = () => ()
    @volatile var afterManifestPut: () => Unit = () => ()
    @volatile var afterDrop: () => Unit = () => ()
    @volatile var afterRename: () => Unit = () => ()
    private[graft] def reset(): Unit = {
      afterStageWrite = () => (); afterManifestPut = () => (); afterDrop = () => ()
      afterRename = () => ()
    }
  }

  /** The generation MANIFEST (VERDICT r19 next #2): `<stem>.manifest` in
    * the store's parent directory holds the live generation's directory
    * name, and its single-object atomic replace ([[StoreFs.writeAtomic]])
    * is the swap's COMMIT POINT. [[publishBucketed]] PUTs it as the last
    * write of the new generation — after the staged data has fully
    * committed, before the catalog drop→rename (which is thereby demoted
    * from commit protocol to metadata republication + GC). Readers
    * ([[recoverSwap]], run first thing by every registered read path and
    * maintenance entry) treat a manifest that names a complete staged
    * generation as authoritative and finish the catalog swap from it —
    * so on object stores, where directory rename is non-atomic, the swap
    * inherits the manifest PUT's atomicity instead (see [[StoreFs]]'s
    * narrowed caveat). Generation tables born through [[commitDay0]] carry
    * a manifest from their very first write; a store created by older code
    * has none until its first publish (or a legacy-window recovery) heals
    * it forward — readers then fall back to the catalog. Never matches
    * [[GenSuffixRe]], so the orphan sweep cannot reclaim it. */
  private[graft] def manifestPath(parent: org.apache.hadoop.fs.Path,
                                  stem: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(parent, s"$stem.manifest")

  /** Location for a DAY-0 build of a generation table (r20): generation-
    * suffixed from birth, like every location [[publishBucketed]] will ever
    * stage for it. The pre-r20 layout wrote day-0 at the bare `<stem>`
    * path, which left two crash windows that leaked it PERMANENTLY: a fold
    * crashing between its catalog rename and its superseded-directory
    * delete (or between drop and rename) strands the day-0 directory with
    * no catalog reference, no `_stage` table for [[recoverSwap]] to act on,
    * and a name the orphan sweep's [[GenSuffixRe]] can never match. A
    * suffixed day-0 is just another generation: every later crash leftover
    * falls to the standing sweep. Callers write here, register the table,
    * then seal it with [[commitDay0]]. */
  private[graft] def day0Location(parent: String, stem: String): String =
    new org.apache.hadoop.fs.Path(parent,
      genDirName(stem, System.nanoTime())).toString

  /** Seal a freshly-written day-0 generation (r20): record [[StemProp]],
    * PUT the manifest naming it live (so an object-store reader resolves
    * the store through the manifest from its very first write, not only
    * after the first fold), and retire every sibling the new build
    * supersedes — prior `<stem>_g*` generations (a REBUILD of an existing
    * store, e.g. a centroid retrain or a from-scratch re-cluster, would
    * otherwise strand its predecessor until the first fold's sweep) plus a
    * legacy bare-`<stem>` directory from the pre-r20 layout (the one name
    * the sweep can never see — retiring it here is the migration step).
    * Same single-writer contract as the rest of the lifecycle: the caller
    * owns the store exclusively during a day-0 build, exactly as
    * [[buildStoreOnce]]-style builders already assume when they DROP the
    * previous tables. */
  private[graft] def commitDay0(s: SparkSession, tbl: String, stem: String): Unit = {
    val meta = storeMeta(s)(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val live = new org.apache.hadoop.fs.Path(meta.location)
    val parent = live.getParent
    val fs = StoreFs.fs(s, live)
    // Same single-writer guard as [[publishBucketed]] (ADVICE r20 low): a
    // day-0 rebuild racing a live fold would otherwise silently delete the
    // fold's staged generation in the superseded-sweep below and overwrite
    // its manifest commit. The lock turns the contract violation into a
    // loud failure instead of silent store corruption.
    val lock = new org.apache.hadoop.fs.Path(parent, s"${stem}_swap.lock")
    if (!StoreFs.createLockNoOverwrite(fs, lock))
      throw new IllegalStateException(
        s"commitDay0($tbl): $lock exists — the store lifecycle is " +
        "single-writer per table, and another maintenance run appears to be " +
        "mid-publish. If no writer process is alive, this is a hard-crash " +
        "leftover: verify and delete the lock file, then rerun.")
    try {
      s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('$StemProp'='$stem')")
      StoreFs.writeAtomic(fs, manifestPath(parent, stem), live.getName)
      val gen = java.util.regex.Pattern.compile(
        java.util.regex.Pattern.quote(stem) + GenSuffixRe)
      val liveQ = fs.makeQualified(live)
      val superseded = (StoreFs.listDirs(fs, parent)
          .filter(st => gen.matcher(st.getPath.getName).matches())
          .map(_.getPath) :+ new org.apache.hadoop.fs.Path(parent, stem))
        .filter(p => fs.makeQualified(p) != liveQ && fs.exists(p))
      val failed = superseded.filterNot(StoreFs.deleteQuietly(fs, _))
      if (failed.nonEmpty)
        System.err.println(s"[graft] commitDay0($tbl): failed to delete superseded " +
          s"${failed.map(_.getName).mkString(",")} — the next publish's sweep retries " +
          "the suffixed ones; a legacy bare-stem directory needs operator cleanup")
      // A rebuild-in-place also strands the previous store's DELTA FILES:
      // the builders `DROP TABLE <tbl>_delta` (both do, right before the
      // day-0 write), but dropping an EXTERNAL table leaves its directory —
      // and the next maintenance run's `mode("append").saveAsTable` would
      // re-register the delta table OVER the stale files, overlaying the old
      // store's labels (at their old, possibly higher seqs) onto the fresh
      // build. The delta table is never registered at day-0 commit time, so
      // the directory is stale-or-absent by contract; the tableExists guard
      // keeps this safe even for a caller that violates it. (The builders
      // also [[clearDeltaDir]] right after their DROP, closing the crash
      // window between the drop and this commit — ADVICE r20 low.)
      if (!s.catalog.tableExists(s"${tbl}_delta"))
        StoreFs.deleteQuietly(fs, new org.apache.hadoop.fs.Path(parent, s"${stem}_delta"))
    } finally {
      if (!StoreFs.deleteQuietly(fs, lock) && fs.exists(lock))
        System.err.println(s"[graft] commitDay0($tbl): failed to delete " +
          s"swap lock ${lock.getName} — the next publish will refuse to start " +
          "until it is removed (this was an unlock I/O failure, not a crash)")
    }
  }

  /** Delete a store's `<stem>_delta` DIRECTORY under `parent` (ADVICE r20
    * low): the builders `DROP TABLE ..._delta` before their day-0 write,
    * but dropping an EXTERNAL table leaves its files — a crash between the
    * drop and [[commitDay0]] (whose own delta-clear would catch it) leaves
    * stale delta rows on disk for the next `mode("append").saveAsTable` to
    * re-register, resurrecting pre-rebuild labels at their old higher seqs
    * via latest-wins. Called immediately after the DROP so the window
    * closes at the point the table ceases to exist. */
  private[graft] def clearDeltaDir(s: SparkSession, parent: String, stem: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(parent, s"${stem}_delta")
    StoreFs.deleteQuietly(StoreFs.fs(s, p), p)
  }

  /** Crash-safe full rewrite of a bucketed store table (VERDICT r13 next
    * #2, generalized r14): drop-then-overwrite-same-path had a window where
    * a crash destroyed the only copy. The rewrite lands in a fresh
    * GENERATION location under a `<tbl>_stage` name first; only once that
    * write has fully committed does the catalog swap run (drop old, rename
    * stage — an external-table rename keeps its location). Every crash
    * window leaves a complete readable copy on disk:
    *   - before/while staging: live table untouched; a partial stage is
    *     garbage the next run reclaims (catalog drop AND directory delete —
    *     ADVICE r14: the DROP alone left external files forever);
    *   - after staging, before the drop: both copies complete — rerun wins;
    *   - between drop and rename: the catalog briefly names neither table,
    *     but the staged copy is complete — [[recoverSwap]] finishes the
    *     rename, and every maintenance entry point AND every registered
    *     read path runs it first thing (VERDICT r14 next #3).
    * Generation directories derive from a STABLE stem (ADVICE r14 medium):
    * the live location is itself a prior generation (`<stem>_g<n>`), so
    * staging under `<liveDirName>_g<n>` would compound the name by ~21
    * chars per publish and deterministically overflow a 255-byte filename
    * limit after ~10 maintenance runs; stripping the trailing `_g<n>` keeps
    * the path length constant forever. Superseded generations are deleted
    * after the swap commits, and any orphan a crash left in the
    * rename→delete window is swept on the next entry.
    *
    * SINGLE-WRITER, fail-fast (VERDICT r14 next #5): a `<stem>_swap.lock`
    * marker is created atomically at entry and removed when the publish
    * completes or errors out. A second concurrent publish of the same table
    * throws immediately instead of dropping the first writer's stage
    * mid-flight. Only a hard JVM death leaves the lock behind — and a
    * STALE lock (mtime older than [[swapLockFreshMs]]; the writer re-touches
    * it right before the drop→rename critical section) no longer wedges the
    * store forever: [[recoverSwap]] adjudicates it as a crash leftover and
    * completes the swap, so only the lock FILE needs manual deletion before
    * the next publish. All file-layer operations route through the Hadoop
    * `FileSystem` API ([[StoreFs]] — VERDICT r18 next #2): on `file://` the
    * lock keeps NIO's truly-atomic create and the swap keeps POSIX rename
    * (semantics identical to pre-r19); on HDFS `create(overwrite=false)`
    * and `rename` are the same atomic primitives, so the protocol ports
    * unchanged. On S3 there is NO atomic create-no-overwrite or rename —
    * there, single-writer must come from the scheduler (one maintenance
    * process per store, as [[compactStore]] already requires) or from a
    * lakehouse format's transactional commit, the named upgrade for every
    * file-layer seam in this module (see [[StoreFs]]'s object-store
    * caveat). Bucket width honors the live table's own catalog spec (the
    * [[appendNovel]] convention). */
  private[graft] def publishBucketed(s: SparkSession, tbl: String, bucketCol: String,
                                     defaultBuckets: Int, df: DataFrame): Unit = {
    // A prior writer may have crashed between its manifest PUT and its
    // catalog swap — reconcile FIRST, so `meta` below reads the truly-live
    // generation and the stale-stage reclamation only ever sees
    // uncommitted garbage (a manifest-committed stage is the live data,
    // not garbage).
    recoverSwap(s, tbl)
    val meta = storeMeta(s)(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val w = meta.bucketSpec.map(_.numBuckets).getOrElse(defaultBuckets)
    val oldLoc = new org.apache.hadoop.fs.Path(meta.location)
    val stem = meta.properties.getOrElse(StemProp, storeStem(oldLoc.getName))
    val parent = oldLoc.getParent
    val fs = StoreFs.fs(s, oldLoc)
    val lock = new org.apache.hadoop.fs.Path(parent, s"${stem}_swap.lock")
    if (!StoreFs.createLockNoOverwrite(fs, lock))
      throw new IllegalStateException(
        s"publishBucketed($tbl): $lock exists — the stage-then-swap is " +
        "single-writer per table, and another maintenance run appears to be " +
        "mid-publish. If no writer process is alive, this is a hard-crash " +
        "leftover: verify and delete the lock file, then rerun.")
    try {
      // Reclaim a prior crash's garbage while holding the lock: a leftover
      // stage table's directory, plus any superseded `<stem>_g*` generation
      // a crash between rename and delete orphaned.
      val staleStage =
        if (s.catalog.tableExists(s"${tbl}_stage"))
          Some(new org.apache.hadoop.fs.Path(storeMeta(s)(
            org.apache.spark.sql.catalyst.TableIdentifier(s"${tbl}_stage")).location))
        else None
      s.sql(s"DROP TABLE IF EXISTS ${tbl}_stage")
      staleStage.foreach(StoreFs.deleteQuietly(fs, _))
      val gen = java.util.regex.Pattern.compile(
        java.util.regex.Pattern.quote(stem) + GenSuffixRe)
      // Orphan-sweep outcomes are counted and reported (ADVICE r16 low): a
      // deleteQuietly that silently fails every publish is unreclaimed disk
      // growing without bound — say so, so an operator sees it before df -h
      // does. A failed sweep is NOT fatal: the orphan is garbage, the next
      // publish retries it.
      val oldQ = fs.makeQualified(oldLoc)
      val orphans = StoreFs.listDirs(fs, parent)
        .filter(st => gen.matcher(st.getPath.getName).matches() &&
          fs.makeQualified(st.getPath) != oldQ)
      val failed = orphans.filterNot(st => StoreFs.deleteQuietly(fs, st.getPath))
      if (orphans.nonEmpty)
        System.err.println(s"[graft] publishBucketed($tbl): reclaimed " +
          s"${orphans.length - failed.length} orphan generation(s)" +
          (if (failed.isEmpty) ""
           else s"; FAILED to delete ${failed.map(_.getPath.getName).mkString(",")} — will retry next publish"))
      val stageLoc = new org.apache.hadoop.fs.Path(parent,
        genDirName(stem, System.nanoTime())).toString
      df.repartition(w, col(bucketCol))
        .write.bucketBy(w, bucketCol).sortBy(bucketCol)
        .option("path", stageLoc).mode("overwrite").saveAsTable(s"${tbl}_stage")
      // Record the stem on the generation that is about to go live (ADVICE
      // r16 low): every later publish and every recovery reads it back
      // instead of re-parsing the directory name, so the stem can never
      // drift even if the name heuristic and reality disagree.
      s.sql(s"ALTER TABLE ${tbl}_stage SET TBLPROPERTIES ('$StemProp'='$stem')")
      SwapHooks.afterStageWrite()
      // Re-touch the lock so its freshness window counts from the start of
      // the drop→rename critical section (milliseconds long), not from the
      // start of a stage write that legitimately takes minutes at scale —
      // otherwise a slow write could age the lock past [[swapLockFreshMs]]
      // and a concurrent reader's recovery would adjudicate a LIVE publish
      // as a crash.
      StoreFs.touch(fs, lock)
      // THE COMMIT POINT (VERDICT r19 next #2): one atomic single-object
      // replace of `<stem>.manifest` with the staged generation's name —
      // the last write of the new generation's data+commit sequence. From
      // here the swap is durable on any store with atomic object PUTs
      // (incl. S3); the catalog ops below republish it and collect
      // garbage, and any crash between here and their completion is healed
      // by [[recoverSwap]] from the manifest.
      StoreFs.writeAtomic(fs, manifestPath(parent, stem),
        new org.apache.hadoop.fs.Path(stageLoc).getName)
      SwapHooks.afterManifestPut()
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      SwapHooks.afterDrop()
      try s.sql(s"ALTER TABLE ${tbl}_stage RENAME TO $tbl")
      catch {
        // The rename race (ADVICE r16 medium): a concurrent reader that
        // adjudicated our lock stale (clock skew, a pathologically long GC
        // pause between touch and drop) can complete the swap between our
        // drop and our rename. Whoever loses sees NoSuchTable/
        // TableAlreadyExists — but the swap COMMITTED: the live table
        // exists and is the generation we staged. That is this publish
        // succeeding, not failing.
        case e: Throwable if s.catalog.tableExists(tbl) =>
          System.err.println(s"[graft] publishBucketed($tbl): rename lost a " +
            s"recovery race but the swap committed (${e.getClass.getSimpleName})")
      }
      SwapHooks.afterRename()
      // A crash here (rename committed, superseded generation not yet
      // deleted) strands oldLoc with no catalog reference and no stage
      // table — only the NEXT publish's orphan sweep reclaims it, which is
      // why day-0 builds are generation-suffixed too ([[day0Location]]): a
      // bare-stem day-0 in this window leaked forever.
      if (!StoreFs.deleteQuietly(fs, oldLoc) && fs.exists(oldLoc))
        System.err.println(s"[graft] publishBucketed($tbl): failed to delete " +
          s"superseded generation ${oldLoc.getName} — the next publish's orphan sweep retries it")
    } finally {
      // A failed unlock must not be silent (ADVICE r19 low): the NEXT
      // publish would fail with the "hard-crash leftover" message,
      // misdiagnosing a live-process I/O failure as a crash — mirror the
      // superseded-generation message so the operator sees the real cause.
      if (!StoreFs.deleteQuietly(fs, lock) && fs.exists(lock))
        System.err.println(s"[graft] publishBucketed($tbl): failed to delete " +
          s"swap lock ${lock.getName} — the next publish will refuse to start " +
          "until it is removed (this was an unlock I/O failure, not a crash)")
    }
  }

  /** Compaction cadence for the REGISTERED day-N maintenance paths
    * ([[graft.ops.Dedup.maintainSigClusterStore]] /
    * [[graft.ops.Similarity.maintainEmbedClusterStore]]): each append lands
    * one file per bucket, and once a bucket carries more than this many
    * files it is rewritten to one sorted file — at which point the
    * key-unique inert tables (`_toks`, `_evecs`) also retire any duplicate
    * rows a crash-healed re-driven append left behind (VERDICT r15 next
    * #4: `compactStore(dedupKeys)` existed and was tested but no registered
    * cadence ever invoked it, so heal residue lived forever). 3 amortizes
    * the rewrite over several appends instead of rewriting the whole store
    * every day; at 100 TB the cost stays proportional to the buckets that
    * actually accreted files, the Iceberg/Delta OPTIMIZE shape. */
  private[graft] val MaintCompactFilesPerBucket = 3

  /** Table property recording a store's generation-name stem — written by
    * [[publishBucketed]] on every generation it stages, read back by later
    * publishes and by [[recoverSwap]] so the stem NEVER depends on parsing
    * a directory name after the first publish. */
  private[graft] val StemProp = "graft.stem"

  /** Our generation directories are `<stem>_g<System.nanoTime()>`. The
    * name-parsing FALLBACK (first publish of a store created before the
    * [[StemProp]] property existed, or by code outside this module) must
    * strip exactly our suffixes and nothing else: `_g\d+` also matched a
    * user-chosen base name like `labels_g2` (ADVICE r16 low), mangling its
    * stem to `labels` — and two distinct stores whose names collide
    * post-strip would sweep each other's LIVE generations as orphans.
    * nanoTime values on any box up more than ~20 minutes are ≥ 13 digits,
    * and a human-chosen name ending in 13+ digits after `_g` is not a
    * plausible collision, so require ≥ 13.
    *
    * MIGRATION NOTE (ADVICE r17 low): generations written by pre-r17 code
    * used UNPADDED nanoTime, which has < 13 digits on a box up less than
    * ~2.8 hours. A store published by that code on such a box, carried
    * forward without a [[StemProp]] property, would parse its stem as the
    * full `<stem>_g<short>` dir name on its first post-upgrade publish and
    * never reclaim its old short-suffix orphans. This container's stores
    * are session-scoped temp directories (rebuilt every JVM, never carried
    * across code versions), so no such store can exist here; a deployment
    * upgrading long-lived stores should set [[StemProp]] on them once
    * (ALTER TABLE ... SET TBLPROPERTIES) as the migration step. */
  private[graft] val GenSuffixRe = "_g\\d{13,}"
  private[graft] def storeStem(dirName: String): String =
    dirName.replaceFirst(GenSuffixRe + "$", "")

  /** Generation directory name for `stem`: `<stem>_g<19-digit suffix>`.
    * Zero-padded to 19 digits so a generation name ALWAYS matches
    * [[GenSuffixRe]] — nanoTime counts from an arbitrary origin (boot on
    * Linux) and can be fewer than 13 digits on a freshly-started box, which
    * would hide the new generation from the orphan sweep forever. The JLS
    * also allows nanoTime to be NEGATIVE (arbitrary origin): a raw negative
    * value would format as `_g-00…`, matching neither [[GenSuffixRe]] nor
    * the orphan sweep — the exact failure the zero-padding exists to
    * prevent (ADVICE r17 low) — so fold it into [0, Long.MaxValue) first.
    * floorMod keeps the within-boot monotonic ORDER of suffixes except
    * across the single wrap point, and nothing reads order from the name:
    * liveness comes from the catalog, reclamation from set-difference. */
  private[graft] def genDirName(stem: String, nano: Long): String =
    f"${stem}_g${java.lang.Math.floorMod(nano, Long.MaxValue)}%019d"

  /** Writer-liveness horizon for [[recoverSwap]]'s lock check: a
    * `<stem>_swap.lock` whose mtime is younger than this is a LIVE publish
    * ([[publishBucketed]] re-touches the lock right before its
    * drop→rename critical section, which is milliseconds long), older is a
    * hard-crash leftover. 10 minutes is ~5 orders of magnitude above the
    * critical section and comfortably above any plausible GC pause.
    * @volatile var, not val: the crash-window specs shrink it to exercise
    * the stale branch without a wall-clock wait. */
  @volatile private[graft] var swapLockFreshMs: Long = 10L * 60 * 1000

  /** How long [[recoverSwap]] waits for a live publish's rename to land
    * before giving up (test seam — see [[swapLockFreshMs]]). */
  @volatile private[graft] var swapRecoverWaitMs: Long = 10L * 1000

  /** Complete a [[publishBucketed]] swap a crash interrupted between drop
    * and rename: the live name is gone but the staged generation is
    * complete — rename it in. A no-op whenever `tbl` exists (any other
    * crash point).
    *
    * LOCK-AWARE (ADVICE r16 medium): the same observable state — live name
    * absent, staged generation present — also occurs INSIDE a healthy
    * publish's drop→rename window, and a reader's recovery stealing that
    * rename made the writer (or a second racing reader) throw spuriously.
    * Disambiguate via the swap lock: a FRESH lock (see [[swapLockFreshMs]])
    * means a live writer owns the swap — do not rename; wait briefly for
    * the writer's own rename to land instead. A stale or absent lock means
    * a crash — complete the swap, tolerate losing the rename to a
    * concurrent recovery (whoever loses re-checks `tableExists`, and a live
    * table is success regardless of which session's ALTER committed it),
    * and delete the stale lock so the next publish needs no manual cleanup.
    *
    * READ-LATENCY NOTE (VERDICT r17): the fresh-lock path can block the
    * calling READ for up to [[swapRecoverWaitMs]] (10 s) while a live
    * writer finishes its swap — the correct alternative to stealing the
    * rename, but a tail-latency spike a latency-sensitive reader tuning
    * these constants should know about. The window only opens when a read
    * lands exactly inside a publish's milliseconds-long drop→rename
    * critical section; steady-state reads never enter it. */
  private[graft] def recoverSwap(s: SparkSession, tbl: String): Unit =
    if (s.catalog.tableExists(s"${tbl}_stage")) {
      val stageMeta = storeMeta(s)(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${tbl}_stage"))
      val stageDir = new org.apache.hadoop.fs.Path(stageMeta.location)
      val stem = stageMeta.properties.getOrElse(StemProp, storeStem(stageDir.getName))
      val lock = new org.apache.hadoop.fs.Path(stageDir.getParent, s"${stem}_swap.lock")
      val fs = StoreFs.fs(s, lock)
      // MANIFEST-COMMITTED stage (VERDICT r19 next #2): the writer's
      // atomic `<stem>.manifest` PUT named this staged generation as live
      // before it crashed — whether or not the catalog drop happened yet.
      // A short/garbled read (the documented HDFS create-overwrite sliver)
      // simply fails the name match and reads as "not committed".
      val committed = StoreFs.readSmall(fs, manifestPath(stageDir.getParent, stem))
        .map(_.trim).contains(stageDir.getName) && fs.exists(stageDir)
      val liveExists = s.catalog.tableExists(tbl)
      // Reconcile when the catalog lags the commit point: either the live
      // name is gone (the classic drop→rename window — recover regardless
      // of manifest, preserving pre-manifest semantics: the complete stage
      // is the only candidate copy), or the live name still points at the
      // generation the manifest has superseded. A live table plus an
      // UNcommitted stage is a mid-publish (or abandoned) stage — never
      // steal it.
      if (!liveExists || committed) {
        // mtime is 0 when the lock vanished between exists and stat
        // — that reads as stale, i.e. recover, which is right: no lock, no
        // live writer.
        if (System.currentTimeMillis() - StoreFs.mtime(fs, lock) < swapLockFreshMs) {
          // A LIVE writer owns the swap. If the live table still serves
          // (manifest→drop window) there is nothing to wait for — the old
          // generation is complete and consistent; only the neither-table
          // window blocks the read.
          if (!liveExists) {
            val deadline = System.nanoTime() + swapRecoverWaitMs * 1000000L
            while (!s.catalog.tableExists(tbl) && System.nanoTime() < deadline)
              Thread.sleep(50)
            if (!s.catalog.tableExists(tbl))
              System.err.println(s"[graft] recoverSwap($tbl): fresh ${lock.getName} " +
                s"held and $tbl still absent after ${swapRecoverWaitMs}ms — a live " +
                "publish appears mid-swap; NOT stealing its rename. If the writer " +
                "is actually dead, delete the lock and rerun.")
          }
        } else {
          // The crashed writer's undone catalog drop (manifest→drop
          // window): the manifest committed the staged generation, so the
          // stale live name must yield to it. Capture its location first —
          // the superseded generation's directory is deleted below rather
          // than left to the orphan sweep: day-0 directories are suffixed
          // since r20 ([[day0Location]]), but a legacy bare-stem day-0
          // carried no `_g` suffix and the sweep's regex can never see it.
          val superseded = if (liveExists) Some(new org.apache.hadoop.fs.Path(
            storeMeta(s)(org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location))
          else None
          if (liveExists) s.sql(s"DROP TABLE IF EXISTS $tbl")
          try s.sql(s"ALTER TABLE ${tbl}_stage RENAME TO $tbl")
          catch {
            // Lost the rename to a concurrent recovery (or a writer we
            // misjudged stale) — live table = the swap committed.
            case e: Throwable if s.catalog.tableExists(tbl) =>
              System.err.println(s"[graft] recoverSwap($tbl): rename lost a race " +
                s"but the swap committed (${e.getClass.getSimpleName})")
          }
          // Heal the manifest forward for a legacy (pre-manifest) store
          // recovered through the classic window, so every later read can
          // resolve the live generation without the catalog.
          if (!committed && s.catalog.tableExists(tbl))
            StoreFs.writeAtomic(fs, manifestPath(stageDir.getParent, stem),
              new org.apache.hadoop.fs.Path(storeMeta(s)(
                org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location).getName)
          // Retire the superseded generation once the rename committed —
          // the crashed publish never reached its own delete ([[
          // publishBucketed]]'s post-swap step); a failure here is garbage
          // the next publish's sweep retries, except a legacy suffix-less
          // day-0 directory, which only this path can reclaim.
          superseded.filter(p => s.catalog.tableExists(tbl) &&
              fs.makeQualified(p) != fs.makeQualified(stageDir))
            .foreach { p =>
              if (!StoreFs.deleteQuietly(fs, p) && fs.exists(p))
                System.err.println(s"[graft] recoverSwap($tbl): failed to delete " +
                  s"superseded generation ${p.getName}")
            }
          // The stale lock itself is the crashed writer's last leftover
          // (ADVICE r17 low): leaving it wedged every subsequent
          // publishBucketed at Files.createFile until an operator deleted it
          // by hand — the data recovered automatically but the store stayed
          // unwritable. Having already ACTED on the "writer is dead"
          // adjudication by renaming its stage, deleting the lock adds no new
          // risk — but re-check staleness at the deletion instant: between
          // our adjudication and now, a NEW publish could have started (after
          // a concurrent recovery deleted the old lock first), and its FRESH
          // lock must not be swept.
          val m = StoreFs.mtime(fs, lock)
          if (m > 0 && System.currentTimeMillis() - m >= swapLockFreshMs)
            StoreFs.deleteQuietly(fs, lock)
        }
      }
    }

  // --------------------------------------------------------------------
  // Delta-proportional label publish (VERDICT r17 next #2). A cluster-label
  // table is cluster MEMBERSHIP — at sf100 the sig tier's ~5M rows — and
  // the stage-then-swap rewrote ALL of it on every maintenance run, so a 1%
  // batch paid ~1.2× the bare clustering query just to publish (82.3 vs
  // 67.9 s, PERF_NOTES r17 SigMaint). The fix is the lakehouse MERGE shape
  // done at the file layer, the same pattern as the append+compact store
  // tiers: each run appends only the CHANGED + FIRST-TIME labels into a
  // sibling bucketed delta table `<tbl>_delta (key, canonical_id, seq)`,
  // readers overlay the delta onto the base generation latest-run-wins, and
  // once [[LabelFoldRuns]] runs have accreted the delta folds into a fresh
  // base generation through the crash-safe [[publishBucketed]] and the
  // delta is cleared. Per-run publish cost is now proportional to the
  // DELTA (batch-touched components), not the corpus; the full rewrite
  // still happens, but amortized 1/[[LabelFoldRuns]].
  // --------------------------------------------------------------------

  /** Fold cadence for [[publishLabelDelta]]: after this many delta appends
    * the overlay folds into a fresh base generation. Bounds both the
    * delta's size (the read-side broadcast) and its per-bucket file count
    * — a delta append is one file per bucket per run, the [[compactStore]]
    * accretion shape, and the fold IS its compaction. @volatile test seam:
    * the crash-window specs (Round14/15/17Spec) set 1 to drive the
    * stage-then-swap machinery through every maintenance run — the pre-r18
    * behavior they were written against. */
  @volatile private[graft] var LabelFoldRuns: Int = 8

  /** Delta-size ceiling shared by the overlay's broadcast hint and the
    * size-triggered fold (VERDICT r18 next #1/#4). Two jobs:
    *   - READ side: [[readLabels]] hints `broadcast()` on the delta key set
    *     only while the delta table's Catalyst size estimate
    *     (`optimizedPlan.stats.sizeInBytes` = its on-disk parquet bytes —
    *     a driver-side listing read, NO Spark job; a first cut counted
    *     rows with `count()`, whose one-task-per-bucket-file job put
    *     seconds back on the sf100 steady read this tier exists to keep
    *     cheap) is at or under this ceiling; above it the anti-join falls
    *     back to a plain join and lets the planner/AQE decide — both the
    *     base and the delta are bucketed on the key with the SAME width,
    *     so the fallback is a zero-exchange sort-merge anti join, not a
    *     corpus shuffle. The r18 unconditional hint was a driver-memory
    *     liability at 100-TB batch sizes (tens of millions of changed
    *     labels × the fold cadence — a forced driver broadcast in the
    *     hundreds of MB to GB).
    *   - WRITE side: [[publishLabelDelta]] folds EARLY when the accreted
    *     delta crosses this ceiling, whatever the run count — so a store
    *     maintained through the registered paths never even serves the
    *     fallback regime in steady state; the guard covers the crash
    *     residue window and deltas written by other code.
    * 32 MB of (key, canonical, seq) parquet ≈ a million keys ≈ tens of MB
    * as a driver-built hash relation — safe on any reasonable driver, ~3×
    * the tested sf100 regime (~400k keys ≈ 12 MB). @volatile test seam:
    * specs shrink it to drive the fallback plan and the early fold
    * without building million-row fixtures. */
  @volatile private[graft] var LabelDeltaMaxBytes: Long = 32L << 20

  /** Current labels of a delta-tier table: the base generation overlaid
    * with any delta appends, LATEST RUN WINS per key. The overlay is
    * designed to keep the steady read near the bare bucketed scan: within
    * the delta a key appears at most once per run (runs append changed ∪
    * first-time, which are disjoint and key-unique), so max_by(seq) is
    * exchange-free over the bucketed delta, and the base side only passes
    * through an anti-join against the (cadence- AND size-bounded,
    * see [[LabelDeltaMaxBytes]]) delta keys — broadcast while the delta is
    * small, zero-exchange bucketed sort-merge once it is not; neither
    * regime shuffles or sorts the corpus-sized side. Ties cannot
    * happen: seq is strictly increasing per append ([[publishLabelDelta]]
    * derives it from the table's own max), and a crash-interrupted append
    * re-drives under a FRESH seq, superseding its partial rows with
    * identical values (the deterministic fixed point). */
  private[graft] def readLabels(s: SparkSession, tbl: String, keyCol: String): DataFrame = {
    val base = s.table(tbl).select(col(keyCol), col("canonical_id"))
    if (!s.catalog.tableExists(s"${tbl}_delta")) base
    else {
      val dt = s.table(s"${tbl}_delta")
      val latest = dt
        .groupBy(keyCol)
        .agg(max_by(col("canonical_id"), col("seq")).as("canonical_id"))
      // On-disk bytes upper-bound the distinct-key payload, and the stats
      // estimate is a driver-side file listing — no job on the read path
      // (the cheap bound VERDICT r18 asked for).
      val keys = latest.select(keyCol)
      val guarded =
        if (dt.queryExecution.optimizedPlan.stats.sizeInBytes
              <= BigInt(LabelDeltaMaxBytes)) broadcast(keys)
        else keys
      base.join(guarded, Seq(keyCol), "left_anti")
        .unionByName(latest.select(col(keyCol), col("canonical_id")))
    }
  }

  /** Publish one maintenance run's label changes as a DELTA append, folding
    * into the base at the [[LabelFoldRuns]] cadence. `delta` must hold
    * exactly the keys whose canonical changed plus the first-time-labeled
    * keys — key-unique, disjoint from unchanged rows (the
    * [[graft.ops.Dedup.maintainSigClusterStore]] derivation).
    *
    * Crash windows, all of which leave a readable, convergent store:
    *   - mid-append: partial per-bucket files carry this run's seq; the
    *     re-driven run recomputes the SAME values (deterministic fixed
    *     point) under a fresh higher seq, which supersedes them key-by-key;
    *   - between fold's publish and the delta clear: the delta's rows now
    *     duplicate the folded base VALUES, so latest-wins is a no-op and
    *     the next append's seq still rises from the residue's max;
    *   - mid-clear: same — every surviving residue row equals the base.
    * Single-writer per store is the module-wide maintenance contract (one
    * scheduler-owned process per store — the [[compactStore]] /
    * [[publishBucketed]] requirement); the fold path additionally holds the
    * swap lock inside [[publishBucketed]] itself. */
  private[graft] def publishLabelDelta(s: SparkSession, tbl: String, keyCol: String,
                                       defaultBuckets: Int, delta: DataFrame): Unit = {
    val meta = storeMeta(s)(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val w = meta.bucketSpec.map(_.numBuckets).getOrElse(defaultBuckets)
    val baseLoc = new org.apache.hadoop.fs.Path(meta.location)
    val stem = meta.properties.getOrElse(StemProp, storeStem(baseLoc.getName))
    // `<stem>_delta` never matches [[GenSuffixRe]], so the generation
    // orphan sweep can never reclaim a live delta.
    val deltaLoc = new org.apache.hadoop.fs.Path(baseLoc.getParent, s"${stem}_delta")
    val dt = s"${tbl}_delta"
    val nextSeq = 1L + (if (!s.catalog.tableExists(dt)) 0L
      else s.table(dt).agg(max(col("seq"))).head().toSeq.head match {
        case null => 0L
        case x => x.asInstanceOf[Long]
      })
    delta.withColumn("seq", lit(nextSeq))
      .repartition(w, col(keyCol))
      .write.bucketBy(w, keyCol).sortBy(keyCol)
      .option("path", deltaLoc.toString).mode("append").saveAsTable(dt)
    // Empty appends (a no-change replay) do not advance the fold counter —
    // `runs` counts seqs with actual rows. Cadence ≤ 1 folds UNCONDITIONALLY,
    // reproducing the pre-r18 publish-every-run semantics exactly (the old
    // path rewrote the table even for a fixed-point replay) — that is what
    // the crash-window specs pin through the seam. The fold ALSO triggers
    // early on delta SIZE (VERDICT r18 next #4): one oversized batch must
    // not leave an overlay whose read degrades for the rest of the cadence
    // window — fold it into the base in this same call, so reads of a
    // registered-path store only ever see a ≤[[LabelDeltaMaxBytes]] delta.
    val runs = s.table(dt).select("seq").distinct().count()
    val deltaBytes = s.table(dt).queryExecution.optimizedPlan.stats.sizeInBytes
    if (runs >= LabelFoldRuns || LabelFoldRuns <= 1 ||
        deltaBytes > BigInt(LabelDeltaMaxBytes)) {
      // Fold: the overlay becomes the next base generation via the
      // crash-safe stage-then-swap, then the delta files retire. The stage
      // write READS base + delta and writes a third location, so there is
      // no self-read hazard; the superseded base generation is deleted only
      // after the swap commits (publishBucketed's contract).
      publishBucketed(s, tbl, keyCol, defaultBuckets, readLabels(s, tbl, keyCol))
      val fs = StoreFs.fs(s, deltaLoc)
      StoreFs.listFiles(fs, deltaLoc).foreach(st => fs.delete(st.getPath, false))
      s.catalog.refreshTable(dt)
    }
  }

  /** Registered day-N maintenance WITH compaction: day 1 writes the store
    * from quarter 0 of the corpus, days 2-4 [[appendNovel]] quarters 1-3
    * (three appends -> up to four files per bucket), then [[compactStore]]
    * rewrites every multi-file bucket to one sorted file. The probe reads
    * the maintained table — after compaction it is once again the
    * single-file-per-bucket, sort-free-scannable store that day 1 wrote,
    * now holding the canonical fingerprint set of the WHOLE corpus, which
    * is exactly what the oracle checks (Round10Spec pins the sort-free
    * plan property itself). */
  val dedupStoreCompact: Q = (s, d) => {
    val fps = Tables(s, d, "documents")
      .select(md5(col("text").cast("binary")).as("fp"),
        pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(4L)).as("b"))
    val tbl = canonStoreName(d) + "_cmp"
    buildStoreOnce(s, s"cmp_$d", tbl) { loc =>
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      fps.filter(col("b") === 0).select("fp").distinct()
        .repartition(StoreBuckets, col("fp"))
        .write.bucketBy(StoreBuckets, "fp").sortBy("fp")
        .option("path", loc).mode("overwrite").saveAsTable(tbl)
      (1 to 3).foreach { day =>
        appendNovel(s, tbl, fps.filter(col("b") === day).select("fp").distinct())
      }
      compactStore(s, tbl)
    }
    s.table(tbl).orderBy("fp")
  }

  /** Winnowing-style document fingerprints: rolling word-3-gram hashes,
    * 0-mod-p sampled — two documents sharing content share fingerprints, so
    * a join on (fp) finds copied passages across a 100 TB corpus with a
    * shuffle proportional to the sampled fingerprint count (~1/8 of
    * shingles), not the text. (Schleimer et al., "Winnowing: Local
    * Algorithms for Document Fingerprinting" — the mod-p sampling variant.)
    * Hashes with [[Dedup.portableHash]] so the whole pipeline is
    * DuckDB-oracle-checked. */
  val winnowFingerprints: Q = (s, d) =>
    // Per-document array computation, ZERO shuffle (r10: the exploded
    // groupBy twin — kept as Round10Spec's property-test reference —
    // shuffled every sampled shingle row on doc_id and went super-linear in
    // the sf100 probe; all of n_fps/min/max are per-doc, so the corpus
    // never needs to leave its input partitions). The hash+sample step is
    // the native codegen'd [[graft.functions.HashSampleMod]] — the HOF
    // `filter(transform(...))` it replaces interpreted a full md5 Column
    // tree per shingle (9.3 s isolated at sf100 vs the rest of the text
    // tier's ~1 s/decade after [[graft.functions.Shingles]]).
    Tables(s, d, "documents")
      .select(col("doc_id"),
        graft.functions.Functions.hashSampleMod(
          Dedup.shingles(col("text")), 8).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_fps"),
        array_min(col("hs")).as("min_fp"), array_max(col("hs")).as("max_fp"))
      .orderBy("doc_id")

  /** The exploded/groupBy formulation of [[winnowFingerprints]] — test-only
    * reference for the property comparison (the registered query computes
    * the same values per document without a shuffle). */
  def winnowFingerprintsExploded(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("sh"))
      .select(col("doc_id"), Dedup.portableHash(col("sh")).as("h"))
      .filter(pmod(col("h"), lit(8)) === 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        min(col("h")).as("min_fp"), max(col("h")).as("max_fp"))

  /** TRUE winnowing (Schleimer et al., "Winnowing: Local Algorithms for
    * Document Fingerprinting", §4 — the actual algorithm, vs the 0-mod-p
    * sampling variant above): slide a window of w=4 consecutive shingle
    * hashes over each document in position order and select each window's
    * MINIMUM hash, rightmost on ties. Unlike mod-p sampling this carries the
    * detection-gap GUARANTEE: every w consecutive shingles contribute at
    * least one fingerprint, so no shared passage of length ≥ w+k-1 tokens
    * can go unfingerprinted (pinned in DedupSpec).
    *
    * Shape: one posexplode + ONE window sweep partitioned by doc_id — the
    * shuffle key is the document, never the corpus, and the per-doc sweep is
    * a single ordered pass (Spark's sliding-min over a 4-row frame). The
    * rightmost-tie rule rides the same min: the selection key packs
    * (hash, position) into one long as `h30·2^20 + (2^20-1-pos)`, so the
    * minimal key IS the minimal hash with the largest position — and being
    * pure integer arithmetic over [[Dedup.portableHash]] the whole selection
    * is replayed exactly by the DuckDB oracle (pos_sum pins the selected
    * POSITIONS, not just the hash set). Docs with fewer than w shingles fall
    * back to their global min (the paper's construction assumes n ≥ w);
    * positions are bounded by 2^20 shingles/doc — beyond that, widen the
    * pack (hashes fold to 30 bits, leaving 33 spare). */
  def winnowSelections(docs: DataFrame, w: Int = 4): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), posexplode(Dedup.shingles(col("text"))).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"),
        ((Dedup.portableHash(col("sh")) % lit(1073741824L)) * lit(1048576L)
          + (lit(1048575L) - col("pos"))).as("k"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    hashed
      .withColumn("wmin", min(col("k")).over(win))
      .withColumn("nsh", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .filter(col("pos") >= w - 1 || col("pos") === col("nsh") - 1)
      .select(col("doc_id"),
        shiftright(col("wmin"), 20).as("fp"),
        (lit(1048575L) - (col("wmin") % lit(1048576L))).as("selpos"))
      .distinct()
  }

  /** [[winnowSelections]]' packed DISTINCT selection set as ONE array per
    * document — the zero-shuffle form (r10). The window sweep, the
    * rightmost-tie rule, and the distinct all happen inside the row via the
    * native codegen'd [[graft.functions.WinnowKeys]] expression: one O(n)
    * monotonic-deque pass per document (hash → 30-bit fold → positional
    * pack → w-window min → adjacent dedup, which IS `array_distinct`
    * because the pack is bijective). The sf100 probe measured the window
    * twin super-linear (47 s median, ~13×/decade — its one hash exchange
    * carries EVERY shingle of the corpus and the per-partition sort
    * spills); the first zero-shuffle form fixed the exchange but composed
    * `transform(sequence, p -> array_min(slice(ks, ...)))` — CodegenFallback
    * plus a w-element allocation per shingle position, 65 s isolated at
    * sf10 once the bench stopped column-pruning it. The HOF twin survives
    * as [[winnowPerDocHof]], the bit-identity reference Round10Spec pins
    * fuzzed. */
  def winnowPerDoc(docs: DataFrame, w: Int = 4): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.Functions.winnowKeys(
        Dedup.shingles(col("text")), w).as("dsels"))

  /** The higher-order-function formulation [[winnowPerDoc]] replaces —
    * test-only bit-identity reference (Round10Spec), never registered. */
  def winnowPerDocHof(docs: DataFrame, w: Int = 4): DataFrame =
    docs
      .select(col("doc_id"),
        transform(Dedup.shingles(col("text")), (x, i) =>
          (Dedup.portableHash(x) % lit(1073741824L)) * lit(1048576L)
            + (lit(1048575L) - i.cast("long"))).as("ks"))
      .select(col("doc_id"), col("ks"), size(col("ks")).as("n"))
      .select(col("doc_id"),
        array_distinct(
          when(col("n") < w, array(array_min(col("ks"))))
            .otherwise(transform(sequence(lit(w - 1), col("n") - 1), p =>
              array_min(slice(col("ks"), p - lit(w - 2), lit(w)))))).as("dsels"))

  val winnowTrue: Q = (s, d) =>
    winnowPerDoc(Tables(s, d, "documents"))
      .select(col("doc_id"),
        size(col("dsels")).cast("long").as("n_fps"),
        shiftright(array_min(col("dsels")), 20).as("min_fp"),
        shiftright(array_max(col("dsels")), 20).as("max_fp"),
        aggregate(col("dsels"), lit(0L),
          (acc, k) => acc + (lit(1048575L) - (k % lit(1048576L)))).as("pos_sum"))
      // Semantically a no-op (the shingle fallback guarantees >= 1
      // selection per doc; EdgeSpec pins the sub-w fallback) but it keeps
      // count()-shaped consumers — the bench harness among them — honest:
      // a pure projection is column-pruned to a row count under count(),
      // which would report the selection work as free. q_winnow_fps's
      // genuinely selective filter does the same job there.
      .filter(col("n_fps") > 0)
      .orderBy("doc_id")

  /** PII scrubbing — the redaction pass every pretraining corpus runs:
    * emails, URLs, and phone numbers replaced by typed placeholder tokens,
    * with per-document match counts for audit/rollup. Patterns are kept in
    * the RE2-compatible subset (no backrefs/lookaround) so Spark's Java
    * regex and the oracle's RE2 match identically; the scrubbed text is
    * emitted as an md5 fingerprint, which both keeps the compare payload
    * small and proves the REDACTED BYTES are identical cross-engine, not
    * just the counts. Pure per-row map over one scan — read-bandwidth at
    * 100 TB, composes with column pruning. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^ ]+"
  private val PhoneRe = "\\d{3}[- ]\\d{3}[- ]\\d{4}"

  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), UrlRe, "<URL>"), PhoneRe, "<PHONE>")

  val piiScrub: Q = (s, d) =>
    Tables(s, d, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("n_urls"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
        md5(scrubPii(col("text"))).as("scrubbed_fp"))
      .orderBy("doc_id")

  /** Benchmark-contamination screen (decontamination): which training-corpus
    * documents share winnowing fingerprints with an evaluation/benchmark
    * set? Both sides get mod-p-sampled shingle fingerprints ([[Dedup
    * .portableHash]], same family as [[winnowFingerprints]]); one equi-join
    * on the fingerprint value + a pair-count aggregate surfaces
    * (benchmark doc, corpus doc, #shared passages). At 100 TB the benchmark
    * fp set is tiny (thousands of eval documents) and BROADCASTS, so the
    * screen is a map-side filter over the corpus scan — here both sides
    * come from the fixture split (hash digit 0 = "benchmark") so the whole
    * decision is DuckDB-oracle-checked. */
  def contaminationScreen(bench: DataFrame, corpus: DataFrame): DataFrame = {
    def fps(df: DataFrame) = df
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("sh"))
      .select(col("doc_id"), Dedup.portableHash(col("sh")).as("h"))
      .filter(pmod(col("h"), lit(8)) === 0)
      .distinct()
    fps(bench).withColumnRenamed("doc_id", "bench_id")
      .join(fps(corpus).withColumnRenamed("doc_id", "corpus_id"), "h")
      .groupBy("bench_id", "corpus_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  val contamination: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
      .withColumn("b", pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(10L)))
    contaminationScreen(docs.filter(col("b") === 0), docs.filter(col("b") =!= 0))
      .orderBy("bench_id", "corpus_id")
  }

  /** Heuristic language-ID: CJK char-class detection + per-language stopword
    * voting. Pure Column expression (codegen'd); accuracy is asserted on real
    * multilingual sentences in LangIdSpec, and the full decision function is
    * mirrored in the DuckDB oracle (same stopword sets, same vote ordering). */
  def detectLang(text: Column): Column = {
    val toks = transform(tokens(lower(text)), t => t)
    def hits(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words: _*)))
    val en = hits(Seq("the", "and", "of", "is", "a", "to", "in"))
    val es = hits(Seq("el", "la", "los", "las", "que", "de", "y", "es"))
    val fr = hits(Seq("le", "les", "des", "est", "et", "une", "dans"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "nicht", "ein"))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(es > en && es >= fr && es >= de, "es")
      .when(fr > en && fr >= de, "fr")
      .when(de > en, "de")
      .otherwise("en")
  }

  val langId: Q = (s, d) =>
    Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"), detectLang(col("text")).as("predicted_lang"))
      .orderBy("doc_id")

  /** Corpus word count (explode → group → top-k): the canonical shuffle
    * benchmark; map-side partial counts mean the shuffle carries one row per
    * (task, token), not per occurrence. */
  val wordcount: Q = (s, d) =>
    Tables(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(20)

  /** Quality scoring batch 2: punctuation ratio, uppercase ratio, mean word
    * length — the length/punct side of the classic pretraining quality
    * filters (ASCII character classes so Spark's Java regex and the oracle's
    * RE2 agree exactly). Pure per-row arithmetic → bit-exact vs the oracle. */
  /** ASCII punctuation, exactly the class `[!-/:-@\[-`{-~]`. */
  private val PunctChars: String =
    ((33 to 47) ++ (58 to 64) ++ (91 to 96) ++ (123 to 126)).map(_.toChar).mkString

  /** Count class members by DELETION, not regex rewrite:
    * `len(text) - len(translate(text, chars, ""))` — translate is a
    * codegen'd per-character map with no pattern compilation and no
    * rewritten copy of the document per metric, where the previous
    * three `regexp_replace("[^class]", "")` passes each rebuilt the
    * whole text to measure its length (r12: 29.3 s in-sweep → 1.7 s
    * isolated at sf10 under the honest bench action; byte-identical
    * counts, oracle unchanged). */
  private def classCount(text: Column, chars: String): Column =
    (length(text) - length(translate(text, chars, ""))).cast("double")

  val punctQuality: Q = (s, d) =>
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        (classCount(col("text"), PunctChars) / length(col("text"))).as("punct_ratio"),
        (classCount(col("text"), ('A' to 'Z').mkString) / length(col("text"))).as("upper_ratio"),
        // mean word length = NON-space chars per token; classCount counts
        // the spaces, so subtract them from the total length.
        ((length(col("text")) - classCount(col("text"), " "))
          / size(tokens(col("text")))).as("mean_word_len"))
      .orderBy("doc_id")

  /** Per-document n-gram familiarity score: the average corpus frequency of
    * a document's word bigrams. Documents full of rare bigrams are the
    * noisy/outlier candidates a pretraining quality filter flags — the
    * count-based cousin of an LM perplexity score, kept integer-exact
    * (sum of counts / count) so it is bit-stable across engines.
    *
    * Skew-safe shape (round 8; replaces the round-7 window count over bg):
    * a `Window.partitionBy(<token key>)` forces EVERY occurrence of one key
    * into one task — no map-side combine, and AQE cannot skew-split a window
    * the way it splits a join, so at corpus scale a Zipf-heavy bigram
    * ("of the") becomes a straggler/spill bomb. Instead: per-(doc, bigram)
    * counts FIRST (map-side-combinable; collapses within-doc repeats),
    * materialized ONCE via localCheckpoint (the repo's iterative-lineage
    * pattern — this is what made the round-5 freq-join slow: the exploded
    * subtree was computed twice, 5.2s vs ~1s), then the corpus frequency is
    * a groupBy over the tf frame — only DISTINCT bigrams cross the wire —
    * and the join back on bg is an equi-join AQE can skew-split (or the
    * heavy tail can broadcast). `avg = Σ tf·cnt / Σ tf` reproduces the
    * per-occurrence average exactly in integer arithmetic. */
  val bigramQuality: Q = (s, d) => {
    val tf = Tables(s, d, "documents")
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), n = 2)).as("bg"))
      .groupBy("doc_id", "bg")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val freq = tf.groupBy("bg").agg(sum(col("tf")).as("cnt"))
    tf.join(freq, Seq("bg"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        (sum(col("tf") * col("cnt")).cast("double") / sum(col("tf"))).as("avg_bigram_freq"))
      .orderBy("doc_id")
  }

  /** Reproducible systematic sampling: a 10% corpus sample selected by hash
    * range, not `rand()` — the same rows come back on every run, on every
    * engine, at any parallelism. At 100 TB this is THE way to cut
    * dev/eval corpora: no shuffle, no state, composes with pushdown. */
  val sample: Q = (s, d) =>
    Tables(s, d, "documents")
      .filter(pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(100L)) < 10)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** Hash-based train/val/test split (80/10/10): assignment is a pure
    * function of the stable document id, so it never changes as the corpus
    * grows or repartitions — the reproducibility property a training
    * pipeline needs from its split step. */
  val trainSplit: Q = (s, d) => {
    val h = pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(100L))
    Tables(s, d, "documents")
      .withColumn("split", when(h < 80, "train").when(h < 90, "val").otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")
  }

  /** Composite C4/Gopher-style quality gate: word-count bounds, mean word
    * length bounds, stopword-ratio cap — the rule stack a pretraining
    * pipeline applies before anything expensive. All thresholds evaluate in
    * exact integer arithmetic (`10 * stop_cnt <= 3 * n_words` instead of a
    * float ratio) so the keep/drop decision is bit-stable across engines
    * and reruns. Pure per-row map over one scan: at 100 TB this runs at
    * read bandwidth and composes with column pruning. */
  val qualityFilter: Q = (s, d) => {
    val toks = tokens(col("text"))
    val nw = size(toks)
    val stopCnt = size(filter(toks, t => t.isin(StopWords: _*)))
    // Tokens are single-space separated, so total word chars = n_chars -
    // (n_words - 1) and the mean length is exact rational arithmetic.
    val meanWlen = (col("n_chars") - (nw - lit(1)).cast("long")).cast("double") / nw
    Tables(s, d, "documents")
      .select(col("doc_id"), nw.as("n_words"), stopCnt.as("stop_cnt"),
        meanWlen.as("mean_wlen"),
        (nw.between(30, 80) && meanWlen >= 3.0 && meanWlen <= 6.0 &&
          stopCnt * lit(10) <= nw * lit(3)).as("keep"))
      .orderBy("doc_id")
  }

  /** Within-document repetition: the share of bigrams taken by the single
    * most frequent bigram (boilerplate/spam detector — high ratio = the doc
    * repeats itself). Ties break to the lexicographically smallest bigram
    * so the witness row is deterministic. Explode + per-doc groupBy + tiny
    * ranked window: the shuffle key is doc_id, never the corpus. */
  val repetition: Q = (s, d) => {
    // The per-doc winner is an argmax, not a ranking: min_by over
    // (-cnt, bg) picks the highest count with lexicographically-smallest
    // tie-break in ONE map-side-combinable aggregate — a ranked window here
    // would add a per-partition sort and carry every (doc, bigram) row
    // through it just to keep row 1 (the round-5 shape; same result).
    val winner = struct(col("bg").as("bg"), col("cnt").as("cnt"))
    val key = struct((-col("cnt")).as("negcnt"), col("bg").as("bg"))
    Tables(s, d, "documents")
      .select(col("doc_id"), Dedup.shingles(col("text"), n = 2).as("bgs"))
      .select(col("doc_id"), size(col("bgs")).as("n_bigrams"),
        explode(col("bgs")).as("bg"))
      .groupBy("doc_id", "n_bigrams", "bg")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "n_bigrams")
      .agg(min_by(winner, key).as("w"))
      .select(col("doc_id"), col("w.bg").as("top_bigram"), col("w.cnt").as("bg_cnt"),
        (col("w.cnt").cast("double") / col("n_bigrams")).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** TF-IDF top-3 terms per document, with a rational idf (`tf * N / df`
    * on exact integer counts, single double division) instead of a log —
    * same ranking behavior for ranking purposes, and bit-identical across
    * engines where `log` is only correctly-rounded-ish. Two shuffles (term
    * df, doc_id rank); the corpus-size scalar broadcasts. */
  val tfidf: Q = (s, d) => {
    // Skew-safe df (round 8; replaces the round-7 window count over term —
    // the [[bigramQuality]] rationale: a window on a Zipf token key has no
    // map-side combine and no AQE skew split). The tf frame materializes
    // once (localCheckpoint), df is a map-side-combined groupBy over it, and
    // the join back rides an AQE-skew-splittable equi key. The remaining
    // window partitions by doc_id — bounded per-document fan-in, not a
    // corpus-frequency key.
    val tf = Tables(s, d, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables(s, d, "documents").agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "tf", "df", "score")
      .orderBy("doc_id", "rk")
  }

  /** Concat-and-split sequence packing (GPT-style pretraining batches):
    * within each language stream, documents are laid out in stable doc_id
    * order and cut every `budget` tokens; a document's bin is its exclusive
    * running-token-count DIV budget. The window key is the stratum (lang),
    * so packing parallelizes across strata; at 100 TB the per-stratum
    * prefix sum is the classic two-pass pattern (per-partition subtotals,
    * then offset broadcast) — semantically identical to this window. */
  val pack: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      // floor(x/512), not an integral-cast: Spark truncates double→long but
      // DuckDB rounds, so the oracle mirrors an explicit floor on both sides.
      .withColumn("bin",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / lit(512)).cast("long"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .orderBy("lang", "bin")
  }

  /** Sliding-window chunking for embedding/retrieval ingestion: fixed
    * 32-token windows with stride 24 (8-token overlap); the trailing chunk
    * truncates at the document end. Emits a scalar fingerprint per chunk
    * (not the array) so results stay oracle-comparable. Pure per-row
    * explode: no shuffle until someone aggregates the chunks. */
  val chunk: Q = (s, d) => {
    val W = 32
    val S = 24
    val toks = tokens(col("text"))
    val n = size(toks)
    val nch = when(n <= W, lit(1))
      .otherwise(floor((n - lit(W) + lit(S - 1)) / lit(S)).cast("int") + lit(1))
    Tables(s, d, "documents")
      .select(col("doc_id"), toks.as("t"), nch.as("nch"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("nch") - 1),
          i => struct(i.as("chunk_id"),
            concat_ws(" ", slice(col("t"), i * S + 1, lit(W))).as("chunk")))).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        size(split(col("c.chunk"), " ")).as("chunk_tokens"),
        md5(col("c.chunk")).as("chunk_fp"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Stratified reproducible sampling: per-language rates (en 10%, else
    * 30%) keyed on the engine-portable document hash — the training-mix
    * rebalancing step, with the same grows-stably / repartitions-stably
    * guarantee as [[sample]]. */
  val stratified: Q = (s, d) => {
    val h = pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(100L))
    Tables(s, d, "documents")
      .withColumn("rate", when(col("lang") === "en", lit(10L)).otherwise(lit(30L)))
      .filter(h < col("rate"))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")
  }

  /** Corpus-duplicated n-gram coverage (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022 — the ExactSubstr
    * diagnostic at fixed n): for every document, how many of its DISTINCT
    * token 8-grams also occur in at least one OTHER document, and the
    * covered fraction. This is the pre-training screen for cross-document
    * boilerplate that survives both exact and near dedup (shared spans
    * inside otherwise-distinct pages).
    *
    * Shape — never all-pairs: distinct (doc, gram-hash) pairs, materialized
    * once (localCheckpoint), → map-side-combined `groupBy(gh).count()` (only
    * DISTINCT gram hashes cross the wire) → AQE-skew-splittable join back →
    * per-doc aggregate. The shuffles carry the 60-bit [[Dedup.portableHash]]
    * of each gram, never the 8-token string — at 100 TB that's the
    * difference between shuffling ~8× the corpus text and 8 bytes/gram.
    * (Round 8 replaced the round-7 window count over gh: a boilerplate
    * 8-gram shared by millions of pages pinned every occurrence into one
    * window task — the [[bigramQuality]] Zipf-key rationale.)
    * Docs with fewer than 8 tokens have no 8-grams and drop out (mirrored
    * by the oracle's empty range()). */
  val dupNgrams: Q = (s, d) => {
    val n = 8
    val toks = tokens(col("text"))
    val pairs = Tables(s, d, "documents")
      .filter(size(toks) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(toks) - lit(n)),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))).as("g"))
      .select(col("doc_id"), Dedup.portableHash(col("g")).as("gh"))
      .distinct()
      .localCheckpoint()
    val freq = pairs.groupBy("gh").agg(count(lit(1)).as("docfreq"))
    pairs.join(freq, Seq("gh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("docfreq") >= 2, 1L).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_frac",
        round(col("dup_grams").cast("double") / col("n_grams"), 4))
      .orderBy("doc_id")
  }

  /** [[dupNgrams]] with a DUPLICATED-GRAM PREFILTER on the join-back
    * (VERDICT r17 next #4 candidate): most 8-grams are singletons
    * (docfreq = 1), yet the docfreq join-back shuffles every
    * (doc_id, gh) pair on gh regardless. This variant splits the two
    * per-doc statistics:
    *   - `n_grams` comes straight from a map-side-combined
    *     `groupBy(doc_id)` over the pairs — the shuffle carries ~1 row
    *     per (task, doc), not per gram;
    *   - `dup_grams` counts only pairs whose gh is in the DUPLICATED
    *     minority (`docfreq >= 2`), reached through a broadcast semi
    *     join — a map-side filter, no pair shuffle on gh at all when
    *     the duplicated-gram set fits a broadcast (the q_heavy_hitters
    *     broadcast-candidate pattern).
    * The freq aggregate itself (distinct gh → map-side-combined count)
    * is unchanged — it is the irreducible floor. Same results by
    * construction (DupNgramsProbe checksum-compares); registered only if
    * the sf100 probe shows the join-back actually dominates — recorded
    * either way per the verdict's done-criterion. */
  private[graft] val dupNgramsPrefilter: Q = (s, d) => {
    val n = 8
    val toks = tokens(col("text"))
    val pairs = Tables(s, d, "documents")
      .filter(size(toks) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(toks) - lit(n)),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))).as("g"))
      .select(col("doc_id"), Dedup.portableHash(col("g")).as("gh"))
      .distinct()
      .localCheckpoint()
    val dupSet = pairs.groupBy("gh").agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") >= 2).select("gh")
    val perDoc = pairs.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val dupPerDoc = pairs.join(broadcast(dupSet), Seq("gh"))
      .groupBy("doc_id").agg(count(lit(1)).as("dup_grams"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_frac",
        round(col("dup_grams").cast("double") / col("n_grams"), 4))
      .orderBy("doc_id")
  }

  /** First BPE merge step (Sennrich et al., "Neural Machine Translation of
    * Rare Words with Subword Units", ACL 2016 §3.2): corpus-wide frequencies
    * of adjacent symbol pairs within tokens — the statistic the BPE trainer
    * maximizes at every merge. One explode per token position and a single
    * count shuffle whose key is the 2-char pair (tiny domain → near-perfect
    * map-side combine); at 100 TB the pair table is KBs, so the shuffle
    * carries one row per (task, pair), not per occurrence. */
  val bpePairs: Q = (s, d) =>
    Tables(s, d, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)

  /** Vocabulary-coverage curve: the smallest top-k vocabulary (by corpus
    * frequency, ties to the lexicographically smaller token) covering 50 /
    * 75 / 90 / 95 / 99% of all token occurrences — the truncation analysis
    * run before freezing a tokenizer vocab. Thresholds evaluate in exact
    * integer arithmetic (`cum*100 >= total*p`), so the reported sizes are
    * bit-stable across engines. The rank/cumsum window runs over the
    * AGGREGATED vocabulary — corpus-sublinear (a 100 TB crawl has ~10^7-10^8
    * distinct tokens, not 10^11), so the single-partition sort is of the
    * vocab table only; beyond that, the same cumsum decomposes into the
    * classic two-pass per-bucket prefix sum. n_total and vocab_size come
    * from the SAME window pass (unbounded max over the cumsum/rank — the
    * ranking window's single partition, no extra shuffle) instead of a
    * second aggregate over `counts`, so the corpus-wide explode+groupBy
    * subtree appears exactly once in the plan (round-8 fix: it previously
    * appeared twice and relied on ReusedExchange to not execute twice). */
  val vocabCoverage: Q = (s, d) => {
    val counts = Tables(s, d, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val order = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok"))
    val whole = org.apache.spark.sql.expressions.Window.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val ranked = counts
      .withColumn("rk", row_number().over(order).cast("long"))
      .withColumn("cum", sum(col("cnt")).over(order.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("n_total", max(col("cum")).over(whole))
      .withColumn("vocab_size", max(col("rk")).over(whole))
    val covs = Seq(50, 75, 90, 95, 99).map(p =>
      min(when(col("cum") * 100 >= col("n_total") * p, col("rk"))).as(s"v$p"))
    ranked
      .groupBy()
      .agg(max(col("n_total")).as("n_total"),
        (max(col("vocab_size")).as("vocab_size") +: covs): _*)
  }

  /** Temperature-scaled language mixing weights (the multilingual sampling
    * rebalance of mBERT/XLM-R: p_l ∝ n_l^α with α = 1/2, exposed here via
    * IEEE-exact sqrt): each language's sampling weight and the implied epoch
    * multiplier over its natural share. Two rows of shuffle per language —
    * the counts aggregate is the only corpus-sized work. The normalizer
    * z = Σ sqrt(n_l) is the one cross-partition double sum here, and float
    * addition order is an engine's choice — so it is pinned: the per-
    * language terms are collected (one tiny row per language), sorted
    * ascending, and folded left-to-right, which both Spark (`aggregate`
    * over `array_sort`) and the oracle (`list_reduce(list_sort(...))`)
    * replay bit-identically at any parallelism. */
  val mixWeights: Q = (s, d) => {
    val counts = Tables(s, d, "documents")
      .groupBy("lang").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("n_total"),
      aggregate(array_sort(collect_list(sqrt(col("cnt")))), lit(0.0d),
        (acc, x) => acc + x).as("z"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("cnt"),
        round(sqrt(col("cnt")) / col("z"), 6).as("weight"),
        round(sqrt(col("cnt")) / col("z") * col("n_total") / col("cnt"), 6)
          .as("epochs"))
      .orderBy("lang")
  }

  /** Per-source provenance audit: document counts, language spread, volume,
    * and the count of docs whose exact text also appears elsewhere in the
    * corpus — the per-domain quality/dup dashboard used to set source
    * mixing weights. The duplicate flag groups on md5(text) (round 8;
    * previously a window partitioned by RAW text — both the Zipf-window
    * problem AND full text on the wire): the digest projection materializes
    * once (localCheckpoint — one scan, text never leaves the map side), the
    * dup count is a map-side-combined groupBy on the 16-byte digest, and the
    * join back is AQE-skew-splittable. md5 groups exactly like text
    * (collision-free at any realistic corpus size), so the oracle is
    * unchanged. */
  val sourceStats: Q = (s, d) => {
    val base = Tables(s, d, "documents")
      .select(col("source"), col("lang"), col("n_chars"),
        md5(col("text").cast("binary")).as("fp"))
      .localCheckpoint()
    val dupCnt = base.groupBy("fp").agg(count(lit(1)).as("dups"))
    base.join(dupCnt, Seq("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("dups") >= 2, 1L).otherwise(0L)).as("dup_docs"))
      .orderBy("source")
  }

  /** END-TO-END curation pipeline — the composed "day in the life" query a
    * pretraining-data user actually runs, as ONE oracle-checked plan:
    *
    *   1. quality gate ([[qualityFilter]]'s integer-exact rule stack) —
    *      per-row map, read bandwidth;
    *   2. exact dedup (keep min doc_id per md5 fingerprint) — map-side-
    *      combined groupBy on the digest + composite-key join back, never a
    *      window on content;
    *   3. near-dup drop: minhash → 16-band LSH → exact-Jaccard ≥ 0.6 →
    *      connected components → keep each cluster's LONGEST doc (ties to
    *      min doc_id, [[Dedup.clusterKeep]]'s rule), anti-join the rest out;
    *   4. hash-based 80/10/10 split assignment ([[trainSplit]]'s rule) and
    *      per-(split, lang) corpus accounting.
    *
    * The quality-gated, exact-deduped survivor set materializes once
    * (localCheckpoint) and feeds signatures, verify, winner metadata, and
    * the final anti-join — the multi-consumer analog of the iterative-
    * lineage pattern. Every stage is engine-portable, so the WHOLE pipeline
    * — LSH decisions included — replays in DuckDB via the parameterized
    * [[Dedup.labelsCte]] mirror over the same staged CTEs. */
  val curationPipeline: Q = (s, d) => {
    val toks = tokens(col("text"))
    val nw = size(toks)
    val stopCnt = size(filter(toks, t => t.isin(StopWords: _*)))
    val meanW = (col("n_chars") - (nw - lit(1)).cast("long")).cast("double") / nw
    val quality = Tables(s, d, "documents")
      .filter(nw.between(30, 80) && meanW >= 3.0 && meanW <= 6.0 &&
        stopCnt * lit(10) <= nw * lit(3))
    val fps = quality.withColumn("fp", md5(col("text").cast("binary")))
    val keepIds = fps.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
    val exact = fps.join(keepIds, Seq("fp", "doc_id")).drop("fp")
      .localCheckpoint()
    val cands = Dedup.candidatePairs(Dedup.minhashBands(Dedup.minhashSignatures(exact)))
    val verified = Dedup.exactJaccard(cands, exact).filter(col("jaccard") >= 0.6)
    val members = Dedup.connectedComponentsAuto(verified.select("doc_a", "doc_b"))
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
      .join(exact.select("doc_id", "n_chars"), Seq("doc_id"))
    val winners = members.groupBy("cluster")
      .agg(min_by(col("doc_id"),
        struct((-col("n_chars")).as("neg"), col("doc_id").as("d"))).as("keep_id"))
    val drops = members.join(winners, Seq("cluster"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    val h = pmod(Dedup.portableHash(col("doc_id").cast("string")), lit(100L))
    exact.join(drops, Seq("doc_id"), "left_anti")
      .withColumn("split", when(h < 80, "train").when(h < 90, "val").otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")
  }

  /** Fixed-SIZE reproducible sample: the k documents with the smallest
    * salted portable hash — a deterministic priority sample (uniform-weight
    * Efraimidis–Spirakis), the fixed-budget companion to the rate-based
    * [[sample]]. Same engine-portable reproducibility; the plan is a
    * TakeOrderedAndProject (per-partition top-k, merge on the driver-side
    * heap), never a full sort — at 100 TB each task ships k rows. */
  val prioritySample: Q = (s, d) =>
    Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        Dedup.portableHash(concat(lit("ps:"), col("doc_id").cast("string"))).as("pri"))
      .orderBy("pri", "doc_id")
      .limit(25)

  val queries: Map[String, Q] = Map(
    "q_priority_sample" -> prioritySample,
    "q_bpe_pairs" -> bpePairs,
    "q_vocab_coverage" -> vocabCoverage,
    "q_mix_weights" -> mixWeights,
    "q_source_stats" -> sourceStats,
    "q_pack" -> pack,
    "q_dup_ngrams" -> dupNgrams,
    "q_chunk" -> chunk,
    "q_stratified" -> stratified,
    "q_quality_filter" -> qualityFilter,
    "q_repetition" -> repetition,
    "q_tfidf" -> tfidf,
    "q_bigram_q" -> bigramQuality,
    "q_sample" -> sample,
    "q_split" -> trainSplit,
    "q_punct" -> punctQuality,
    "q_wordcount" -> wordcount,
    "q_dedup_exact" -> dedupExact,
    "q_dedup_incremental" -> dedupIncremental,
    "q_dedup_bloom" -> dedupBloom,
    "q_dedup_store" -> dedupStore,
    "q_dedup_store_maint" -> dedupStoreMaint,
    "q_dedup_store_compact" -> dedupStoreCompact,
    "q_curation_pipeline" -> curationPipeline,
    "q_pii_scrub" -> piiScrub,
    "q_contamination" -> contamination,
    "q_text_stats" -> textStats,
    "q_token_count" -> tokenCount,
    "q_text_quality" -> textQuality,
    "q_lang_stats" -> langStats,
    "q_fingerprint" -> fingerprint,
    "q_winnow_fps" -> winnowFingerprints,
    "q_winnow_true" -> winnowTrue,
    "q_langid" -> langId,
  )

  /** The q_quality_filter keep predicate as DuckDB SQL (shared by the
    * standalone gate's oracle and the pipeline mirror). */
  private val QualityKeepSql =
    "(len(str_split(text, ' ')) BETWEEN 30 AND 80) AND " +
      "CAST(n_chars - (len(str_split(text, ' ')) - 1) AS DOUBLE) / len(str_split(text, ' ')) >= 3.0 AND " +
      "CAST(n_chars - (len(str_split(text, ' ')) - 1) AS DOUBLE) / len(str_split(text, ' ')) <= 6.0 AND " +
      "len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))) * 10 <= len(str_split(text, ' ')) * 3"

  /** Stage-for-stage DuckDB mirror of [[curationPipeline]]: quality CTE →
    * exact-dedup CTE → [[Dedup.labelsCte]] over the survivor set → winner
    * argmax → anti-join → split accounting. */
  private val CurationPipelineOracle: String =
    s"WITH q AS (SELECT * FROM documents WHERE $QualityKeepSql), " +
      "e AS MATERIALIZED (SELECT q.* FROM q JOIN (SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM q GROUP BY 1) k " +
      "ON md5(q.text) = k.fp AND q.doc_id = k.doc_id), " +
      s"${Dedup.labelsCte("e")}, " +
      "m AS (SELECT l5.id AS doc_id, l5.comp AS cluster, d.n_chars FROM l5 JOIN e d ON l5.id = d.doc_id), " +
      "w AS (SELECT cluster, doc_id AS keep_id FROM (SELECT cluster, doc_id, " +
      "row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rk FROM m) x WHERE rk = 1), " +
      "drops AS (SELECT m.doc_id FROM m JOIN w ON m.cluster = w.cluster WHERE m.doc_id <> w.keep_id), " +
      "kept AS (SELECT * FROM e WHERE doc_id NOT IN (SELECT doc_id FROM drops)) " +
      "SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split, lang, " +
      "CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars " +
      "FROM (SELECT lang, n_chars, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS h FROM kept) z " +
      "GROUP BY 1, 2 ORDER BY 1, 2"

  val oracle: Map[String, String] = Map(
    "q_curation_pipeline" -> CurationPipelineOracle,
    "q_priority_sample" ->
      """SELECT doc_id, lang, n_chars, ('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS pri FROM documents ORDER BY pri, doc_id LIMIT 25""",
    "q_bpe_pairs" ->
      """SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(list_transform(range(1, len(tok)), i -> substr(tok, i, 2))) AS pair FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents) t WHERE len(tok) >= 2) p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""",
    "q_vocab_coverage" ->
      """WITH c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents) x GROUP BY tok), r AS (SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rk, CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM c), t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS vocab_size FROM c) SELECT max(n_total) AS n_total, max(vocab_size) AS vocab_size, min(CASE WHEN cum*100 >= n_total*50 THEN rk END) AS v50, min(CASE WHEN cum*100 >= n_total*75 THEN rk END) AS v75, min(CASE WHEN cum*100 >= n_total*90 THEN rk END) AS v90, min(CASE WHEN cum*100 >= n_total*95 THEN rk END) AS v95, min(CASE WHEN cum*100 >= n_total*99 THEN rk END) AS v99 FROM r CROSS JOIN t""",
    "q_mix_weights" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY lang), t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, list_reduce(list_sort(list(sqrt(cnt))), (a, b) -> a + b) AS z FROM c) SELECT lang, cnt, round(sqrt(cnt) / z, 6) AS weight, round(sqrt(cnt) / z * n_total / cnt, 6) AS epochs FROM c CROSS JOIN t ORDER BY lang""",
    "q_source_stats" ->
      """WITH w AS (SELECT source, lang, n_chars, count(*) OVER (PARTITION BY text) AS dups FROM documents) SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, CAST(sum(n_chars) AS BIGINT) AS total_chars, CAST(sum(CASE WHEN dups >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs FROM w GROUP BY source ORDER BY source""",
    "q_dup_ngrams" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents), g AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 7), i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3], toks[i+4], toks[i+5], toks[i+6], toks[i+7], toks[i+8]))) AS g FROM t), p AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh FROM g), w AS (SELECT doc_id, count(*) OVER (PARTITION BY gh) AS docfreq FROM p) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, CAST(sum(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams, round(CAST(sum(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac FROM w GROUP BY doc_id ORDER BY doc_id""",
    "q_pack" ->
      """WITH t AS (SELECT doc_id, lang, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), b AS (SELECT lang, n_tokens, CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS bin FROM t) SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens FROM b GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_chunk" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents), c AS (SELECT doc_id, toks, CASE WHEN len(toks) <= 32 THEN 1 ELSE CAST(floor((len(toks) - 32 + 23.0) / 24) AS BIGINT) + 1 END AS nch FROM t), e AS (SELECT doc_id, toks, unnest(range(0, nch)) AS chunk_id FROM c) SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id, CAST(len(toks[chunk_id*24+1 : chunk_id*24+32]) AS INTEGER) AS chunk_tokens, md5(array_to_string(toks[chunk_id*24+1 : chunk_id*24+32], ' ')) AS chunk_fp FROM e ORDER BY doc_id, chunk_id""",
    "q_stratified" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < CASE WHEN lang = 'en' THEN 10 ELSE 30 END GROUP BY lang ORDER BY lang""",
    "q_quality_filter" ->
      """SELECT doc_id, CAST(len(str_split(text, ' ')) AS INTEGER) AS n_words, CAST(len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS INTEGER) AS stop_cnt, CAST(n_chars - (len(str_split(text, ' ')) - 1) AS DOUBLE) / len(str_split(text, ' ')) AS mean_wlen, (len(str_split(text, ' ')) BETWEEN 30 AND 80) AND CAST(n_chars - (len(str_split(text, ' ')) - 1) AS DOUBLE) / len(str_split(text, ' ')) >= 3.0 AND CAST(n_chars - (len(str_split(text, ' ')) - 1) AS DOUBLE) / len(str_split(text, ' ')) <= 6.0 AND len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))) * 10 <= len(str_split(text, ' ')) * 3 AS keep FROM documents ORDER BY doc_id""",
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks, text FROM documents), bg AS (SELECT doc_id, CAST(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 1 END AS INTEGER) AS n_bigrams, unnest(CASE WHEN len(toks) >= 2 THEN list_transform(range(0, len(toks) - 1), i -> concat_ws(' ', toks[i+1], toks[i+2])) ELSE [text] END) AS bg FROM t), c AS (SELECT doc_id, n_bigrams, bg, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2, 3), r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg) AS rk FROM c) SELECT doc_id, bg AS top_bigram, cnt AS bg_cnt, CAST(cnt AS DOUBLE) / n_bigrams AS rep_ratio FROM r WHERE rk = 1 ORDER BY doc_id""",
    "q_tfidf" ->
      """WITH tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents) x GROUP BY 1, 2), dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents), r AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score FROM tf JOIN dfreq USING (term) CROSS JOIN n) SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tf, df, score FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM r) z WHERE rk <= 3 ORDER BY doc_id, rk""",
    "q_bigram_q" ->
      s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks, text FROM documents), bg AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN list_transform(range(0, len(toks) - 1), i -> concat_ws(' ', toks[i+1], toks[i+2])) ELSE [text] END) AS bg FROM t), freq AS MATERIALIZED (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(cnt) AS DOUBLE) / count(*) AS avg_bigram_freq FROM bg JOIN freq USING (bg) GROUP BY doc_id ORDER BY doc_id""",
    "q_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 10 ORDER BY doc_id""",
    "q_split" ->
      """SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split, lang, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM (SELECT lang, n_chars, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS h FROM documents) t GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_winnow_fps" ->
      s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks, text FROM documents), sh AS (SELECT doc_id, unnest(${Dedup.ShinglesSql}) AS sh FROM t), h AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps, min(h) AS min_fp, max(h) AS max_fp FROM h WHERE h % 8 = 0 GROUP BY doc_id ORDER BY doc_id""",
    "q_winnow_true" ->
      s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks, text FROM documents), sh AS (SELECT doc_id, unnest(${Dedup.ShinglesSql}) AS sh, generate_subscripts(${Dedup.ShinglesSql}, 1) - 1 AS pos FROM t), h AS (SELECT doc_id, pos, ((('0x' || substr(md5(sh), 1, 15))::BIGINT % 1073741824) * 1048576 + (1048575 - pos)) AS k FROM sh), wm AS (SELECT doc_id, pos, min(k) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin, count(*) OVER (PARTITION BY doc_id) AS nsh FROM h), sel AS (SELECT DISTINCT doc_id, wmin // 1048576 AS fp, 1048575 - (wmin % 1048576) AS selpos FROM wm WHERE pos >= 3 OR pos = nsh - 1) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps, min(fp) AS min_fp, max(fp) AS max_fp, CAST(sum(selpos) AS BIGINT) AS pos_sum FROM sel GROUP BY doc_id ORDER BY doc_id""",
    "q_punct" ->
      """SELECT doc_id, CAST(length(regexp_replace(text, '[^!-/:-@[-`{-~]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio, CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) AS upper_ratio, CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(str_split(text, ' ')) AS mean_word_len FROM documents ORDER BY doc_id""",
    "q_wordcount" ->
      """SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents) t GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""",
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, text, CAST(count(*) AS BIGINT) AS dup_cnt FROM documents GROUP BY text ORDER BY doc_id""",
    "q_contamination" ->
      s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks, text, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS b FROM documents), sh AS (SELECT doc_id, b, unnest(${Dedup.ShinglesSql}) AS sh FROM t), f AS (SELECT DISTINCT doc_id, b, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh WHERE ('0x' || substr(md5(sh), 1, 15))::BIGINT % 8 = 0) SELECT a.doc_id AS bench_id, c.doc_id AS corpus_id, CAST(count(*) AS BIGINT) AS n_shared FROM f a JOIN f c ON a.h = c.h WHERE a.b = 0 AND c.b <> 0 GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_pii_scrub" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails, CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INTEGER) AS n_urls, CAST(len(regexp_extract_all(text, '\d{3}[- ]\d{3}[- ]\d{4}')) AS INTEGER) AS n_phones, md5(regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), 'https?://[^ ]+', '<URL>', 'g'), '\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g')) AS scrubbed_fp FROM documents ORDER BY doc_id""",
    "q_dedup_bloom" ->
      """WITH fps AS (SELECT doc_id, md5(text) AS fp, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS b FROM documents), canon AS (SELECT DISTINCT fp FROM fps WHERE b = 0), newb AS (SELECT fp, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS batch_dups FROM fps WHERE b = 1 GROUP BY fp) SELECT doc_id, fp, batch_dups FROM newb WHERE NOT EXISTS (SELECT 1 FROM canon WHERE canon.fp = newb.fp) ORDER BY doc_id""",
    "q_dedup_incremental" ->
      """WITH fps AS (SELECT doc_id, md5(text) AS fp, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS b FROM documents), canon AS (SELECT DISTINCT fp FROM fps WHERE b = 0), newb AS (SELECT fp, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS batch_dups FROM fps WHERE b = 1 GROUP BY fp) SELECT doc_id, fp, batch_dups FROM newb WHERE NOT EXISTS (SELECT 1 FROM canon WHERE canon.fp = newb.fp) ORDER BY doc_id""",
    "q_dedup_store" ->
      """WITH fps AS (SELECT doc_id, md5(text) AS fp, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS b FROM documents), canon AS (SELECT DISTINCT fp FROM fps WHERE b = 0), newb AS (SELECT fp, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS batch_dups FROM fps WHERE b = 1 GROUP BY fp) SELECT doc_id, fp, batch_dups FROM newb WHERE NOT EXISTS (SELECT 1 FROM canon WHERE canon.fp = newb.fp) ORDER BY doc_id""",
    // The maintained store after the day-2 append is the canonical
    // fingerprint set of the ENTIRE corpus (day-1 canon ∪ day-2 novel =
    // every distinct fp) — so the oracle is a one-liner over documents
    // while the Spark side reads the physically maintained bucketed table.
    "q_dedup_store_maint" ->
      """SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp""",
    // Same canonical-set contract as _maint: after 3 appends + compaction
    // the store holds every distinct fp of the corpus; the oracle verifies
    // the compacted table's CONTENT survived the file rewrite bit-exactly.
    "q_dedup_store_compact" ->
      """SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp""",
    "q_text_stats" ->
      """SELECT doc_id, CAST(len(str_split(text, ' ')) AS INTEGER) AS tokens, CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS bpe_tokens, n_chars, CAST(n_chars AS DOUBLE) / len(str_split(text, ' ')) AS chars_per_token FROM documents ORDER BY doc_id""",
    "q_token_count" ->
      """WITH p AS (SELECT doc_id, n_chars, str_split(text, ' ') AS ws, list_filter(regexp_extract_all(text, '''(s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'), x -> NOT regexp_matches(x, '^\s+$')) AS pieces FROM documents) SELECT doc_id, CAST(len(ws) AS INTEGER) AS ws_tokens, CAST(len(pieces) AS INTEGER) AS bpe_pieces, CAST(n_chars AS DOUBLE) / len(pieces) AS chars_per_piece FROM p ORDER BY doc_id""",
    "q_text_quality" ->
      """SELECT doc_id, CAST(len(str_split(text, ' ')) AS INTEGER) AS tokens, CAST(len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS INTEGER) AS stop_cnt, CAST(len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) / len(str_split(text, ' ')) AS stop_ratio, CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE) / len(str_split(text, ' ')) AS distinct_ratio FROM documents ORDER BY doc_id""",
    "q_lang_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY lang ORDER BY lang""",
    "q_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id""",
    "q_langid" ->
      """WITH t AS (SELECT doc_id, lang, text, str_split(lower(text), ' ') AS toks FROM documents), v AS (SELECT doc_id, lang, text, len(list_filter(toks, x -> x IN ('the','and','of','is','a','to','in'))) AS en, len(list_filter(toks, x -> x IN ('el','la','los','las','que','de','y','es'))) AS es, len(list_filter(toks, x -> x IN ('le','les','des','est','et','une','dans'))) AS fr, len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein'))) AS de FROM t) SELECT doc_id, lang, CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh' WHEN es > en AND es >= fr AND es >= de THEN 'es' WHEN fr > en AND fr >= de THEN 'fr' WHEN de > en THEN 'de' ELSE 'en' END AS predicted_lang FROM v ORDER BY doc_id""",
  )
}
