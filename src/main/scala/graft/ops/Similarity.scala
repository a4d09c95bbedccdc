package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Embedding similarity search (north-star mandate) over
  * `embeddings.embedding: array<float>` (dim=64).
  *
  * Vector math uses codegen'd higher-order functions (`zip_with` +
  * `aggregate`) in double precision — no UDFs. Three search paths:
  *   - brute-force top-k (the correctness baseline): one scan, per-row dot
  *     product, TakeOrderedAndProject — O(N·dim), embarrassingly parallel;
  *   - sign-LSH bucketed top-k (a 100 TB path): vectors are bucketed by the
  *     sign pattern of their leading dims; a probe only scores buckets within
  *     hamming distance 1 of the query's bucket. With the bucket as a
  *     partition/cluster column, that's partition pruning — the scan itself
  *     shrinks ~25× (9/256 buckets probed);
  *   - IVF inverted-file cells ([[ivfSearch]], the other 100 TB path):
  *     nearest-centroid assignment at ingest, nProbe-cell pruning at query.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** Elementwise-cast to double (floats widen exactly). */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product via zip_with + ordered fold — deterministic accumulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private[graft] def queryVector(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qemb"))

  /** Brute-force cosine top-10 against the vec_id=0 query vector, scored by
    * the native codegen'd [[graft.functions.CosineSimilarity]] expression
    * (bit-identical to the `cosine` composition above — asserted in
    * NativeExprSpec — but with zero per-row array allocation). */
  val cosineTopk: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings").filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    emb.crossJoin(broadcast(queryVector(s, d)))
      .select(col("vec_id"),
        graft.functions.Functions.cosineSim(col("embedding"), col("qemb")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), round(col("cos"), 2).as("cos_sim"))
      .orderBy("vec_id")
  }

  /** Sign-LSH bucket id from the leading `bits` dimensions. */
  def signBucket(v: Column, bits: Int = 8): Column =
    (0 until bits)
      .map(i => when(element_at(v, i + 1) > 0.0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** ANN top-10: score only vectors whose sign-bucket is within hamming
    * distance 1 of the query's bucket (multiprobe). Approximate → rows-only
    * check; recall vs brute force asserted in SimilaritySpec. */
  val annLsh: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings").filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
      .withColumn("bucket", signBucket(col("embedding")))
    val q = queryVector(s, d).withColumn("qbucket", signBucket(col("qemb")))
    emb.crossJoin(broadcast(q))
      .filter(bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= 1)
      .select(col("vec_id"),
        graft.functions.Functions.cosineSim(col("embedding"), col("qemb")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), round(col("cos"), 2).as("cos_sim"))
      .orderBy("vec_id")
  }

  /** Per-vector L2 norm + the embeddings ⋈ labels profile — exercises array
    * aggregation end-to-end (oracle-checked through list_aggregate-free SQL:
    * norms are IEEE-exact sqrt of an ordered double fold... DuckDB's list
    * fold order is unspecified, so norms are rounded to 6). */
  val embedStats: Q = (s, d) =>
    Tables(s, d, "embeddings")
      .groupBy("label")
      .agg(count(lit(1)).as("cnt"), size(first(col("embedding"))).as("dim"))
      .orderBy("label")

  /** Embedding-cosine near-duplicate pairs: sign-LSH bucketing (shuffle on
    * the bucket key) then pairwise cosine only WITHIN buckets — the
    * embedding-space analog of minhash-LSH for text, and the only shape that
    * survives 100 TB (never all-pairs; bucket width tunes recall/cost).
    * Approximate by construction → rows-only check; recall proven on planted
    * duplicates in SimilaritySpec. */
  def embedNearDupPairs(embIn: DataFrame, threshold: Double, bits: Int = 8): DataFrame = {
    val emb = embIn
      .select(col("vec_id"), col("embedding"))
      .withColumn("bucket", signBucket(col("embedding"), bits))
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("bucket"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.Functions.cosineSim(col("emb_a"), col("emb_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 2).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  // Threshold 0.35: real dedup uses ~0.95+, but the driver fixtures are
  // i.i.d. gaussians (no true near-dups), so the demo threshold sits where
  // the fixture's bucket-mate cosine tail produces output; recall at a real
  // threshold is proven on planted duplicates in SimilaritySpec. Bucket
  // width derives from the corpus count via [[autoBits]] (r09: the sf10
  // sweep measured the fixed 8-bit bucket space going 6.3× at 10× data —
  // the same quadratic-occupancy tail autoBits already fixed for
  // [[embedNearDup2]]); the floor pins bits = 8 at the sf0.01 oracle
  // fixture, where the hardcoded 8-bit DuckDB mirror runs.
  val embedNearDup: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings")
    embedNearDupPairs(emb, 0.35, bits = autoBits(emb.count()))
  }

  /** OR-amplified sign-LSH bands: `bands` independent `bits`-dim sign
    * projections, band i reading dims [i·bits+1, (i+1)·bits]. Emits one
    * (band, bucket) row per vector per band — the embedding analog of
    * [[Dedup.minhashBands]]'s 16-band OR construction: a pair is a candidate
    * when it collides on ≥ 1 band, so recall amplifies as 1-(1-p^bits)^bands
    * instead of the single-projection p^bits (tunable by bands, vs the
    * hamming-radius multiprobe of [[annLsh]] which re-scans neighbor
    * buckets). Scale note (r08 sweep, PERF_NOTES): `bits` fixes the bucket
    * space at 2^bits per band, so occupancy — and within-bucket candidate
    * pairs, ~quadratically — grows with the corpus. Tune
    * bits ≈ log2(N / target_occupancy): 8 at the sf0.01-0.1 fixtures, 12 at
    * sf1, +~3 per further 10×. The oracle is generated from the same
    * constants and follows automatically. */
  def bandBuckets(v: Column, bands: Int = 4, bits: Int = 8): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        (0 until bits)
          .map(i => when(element_at(v, b * bits + i + 1) > 0.0, lit(1 << i)).otherwise(lit(0)))
          .reduce(_ + _).as("bucket"))
    }: _*)

  /** Near-duplicate pairs via OR-amplified bands: explode each vector into
    * its band buckets, equi-join on (band, bucket) — never all-pairs — then
    * dedup candidate pairs BEFORE the exact-cosine verify (a pair colliding
    * on k bands must score once, not k times; at 100 TB the verify is the
    * expensive half, so the dedup goes first). One shuffle on (band,bucket),
    * one on the pair key; fully deterministic → DuckDB-oracle-checked,
    * unlike the fixture-threshold [[embedNearDup]] demo this upgrades.
    * The pairs come unordered: every store caller feeds them to a join,
    * a union or connected components, where a global sort is a range
    * exchange and a sort for nothing; [[embedNearDup2]] sorts its result. */
  def embedNearDupBanded(embIn: DataFrame, threshold: Double,
                         bands: Int = 4, bits: Int = 8): DataFrame = {
    val eb = embIn
      .select(col("vec_id"), col("embedding"),
        explode(bandBuckets(col("embedding"), bands, bits)).as("bb"))
      .select(col("vec_id"), col("embedding"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val a = eb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("band"), col("bucket"))
    val b = eb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      col("band"), col("bucket"))
    // Cosine + threshold evaluate BEFORE the cross-band dedup (r10): the
    // old shape deduped first — groupBy(vec_a, vec_b) over rows still
    // CARRYING both embeddings, an exchange of candidate-pairs × ~520 B
    // that filled the disk at the sf100 probe (the join's own inputs are
    // only 4N banded vector rows; it was the pair-dedup shuffle that blew
    // up). Verifying first costs up to `bands` cosine evaluations per
    // duplicated pair — in-stage, codegen'd, no exchange — and shrinks the
    // dedup shuffle to the threshold SURVIVORS' (vec_a, vec_b, cos)
    // triples. cos is a pure function of the pair, so first() per band
    // duplicate is exact and the output is bit-identical.
    a.join(b, Seq("band", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.Functions.cosineSim(col("emb_a"), col("emb_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("vec_a", "vec_b")
      .agg(first(col("cos")).as("cos"))
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 2).as("cos_sim"))
  }

  /** Corpus-adaptive band width: `bits = clamp(floor, cap,
    * ceil(log2(n / targetOccupancy)))`, so expected bucket occupancy —
    * and with it within-bucket candidate pairs per point — stays ~constant
    * as the corpus grows (the r08 sweep measured fixed 8-bit buckets going
    * 5.9× at 10× data; this derivation is the fix the sweep prescribed:
    * 8 bits at the sf0.01-0.1 fixtures, 12 at sf1, 15 at sf10). The floor
    * keeps the small-fixture output — and with it the DuckDB oracle, which
    * hardcodes the 8-bit mirror — unchanged at sf0.01; the cap is the
    * geometry bound bands × bits <= dim (4 × 16 = 64). */
  def autoBits(n: Long, targetOccupancy: Int = 16, floor: Int = 8, cap: Int = 16): Int = {
    val needed = math.ceil(
      math.log(math.max(n, 1L).toDouble / targetOccupancy) / math.log(2.0)).toInt
    math.min(cap, math.max(floor, needed))
  }

  // Threshold 0.40 (vs embedNearDup's 0.35): 4-band OR-amplification admits
  // ~16x the candidate pairs, so the demo threshold moves up the fixture's
  // cosine tail to keep the output a near-dup list rather than a pair dump
  // (8 rows at sf0.01; real dedup runs ~0.95 — see the planted recall test
  // in SimilaritySpec). Band width derives from the corpus count (parquet
  // metadata — no data scan) via [[autoBits]]: at the sf0.01 oracle fixture
  // the floor pins bits = 8, exactly what the hardcoded DuckDB mirror
  // computes, so the hash check is conclusive there while the same
  // registered query stays scale-safe at every larger SF.
  val embedNearDup2: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings")
    embedNearDupBanded(emb, 0.40, bits = autoBits(emb.count())).orderBy("vec_a", "vec_b")
  }

  // --------------------------------------------------------------------
  // Persistent EMBEDDING band store — the embedding tier's incremental
  // screen, symmetric with the text tier's signature store
  // ([[Dedup.buildSigStore]]): band buckets are computed once per vector
  // EVER and persisted bucketed on the probe keys, so a new batch screens
  // against the accumulated corpus by computing ITS buckets only and
  // probing two zero-store-side-exchange bucketed joins:
  //   <base>_ebands (band, bucket, vec_id) bucketed by (band, bucket);
  //   <base>_evecs  (vec_id, embedding)    bucketed by vec_id (the
  //     cosine-verify side).
  // `bits` is index metadata fixed at build time (the IVF-centroid
  // convention — production derives it via [[autoBits]] from the day-0
  // corpus and retrains on a rebuild, not per append).
  // --------------------------------------------------------------------

  val EmbedStoreBuckets = 16

  private def embedBandsOf(vecs: DataFrame, bands: Int, bits: Int): DataFrame =
    vecs.select(col("vec_id"), explode(bandBuckets(col("embedding"), bands, bits)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  def buildEmbedBandStore(s: SparkSession, base: String, loc: String, vecs: DataFrame,
                          bands: Int = 4, bits: Int = 8,
                          buckets: Int = EmbedStoreBuckets): Unit = {
    s.sql(s"DROP TABLE IF EXISTS ${base}_ebands")
    s.sql(s"DROP TABLE IF EXISTS ${base}_evecs")
    TextOps.bucketedWriter(embedBandsOf(vecs, bands, bits), buckets, "band", "bucket")
      .option("path", s"$loc/ebands").mode("overwrite").saveAsTable(s"${base}_ebands")
    TextOps.bucketedWriter(vecs.select("vec_id", "embedding"), buckets, "vec_id")
      .option("path", s"$loc/evecs").mode("overwrite").saveAsTable(s"${base}_evecs")
    // (bands, bits) is build-time INDEX METADATA: a screen or append run
    // with different values silently produces mismatched buckets — near-dups
    // screen as novel with no error (ADVICE r12). Persist it on the table so
    // every later operation reads it back instead of trusting its caller.
    s.sql(s"ALTER TABLE ${base}_ebands SET TBLPROPERTIES" +
      s" ('graft.bands'='$bands', 'graft.bits'='$bits')")
  }

  /** The store's build-time (bands, bits), read from `${base}_ebands`'s
    * table properties. Caller-supplied values of -1 mean "whatever the
    * store says" (the steady-state read path — no corpus count, no guessed
    * default); explicit values must EQUAL the stored metadata, failing fast
    * on mismatch instead of silently screening against wrong buckets. A
    * store without the properties (not built by [[buildEmbedBandStore]])
    * fails, naming the missing ones. */
  private[graft] def embedStoreParams(s: SparkSession, base: String,
                                      bands: Int = -1, bits: Int = -1): (Int, Int) = {
    val props = TextOps.storeMeta(s, s"${base}_ebands").properties
    val missing = Seq("graft.bands", "graft.bits").filterNot(props.contains)
    require(missing.isEmpty, s"embed band store '$base' has no ${missing.mkString(", ")} " +
      s"table propert${if (missing.size == 1) "y" else "ies"} on ${base}_ebands — " +
      "it was not built by buildEmbedBandStore, so its band geometry is unknown")
    val (sb, st) = (props("graft.bands").toInt, props("graft.bits").toInt)
    require(bands < 0 || bands == sb,
      s"embed band store '$base' was built with bands=$sb; caller passed bands=$bands")
    require(bits < 0 || bits == st,
      s"embed band store '$base' was built with bits=$st; caller passed bits=$bits")
    (sb, st)
  }

  /** Append a batch of (vec_id, embedding) rows the caller has already
    * screened as novel; each table's own catalog bucket spec is honored
    * ([[TextOps.appendBucketed]]) and the batch must be
    * materialized if its lineage reads either store table. (bands, bits)
    * resolve from the store's own table properties ([[embedStoreParams]]).
    * The VECTOR table appends first: a crash between the two writes then
    * leaves a vector row without band rows — inert (never a candidate,
    * never probed) — whereas the old bands-first order left a band row
    * whose verify lookup found no vector (ADVICE r12, the
    * [[Dedup.appendSigStore]] ordering rationale). */
  def appendEmbedBandStore(s: SparkSession, base: String, vecs: DataFrame,
                           bands: Int = -1, bits: Int = -1): Unit = {
    val (bn, bt) = embedStoreParams(s, base, bands, bits)
    TextOps.appendBucketed(s, s"${base}_evecs", vecs.select("vec_id", "embedding"))
    TextOps.appendBucketed(s, s"${base}_ebands", embedBandsOf(vecs, bn, bt))
  }

  /** Screen a batch against the persisted band store: candidates from the
    * bucketed (band, bucket) join, cosine verify against the store's
    * vector table on the existing-side id — both probes shuffle the batch
    * side only. Output: (vec_id, n_cands, best_cos, novel); best_cos
    * coalesces to -1.0 (below any real cosine) for candidate-less rows. */
  def screenEmbedStore(s: SparkSession, base: String, batch: DataFrame,
                       threshold: Double = 0.40,
                       bands: Int = -1, bits: Int = -1): DataFrame = {
    val (bn, bt) = embedStoreParams(s, base, bands, bits)
    val cands = embedBandsOf(batch, bn, bt)
      .join(s.table(s"${base}_ebands").select(
        col("band"), col("bucket"), col("vec_id").as("ex_id")), Seq("band", "bucket"))
      .select(col("vec_id").as("vec_a"), col("ex_id").as("vec_b"))
      .distinct()
    val best = cands
      .join(batch.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(s.table(s"${base}_evecs").select(
        col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .withColumn("cos",
        graft.functions.Functions.cosineSim(col("emb_a"), col("emb_b")))
      .groupBy("vec_a")
      // countDistinct: identical on a clean store, immune to the duplicate
      // `_evecs` row a crashed-then-replayed append can leave
      // ([[appendEmbedBandStore]]'s vectors-first crash window).
      .agg(countDistinct(col("vec_b")).as("n_cands"), max(col("cos")).as("best"))
    batch.select(col("vec_id"))
      .join(best, col("vec_id") === col("vec_a"), "left")
      .select(col("vec_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        round(coalesce(col("best"), lit(-1.0)), 2).as("best_cos"),
        (coalesce(col("best"), lit(-1.0)) < threshold).as("novel"))
  }

  /** Registered store-backed embedding screen — [[incrementalNearDupScreen]]'s
    * embedding-space twin through the persisted path: the even-vec_id half
    * builds the store (memoized per session × dir), the odd half probes;
    * the DuckDB mirror replays the identical split, bands, candidate join,
    * and cosine aggregation, so the persisted band/vector tables' CONTENT
    * is hash-verified. Band width derives from the day-0 half via
    * [[autoBits]] (the oracle fixture pins the 8-bit floor, larger SFs
    * scale — the q_embed_neardup2 convention). The autoBits corpus count
    * runs INSIDE the memoized build closure only (ADVICE r12: computing it
    * per invocation made every steady-state "reads only" run pay a corpus
    * scan); repeat invocations read bits back from the store's table
    * properties via [[embedStoreParams]]. */
  val embedNearDupStore: Q = (s, d) => {
    val withB = Tables(s, d, "embeddings")
      .withColumn("b", pmod(col("vec_id"), lit(2L)))
    val existing = withB.filter(col("b") === 0).select("vec_id", "embedding")
    val batch = withB.filter(col("b") === 1).select("vec_id", "embedding")
    val base = TextOps.canonStoreName(d) + "_eband"
    TextOps.buildStoreOnce(s, s"ebandstore_$d", base) { loc =>
      buildEmbedBandStore(s, base, loc, existing, bits = autoBits(existing.count()))
    }
    screenEmbedStore(s, base, batch).orderBy("vec_id")
  }

  /** Embedding-space dedup CLUSTERS (the SemDeDup shape — Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): the banded-LSH verified pairs feed
    * the same min-label connected components the text pipeline uses, so
    * semantically-duplicate vectors transitively resolve to one canonical
    * vec_id — the keep-list a semantic dedup pass anti-joins against.
    * Completes the embedding tier's symmetry with the text tier
    * (q_minhash_pairs→q_dedup_clusters :: q_embed_neardup2→this). Scale
    * shape: candidate volume is autoBits-bounded, CC shuffles only the
    * verified pair graph — never the vectors. */
  val embedClusters: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings")
    val pairs = embedNearDupBanded(emb, 0.40, bits = autoBits(emb.count()))
    Dedup.connectedComponentsAuto(
        pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("id").as("vec_id"), col("comp").as("canonical_id"))
      .orderBy("vec_id")
  }

  // --------------------------------------------------------------------
  // SemDeDup cluster MAINTENANCE over the band store: the shared label
  // lifecycle ([[TextOps.buildLabels]] / [[TextOps.maintainLabels]]) with
  // this tier's edges (banded cosine) and append.
  // --------------------------------------------------------------------

  /** Build the band store PLUS the day-0 label table `<base>_elabels
    * (vec_id, canonical_id)` over banded verified pairs within `vecs`
    * ([[TextOps.buildLabels]]). */
  def buildEmbedClusterStore(s: SparkSession, base: String, loc: String, vecs: DataFrame,
                             threshold: Double = 0.40, bands: Int = 4, bits: Int = 8,
                             buckets: Int = EmbedStoreBuckets): Unit = {
    buildEmbedBandStore(s, base, loc, vecs, bands, bits, buckets)
    TextOps.buildLabels(s, s"${base}_elabels", loc, "elabels", "vec_id", buckets,
      embedNearDupBanded(vecs, threshold, bands, bits)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
  }

  /** A batch's NEW verified edges: batch×store candidates from the bucketed
    * band join (store side exchange-free — the [[screenEmbedStore]] plan),
    * cosine-verified against the store's vector table, plus batch×batch
    * pairs via [[embedNearDupBanded]]. Together with the store's already-
    * labeled edges this is exactly the full corpus's verified edge set —
    * without recomputing any accumulated-corpus work. */
  private[graft] def newVerifiedEdges(s: SparkSession, base: String, batch: DataFrame,
                                      threshold: Double, bands: Int, bits: Int): DataFrame = {
    val cross = embedBandsOf(batch, bands, bits)
      .join(s.table(s"${base}_ebands").select(
        col("band"), col("bucket"), col("vec_id").as("ex_id")), Seq("band", "bucket"))
      .select(col("vec_id").as("vec_a"), col("ex_id").as("vec_b"))
      // Inert on a normal day (batch ∩ store = ∅ by the novelty screen),
      // load-bearing on a REPLAY: a re-delivered batch finds its own
      // vectors in the store, and an unfiltered self-pair (cos = 1) would
      // mint a singleton label row the from-scratch clustering never emits.
      .filter(col("vec_a") =!= col("vec_b"))
      .distinct()
      .join(batch.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(s.table(s"${base}_evecs").select(
        col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .filter(graft.functions.Functions.cosineSim(col("emb_a"), col("emb_b")) >= threshold)
      .select("vec_a", "vec_b")
    cross.unionByName(
      embedNearDupBanded(batch, threshold, bands, bits).select("vec_a", "vec_b"))
  }

  /** Day-N cluster maintenance of the band store
    * ([[TextOps.maintainLabels]]). */
  def maintainEmbedClusterStore(s: SparkSession, base: String, batch: DataFrame,
                                threshold: Double = 0.40): Unit =
    TextOps.maintainLabels(s, s"${base}_elabels", "vec_id", s"${base}_ebands", s"${base}_evecs",
      batch, {
        val (bands, bits) = embedStoreParams(s, base)
        newVerifiedEdges(s, base, batch, threshold, bands, bits)
      })(appendEmbedBandStore(s, base, _))

  /** Re-point the label table at its manifest-committed generation after a
    * crash between a fold's manifest PUT and its `SET LOCATION` —
    * [[TextOps.recoverSwap]], which [[TextOps.maintainLabels]] runs first
    * thing; the registered read path runs it before every label read. */
  private[graft] def recoverLabelSwap(s: SparkSession, base: String): Unit =
    TextOps.recoverSwap(s, s"${base}_elabels")

  /** Registered store-backed cluster maintenance — [[embedClusters]]'s
    * incremental twin: the even-vec_id half builds the store + day-0
    * labels (memoized per session × dir), the odd half arrives as a day-N
    * [[maintainEmbedClusterStore]] batch, and the query reads the
    * MAINTAINED label table. The merged fixed point equals from-scratch
    * connected components over the full corpus's verified edges by
    * construction, so this shares [[embedClusters]]'s DuckDB oracle
    * verbatim — the driver hash-verifies the persisted, incrementally-
    * merged labels against a full recomputation. Band width derives from
    * the FULL fixture corpus (the from-scratch parity convention; the
    * oracle fixture pins the 8-bit floor) and is computed inside the build
    * closure only; production fixes it at build time like any index. */
  val embedClustersStore: Q = (s, d) => {
    val withP = Tables(s, d, "embeddings")
      .withColumn("p", pmod(col("vec_id"), lit(2L)))
    val base = TextOps.canonStoreName(d) + "_ecl"
    TextOps.buildStoreOnce(s, s"eclstore_$d", base) { loc =>
      val bits = autoBits(withP.count())
      buildEmbedClusterStore(s, base, loc,
        withP.filter(col("p") === 0).select("vec_id", "embedding"), bits = bits)
      maintainEmbedClusterStore(s, base,
        withP.filter(col("p") === 1).select("vec_id", "embedding"))
    }
    // The read path reconciles the catalog with the manifest itself
    // (VERDICT r14 next #3) — the [[ops.Dedup.dedupClustersStore]] rationale — and
    // reads the delta-overlay view ([[TextOps.readLabels]]).
    recoverLabelSwap(s, base)
    TextOps.readLabels(s, s"${base}_elabels", "vec_id").orderBy("vec_id")
  }

  /** Array scalar functions over the embedding column (size / index /
    * min / max) — all codegen'd, no UDFs. */
  val arrayFns: Q = (s, d) =>
    Tables(s, d, "embeddings")
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        col("embedding").getItem(0).cast("double").as("first_dim"),
        array_min(col("embedding")).cast("double").as("min_dim"),
        array_max(col("embedding")).cast("double").as("max_dim"))
      .orderBy("vec_id")

  /** Per-dimension corpus statistics (posexplode → group by position) — the
    * feature-profile pass of an embedding pipeline. */
  val dimStats: Q = (s, d) =>
    Tables(s, d, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(round(sum(col("x").cast("double")), 4).as("sum_x"), count(lit(1)).as("cnt"))
      .orderBy("pos")

  /** Array transforms: slice / sort / reverse over the embedding prefix
    * (float values pass through exactly — no arithmetic). Output columns are
    * scalars extracted from the transformed arrays: the driver's oracle
    * compare sorts rows with pandas, which cannot hash raw array cells, so an
    * array-typed output column crashes the check (rounds 2-3: q_array_fns2
    * was the one red row for exactly this reason). */
  val arrayFns2: Q = (s, d) => {
    val head4 = slice(col("embedding"), 1, 4)
    Tables(s, d, "embeddings")
      .select(
        col("vec_id"),
        element_at(head4, 1).cast("double").as("head_first"),
        element_at(sort_array(head4), 1).cast("double").as("head_min"),
        element_at(sort_array(head4, asc = false), 1).cast("double").as("head_max"),
        element_at(reverse(head4), 1).cast("double").as("head_last"))
      .orderBy("vec_id")
  }

  /** Nearest-centroid argmax over a LITERAL centroid array — the shared
    * core of [[ivfAssign]] and [[kmeansStep]] (r22). The centroid set is
    * bounded by construction everywhere it is used (K seed rows; k-means
    * cells only ever drop out), so collecting it is the same bounded-
    * metadata license as the ivfCompactCells centroid probe, and the argmax
    * becomes a pure per-row map: array_max over struct(cs, cent_id) is the
    * exact tie order of the old max_by(cent_id, struct(cs, cent_id))
    * (ties go to the larger cent_id), and the nanvl guard is unchanged — a
    * degenerate zero-norm centroid's NaN would otherwise sort GREATER than
    * every real score and silently win every assignment; mapped to -1.0 it
    * loses to any real score. Before r22 both callers crossJoined each
    * vector to K rows and then groupBy'd the K-fold explode away — which
    * round-tripped the FULL embedding payload through a shuffle purely to
    * undo the explode (guide §2.3/§8: shuffle decisions, not payloads).
    * None when the centroid set is empty (the callers' degenerate branch). */
  private[graft] def centroidArgmax(cent: DataFrame): Option[Column] = {
    val centRows = cent.select(col("cent_id"), col("cemb")).collect()
    if (centRows.isEmpty) None
    // The HOF form is the MEASURED winner here, unlike [[pqCodeExprs]]:
    // cosine_sim is one compiled 64-float loop per candidate, so the
    // interpreted-lambda overhead is amortized over real work per element
    // (probe: 5.30 s median at sf100), whereas a flat `greatest` over 16
    // inlined cosine candidates measured ~2× slower in the same harness
    // (q_ivf_kmeans 15.4 vs 8.2 s) — both regimes A/B'd this round.
    else Some(array_max(transform(
      array(centRows.sortBy(_.getLong(0)).map { r =>
        struct(lit(r.getLong(0)).as("cent_id"),
          lit(r.getSeq[Float](1).toArray).as("cemb"))
      }: _*),
      c => struct(
        nanvl(graft.functions.Functions.cosineSim(col("embedding"), c.getField("cemb")),
          lit(-1.0)).as("cs"),
        c.getField("cent_id").as("cent_id")))).getField("cent_id"))
  }

  /** Nearest-centroid cell assignment — the ingest half of IVF, shared by
    * the computed-on-the-fly search ([[ivfSearch]]) and the partitioned
    * store ([[ivfPruned]]). A pure per-row map since r22
    * ([[centroidArgmax]]): one scan, no explode, no payload shuffle — the
    * old crossJoin(K) + groupBy(vec_id) shape moved every embedding through
    * an exchange once per assignment pass. (Assumes vec_id-unique input,
    * which the embeddings fixture and every caller guarantee; the old
    * groupBy silently deduped.) */
  def ivfAssign(emb: DataFrame, cent: DataFrame): DataFrame =
    centroidArgmax(cent) match {
      case Some(best) =>
        emb.select(col("vec_id"), col("embedding"), best.as("cell"))
      case None => // empty centroid set: no row can be assigned (old shape:
        // crossJoin with an empty frame produced zero rows, same schema)
        emb.select(col("vec_id"), col("embedding"),
          lit(null).cast("long").as("cell")).limit(0)
    }

  /** IVF-style ANN core: assign every vector to its nearest "trained"
    * centroid (inverted-file cells), then score only the cells nearest the
    * query. One broadcast (centroids are tiny by construction), one map-side
    * combined groupBy for assignment, one broadcast semi-filter for the
    * probe — never a full scan at probe time. At 100 TB the assignment step
    * runs once at ingest and `cell` becomes a partition/cluster column, so a
    * probe is partition pruning: it reads nProbe/nCentroids of the data —
    * [[ivfPruned]] is that path, registered and plan-pinned. */
  def ivfSearch(emb: DataFrame, cent: DataFrame, q: DataFrame,
                nProbe: Int, k: Int): DataFrame = {
    // nanvl on both argmaxes: NaN (a zero-norm vector or centroid) sorts
    // greater than any double in Spark, so an unguarded degenerate centroid
    // would win every assignment AND every probe. -1.0 loses to any real
    // cosine; the fixture has no degenerate vectors, so the guard is inert
    // there (the q_ivf_ann oracle needs no mirror of it).
    val assign = ivfAssign(emb, cent)
    val probes = cent.crossJoin(broadcast(q))
      .select(col("cent_id").as("cell"),
        nanvl(graft.functions.Functions.cosineSim(col("cemb"), col("qemb")),
          lit(-1.0)).as("cs"))
      .orderBy(col("cs").desc, col("cell")).limit(nProbe)
      .select("cell")
    assign.join(broadcast(probes), "cell")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.Functions.cosineSim(col("embedding"), col("qemb")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF ANN top-10 against the vec_id=0 query vector, computing the
    * vector→cell assignment ON THE FLY per query. The 16 lowest-id vectors
    * stand in for k-means-trained centroids (deterministic — the
    * inverted-file plumbing, not the training loop, is what's exercised).
    *
    * TEST-ONLY since round 10 (VERDICT r09 "what's wrong" #1): the per-query
    * full-corpus re-assignment is exactly the linear pass an inverted file
    * exists to avoid — its cost rises with the corpus (PERF_NOTES: 0.73 →
    * 1.11 s sf1→sf10) while the registered [[ivfPruned]] (same output, same
    * oracle, assignment amortized to ingest) stays flat. Kept as a function
    * because it IS the ingest-time assignment [[ivfPruned]] stages once, and
    * SimilaritySpec pins output identity between the two paths. */
  val ivfAnn: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings").filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val cent = Tables(s, d, "embeddings").orderBy("vec_id").limit(16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"))
    ivfSearch(emb, cent, queryVector(s, d), nProbe = 2, k = 10)
      .select(col("vec_id"), round(col("cos"), 2).as("cos_sim"))
      .orderBy("vec_id")
  }

  /** IVF with `cell` as a PARTITION COLUMN — the ingest-time layout the
    * [[ivfSearch]] scale notes promise, now registered and plan-pinned
    * (Round9Spec) instead of claimed: assignment runs once (stageOnce, the
    * [[Extended.partitionedScan]] pattern) and writes the vectors
    * partitioned by cell, so a probe's `cell IN (...)` predicate is a
    * PartitionFilter — the scan lists and reads ONLY the nProbe cell
    * directories (2 of 16 here) before a single row is decoded. The probe
    * cells come from scoring 16 centroids against one query vector — index
    * METADATA, collected like a plan constant, not data. Output ≡
    * [[ivfAnn]] by construction, so it shares that oracle verbatim. */
  val ivfPruned: Q = (s, d) => {
    val cent = ivfCentroids(s, d)
    val stage = Extended.stageOnce(s"ivf_cells_$d") { dir =>
      val emb = Tables(s, d, "embeddings").filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      ivfAssign(emb, cent).write.mode("overwrite").partitionBy("cell").parquet(dir)
    }
    probeCellStore(s, d, stage, cent)
  }

  /** The 16 fixture centroids (the q_ivf_ann convention). */
  private def ivfCentroids(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").orderBy("vec_id").limit(16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"))

  /** Probe a cell-partitioned store: score the centroid METADATA against
    * the query (a plan constant — 2 rows collected), then read ONLY the
    * nProbe cell directories via a PartitionFilter. Shared by
    * [[ivfPruned]] and [[ivfMaint]] — identical plan, identical oracle. */
  private def probeCellStore(s: SparkSession, d: String, stage: String,
                             cent: DataFrame): DataFrame =
    probeCellStoreWith(s, stage, cent, queryVector(s, d))

  /** The probe against an explicit query-vector frame — the registered
    * queries bind it to the fixture's vec_id=0 row via [[probeCellStore]];
    * tests drive it directly against hand-built stores. */
  private[graft] def probeCellStoreWith(s: SparkSession, stage: String,
                                        cent: DataFrame, q: DataFrame): DataFrame = {
    val probeCells = cent.crossJoin(broadcast(q))
      .select(col("cent_id"),
        nanvl(graft.functions.Functions.cosineSim(col("cemb"), col("qemb")), lit(-1.0)).as("cs"))
      .orderBy(col("cs").desc, col("cent_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    s.read.parquet(stage)
      .filter(col("cell").isin(probeCells: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.Functions.cosineSim(col("embedding"), col("qemb")).as("cos"))
      // Replay invariance (VERDICT r13 next #5): a crash-replayed
      // [[graft.streaming.Streams.ivfIngest]] batch lands its rows twice at
      // the file layer (the documented at-least-once contract), and without
      // this dedup a duplicated vec_id would occupy two top-k slots. The
      // duplicate rows are bit-identical, so max(cos) == the value; the
      // aggregate runs AFTER PartitionFilters pruning, over the nProbe
      // cells only — its cost is bounded by the pruned read, not the store.
      .groupBy("vec_id").agg(max(col("cos")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), round(col("cos"), 2).as("cos_sim"))
      .orderBy("vec_id")
  }

  /** Day-N IVF store MAINTENANCE — the ANN tier's append path, closing the
    * same loop the dedup and signature stores close for text: new vectors
    * are assigned to the EXISTING centroids (ingest-time assignment is
    * incremental by nature — the centroids are the index's trained, fixed
    * half) and land as a dynamic-partition APPEND into the cell layout:
    * one new file per touched cell directory, untouched cells never
    * rewritten or re-listed, and the probe's PartitionFilters pruning is
    * untouched because appends preserve the directory structure. Centroid
    * RETRAINING (drift) is a rebuild — [[ivfKmeans]] is that path; real
    * systems alternate cheap appends with occasional retrains. */
  def ivfAppend(newVecs: DataFrame, cent: DataFrame, dir: String): Unit =
    ivfAssign(newVecs, cent).write.mode("append").partitionBy("cell").parquet(dir)

  /** Compact the IVF cell store after append accretion — the cell-layout
    * twin of [[TextOps.compactStore]] (VERDICT r17 next #6: every
    * [[ivfAppend]] / [[graft.streaming.Streams.ivfIngest]] micro-batch
    * lands one file per TOUCHED cell, and nothing else bounded the
    * per-cell file count). Cells holding more than `maxFilesPerCell` files
    * are rewritten to one file; under-threshold cells are untouched, so at
    * 100 TB the cost is proportional to the cells that actually accreted.
    * The rewrite is full-row `distinct()`, which retires the bit-identical
    * duplicate rows a crash-replayed ingest batch lands (the documented
    * at-least-once contract) — the probe's max(cos) replay guard keeps
    * working either way, this just stops paying their storage and scan
    * cost forever. Serving loops alternate: cheap appends per batch, this
    * compaction on the maintenance cadence, [[ivfKmeans]] retrains on
    * drift. Same reader-isolation caveat as [[TextOps.compactStore]]:
    * schedule from the store's single maintenance process.
    *
    * Output is SIZE-BOUNDED (VERDICT r18 next #3): a rewritten cell lands
    * ceil(cellBytes / targetFileBytes) files via repartition, not one file
    * via coalesce(1) — a hot cell holding tens of GB at 100 TB no longer
    * funnels through a single task or produces a single unsplittable file.
    * cellBytes is the PRE-distinct on-disk size, so a cell whose rows were
    * mostly replayed duplicates may come out a file or two over-provisioned
    * — an over-estimate can only split work finer, never recreate the
    * single-task funnel.
    *
    * The trigger honors that size bound (ADVICE r19 medium): a cell only
    * compacts while its file count exceeds max(maxFilesPerCell,
    * ceil(cellBytes/targetFileBytes)) — the effective per-cell cap is
    * whichever is LARGER, file-count hygiene or the size-mandated output
    * width. A count-only trigger re-fired forever on any cell bigger than
    * maxFilesPerCell × targetFileBytes: the rewrite itself lands
    * ceil(bytes/target) > maxFilesPerCell files, so every later maintenance
    * run re-read, re-distincted and rewrote the whole (large, already
    * well-shaped) cell.
    *
    * COMMIT WINDOW (ADVICE r19 low): the commit is nOut independent renames
    * followed by the old files' deletes, NOT one atomic swap — a crash
    * mid-loop leaves the cell serving old files plus however many new files
    * already renamed in, i.e. duplicated rows. That stays inside the store's
    * at-least-once contract (every reader of this tier already dedups — the
    * probe's max(cos) guard, the maintenance rewrite's distinct()), and the
    * next compaction pass retires the duplicates; if a reader ever stops
    * deduplicating, this commit must move behind a manifest first.
    *
    * File-layer operations route through the Hadoop `FileSystem` API
    * ([[StoreFs]] — VERDICT r18 next #2): identical on `file://`, portable
    * to HDFS; see [[StoreFs]] for the S3A rename caveat. Returns the number
    * of cells compacted. */
  def ivfCompactCells(s: SparkSession, dir: String, maxFilesPerCell: Int = 3,
                      targetFileBytes: Long = 128L << 20): Int = {
    import scala.collection.parallel.CollectionConverters._
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = StoreFs.fs(s, root)
    val withFiles = StoreFs.listDirs(fs, root)
      .filter(_.getPath.getName.startsWith("cell="))
      .map(c => c.getPath -> StoreFs.listFiles(fs, c.getPath)
        .filter(_.getPath.getName.startsWith("part-")))
    val oversized = withFiles.filter { case (_, files) =>
      val sizeCap = (files.map(_.getLen).sum + targetFileBytes - 1) / targetFileBytes
      files.size > math.max(maxFilesPerCell.toLong, sizeCap)
    }
    oversized.par.foreach { case (cell, files) =>
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      // Same-FS staging under the cell itself (dot-prefixed, invisible to
      // Spark's listing), so the commit is a real rename — the
      // [[TextOps.compactStore]] convention.
      val tmp = new org.apache.hadoop.fs.Path(cell,
        s".graft_ivf_compact_${System.nanoTime()}")
      val rows = s.read.parquet(files.map(_.getPath.toString): _*).distinct()
      val sized = if (nOut == 1) rows.coalesce(1) else rows.repartition(nOut)
      sized.write.parquet(tmp.toString)
      val written = StoreFs.listFiles(fs, tmp)
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      if (written.isEmpty) sys.error(s"compaction of ${cell.getName} wrote no file")
      written.foreach { p =>
        val dst = new org.apache.hadoop.fs.Path(cell, p.getName)
        if (!fs.rename(p, dst))
          sys.error(s"compaction of ${cell.getName}: rename $p -> $dst failed")
      }
      files.foreach(st => fs.delete(st.getPath, false))
      StoreFs.deleteQuietly(fs, tmp)
    }
    oversized.length
  }

  /** Registered maintenance query: half the corpus stages the store, the
    * other half arrives as a day-N [[ivfAppend]]; the probe then runs the
    * exact [[ivfPruned]] plan against the maintained store. Final store
    * content equals the single-shot staging by construction, so the query
    * shares [[ivfAnn]]'s oracle — the driver hash-verifies that the
    * append-maintained store serves the same answers as a rebuild. */
  val ivfMaint: Q = (s, d) => {
    val cent = ivfCentroids(s, d)
    val stage = Extended.stageOnce(s"ivf_maint_$d") { dir =>
      val emb = Tables(s, d, "embeddings").filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      ivfAssign(emb.filter(pmod(col("vec_id"), lit(2L)) === 0), cent)
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      ivfAppend(emb.filter(pmod(col("vec_id"), lit(2L)) === 1), cent, dir)
    }
    probeCellStore(s, d, stage, cent)
  }

  /** Per-vector L2 norm + unit-normalization check — the standard embedding
    * hygiene pass before cosine retrieval (a zero/denormal vector poisons
    * every similarity it touches). Pure per-row map over one scan; the fold
    * accumulates left-to-right in double, and the oracle rounds to 4
    * decimals to absorb the engines' last-bit summation differences. */
  val embedNorm: Q = (s, d) =>
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        round(norm(toDouble(col("embedding"))), 4).as("l2_norm"),
        // Threshold the ROUNDED norm: Spark's ordered fold and DuckDB's
        // list_sum can differ in the last bit, so a fixture vector with norm
        // exactly at the 0.5 boundary would otherwise flip the flag in one
        // engine only (same rounding rationale as l2_norm itself).
        (round(norm(toDouble(col("embedding"))), 4) >= 0.5).as("usable"))
      .orderBy("vec_id")

  /** One Lloyd iteration of k-means as pure DataFrame ops: assign every
    * vector to its nearest centroid (broadcast centroids, max_by argmax),
    * then recompute each cell's centroid as the per-dimension mean
    * (posexplode → groupBy(cell, pos) avg → re-pack via sorted
    * collect_list). At 100 TB each iteration is one broadcast + two
    * map-side-combined shuffles whose size is #cells × dim — the classic
    * distributed Lloyd shape; more iterations = a driver loop over this
    * step with `localCheckpoint` per round (the iterative-lineage rule
    * applied everywhere else in this repo). Cells that end an iteration
    * empty simply drop out (standard k-means degeneracy; reseeding is a
    * policy choice left out of the demo). */
  def kmeansStep(emb: DataFrame, cent: DataFrame): DataFrame = {
    // Literal-centroid argmax ([[centroidArgmax]], r22): each Lloyd
    // iteration costs one scan + per-row map + the #cells×dim-sized partial
    // aggregate below; nothing payload-sized moves. Before r22 this was a
    // crossJoin to K rows per vector followed by a groupBy(vec_id) — the
    // FULL embedding payload through a shuffle once per iteration, purely
    // to undo the K-fold explode. (Assumes vec_id-unique input, which the
    // embeddings fixture and every caller guarantee.)
    centroidArgmax(cent) match {
      case None => cent.select(col("cent_id"), col("cemb"))
      case Some(best) =>
        // Per-cell per-dimension mean, partial-aggregated map-side to
        // #cells×dim.
        val mean = emb.select(best.as("cell"), col("embedding"))
          .select(col("cell"), posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
          .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
          .groupBy("cell")
          // array_sort on struct(pos, m) orders by pos, so the re-packed array
          // is positionally faithful.
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            e => e.getField("m")).as("mean"))
        // Spherical k-means (Dhillon & Modha, "Concept Decompositions for Large
        // Sparse Text Data Using Clustering"): under a COSINE assignment metric
        // the maximizing centroid of a cell is the RENORMALIZED mean, not the
        // raw mean. Cosine is scale-invariant, so renormalizing never changes
        // which centroid wins an argmax — but it keeps centroid magnitudes from
        // drifting across iterations and makes the trained set directly
        // comparable/storable as unit vectors. A cell whose members cancel to
        // the zero vector has no direction at all: it is dropped here (standard
        // k-means degeneracy — the nanvl above is the belt to this suspender,
        // protecting any caller that feeds untrained/degenerate centroids).
        mean
          .withColumn("n", sqrt(aggregate(col("mean"), lit(0.0), (a, x) => a + x * x)))
          .filter(col("n") > 0.0)
          // cast back to float — the expression layer and the stored embeddings
          // are array<float>, and centroid precision beyond float is noise for
          // an argmax.
          .select(col("cell").as("cent_id"),
            transform(col("mean"), x => (x / col("n")).cast("float")).as("cemb"))
    }
  }

  /** Full Lloyd training loop: `iters` rounds of [[kmeansStep]], lineage
    * truncated EVERY iteration — the trained-centroid DataFrame would
    * otherwise be referenced multiple times per round (assignment join +
    * update) and double the logical plan each iteration (the same 2^k
    * pathology [[Dedup.connectedComponents]] fixes the same way). The
    * checkpointed set is #cells × dim — trivially small — so each round
    * costs exactly its own broadcast + two shuffles over the vectors. */
  def kmeansTrain(emb: DataFrame, seed: DataFrame, iters: Int): DataFrame = {
    var cent = seed.localCheckpoint()
    for (_ <- 0 until iters) cent = kmeansStep(emb, cent).localCheckpoint()
    cent
  }

  /** IVF ANN with k-means training: seed centroids (the same deterministic
    * 16 as q_ivf_ann) → two Lloyd iterations → probe the trained cells.
    * Iterative float argmax makes the trained assignment SQL-inexpressible
    * in practice → rows-only check; recall vs brute force on planted
    * neighbors asserted in Round6Spec (single step and full loop). */
  val ivfKmeans: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings").filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val seed = Tables(s, d, "embeddings").orderBy("vec_id").limit(16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"))
    val trained = kmeansTrain(emb, seed, iters = 2)
    ivfSearch(emb, trained, queryVector(s, d), nProbe = 2, k = 10)
      .select(col("vec_id"), round(col("cos"), 2).as("cos_sim"))
      .orderBy("vec_id")
  }

  /** Product-quantization encoder (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * 64-dim embedding into M=4 contiguous 16-dim subspaces and quantize
    * each subvector to its nearest of K=16 codewords, emitting a 4-symbol
    * code per vector — the memory layout behind IVF-PQ indexes (64 floats →
    * 4 bytes, 64× compression at K=256; the demo's K=16 keeps the codebook
    * fixture-deterministic: the 16 lowest-id vectors' subvectors, the same
    * convention as q_ivf_ann's centroids).
    *
    * Shape: the codebook (M×K×16 floats) BROADCASTS; encoding is one
    * map-side explode into M subvectors, a broadcast join on the subspace
    * id, and a map-side-combined argmin via `min_by(code, struct(d2,
    * code))` — smaller code wins exact-distance ties in both engines. At
    * 100 TB encoding is read-bandwidth; the oracle mirrors the argmin with
    * a ranked window over the identical distance expression, and the
    * OUTPUT is pure integers, so the check is exact. */
  private val PqM = 4; private val PqSub = 16; private val PqK = 16
  private def pqSubStructs(e: String): String =
    s"transform(sequence(0, ${PqM - 1}), m -> struct(m AS m, slice($e, m * $PqSub + 1, $PqSub) AS v))"

  /** (m, code, cw): K=16 codewords per subspace from the K lowest-id
    * vectors' subvectors (the q_ivf_ann centroid convention). */
  def pqCodebook(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").orderBy("vec_id").limit(PqK)
      .select(col("vec_id").cast("int").as("code"), toDouble(col("embedding")).as("ce"))
      .select(col("code"), explode(expr(pqSubStructs("ce"))).as("x"))
      .select(col("x.m").as("m"), col("code"), col("x.v").as("cw"))

  /** One argmin-code Column per subspace, over the LITERAL codebook (r22,
    * the [[centroidArgmax]] license — the codebook is M×K×16 doubles,
    * bounded by construction): [[graft.functions.PqArgmin]] over the RAW
    * float embedding, one compact compiled loop nest per subspace.
    *
    * The road here is the round's best §1.2 lesson and lives in PqArgmin's
    * scaladoc: the HOF form ran interpreted (41 s encode at sf100), the
    * flat 1024-term polynomial blew Janino's 64 KB method limit and was
    * only fast (3.4 s) BECAUSE the compile failure dropped the stage to
    * non-fused split-method execution, and the squared_distance-per-
    * candidate form compiled fused and ran 30-40× slower (127.8 s — giant
    * processNext + interpreted slice/cast HOF + boxed element reads).
    * Collapsing the whole argmin into one native expression keeps
    * processNext small, skips the cast/slice entirely (PqArgmin casts
    * float→double per element — exact, so the doubles are identical), and
    * measured fastest of all four forms at both decades. Tie order, NaN
    * order and the null-element edge are the retired least(struct(d2,
    * code)) composition's exactly — Round22Spec pins all three against the
    * composed form, and [[graft.functions.SquaredDistance]] remains the
    * executable statement of the d2 semantics (it scores the ADC table
    * below and anchors the bit-identity tests). */
  private def pqCodeExprs(s: SparkSession, d: String): Seq[Column] = {
    val cb = pqCodebook(s, d).collect()
    (0 until PqM).map { m =>
      val cws = cb.filter(_.getInt(0) == m).sortBy(_.getInt(1))
      require(cws.length == PqK, s"subspace $m: expected $PqK codewords, got ${cws.length}")
      require(cws.zipWithIndex.forall { case (r, i) => r.getInt(1) == i },
        s"subspace $m: PqArgmin's loop index IS the code — codes must be dense 0..${PqK - 1}")
      val codebook = cws.map(_.getSeq[Double](2).toArray).toArray
      graft.functions.Functions.pqArgmin(col("embedding"), m * PqSub, codebook)
    }
  }

  val pqEncode: Q = (s, d) => {
    // Pure per-row map since r22: one scan, four literal-codebook argmins,
    // no explode and no regroup exchange (the old shape shuffled twice —
    // the per-(vec_id, m) argmin and the per-vec_id pivot).
    val codes = pqCodeExprs(s, d)
    Tables(s, d, "embeddings")
      .select(col("vec_id"), codes(0).as("c0"), codes(1).as("c1"),
        codes(2).as("c2"), codes(3).as("c3"))
      .orderBy("vec_id")
  }

  /** PQ asymmetric-distance search (ADC, Jégou et al. §III): the query
    * precomputes its distance to every codeword (an M×K table — 64 doubles
    * here — that BROADCASTS), and each database vector's approximate
    * distance is the sum of M table lookups via its stored code. No
    * embedding is touched at query time: at 100 TB the scan reads 4 small
    * ints per vector instead of 64 floats — the 16× read-bandwidth win that
    * makes billion-scale ANN serving work. The per-subspace partials pivot
    * to fixed columns and add in a FIXED order (d0+d1+d2+d3), so the score
    * is the identical double in both engines regardless of row order; the
    * rounded score then ranks with vec_id as tiebreak. */
  val pqSearch: Q = (s, d) => {
    val qsub = Tables(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(toDouble(col("embedding")).as("qe"))
      .select(explode(expr(pqSubStructs("qe"))).as("x"))
      .select(col("x.m").as("m"), col("x.v").as("qv"))
    // The ADC table is M×K doubles — query-dependent but bounded metadata,
    // so collect it (r22) instead of broadcast-joining it onto an exploded
    // per-(vec_id, m) code stream: the dd values come off the IDENTICAL
    // in-plan distance expression as before, codes are dense 0..K-1 by the
    // codebook convention, and the per-m lookups add in the same fixed
    // m=0..3 order as the old d0+d1+d2+d3 pivot — identical doubles, so
    // identical rounding and ranking. The search is now scan → per-row map
    // → top-k; the old shape paid the explode, the join and two pivots.
    val dtab = pqCodebook(s, d).join(broadcast(qsub), "m")
      .select(col("m"), col("code"),
        // squared_distance IS the aggregate(zip_with(...)) fold, loop-form
        // (Round22Spec pins exact == equality) — same dd doubles as ever.
        graft.functions.Functions.squaredDistance(col("cw"), col("qv")).as("dd"))
      .collect()
    val dd = (0 until PqM).map { m =>
      val byCode = dtab.filter(_.getInt(0) == m).map(r => r.getInt(1) -> r.getDouble(2)).toMap
      require(byCode.keySet == (0 until PqK).toSet,
        s"subspace $m: ADC table expects dense codes 0..${PqK - 1}")
      lit((0 until PqK).map(byCode).toArray)
    }
    val codes = pqCodeExprs(s, d)
    val adc = (0 until PqM).map(m => element_at(dd(m), codes(m) + 1)).reduce(_ + _)
    Tables(s, d, "embeddings")
      .select(col("vec_id"), round(adc, 4).as("adc"))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("adc"), col("vec_id"))
      .limit(10)
  }

  val queries: Map[String, Q] = Map(
    "q_pq_encode" -> pqEncode,
    "q_pq_search" -> pqSearch,
    "q_embed_norm" -> embedNorm,
    "q_ivf_kmeans" -> ivfKmeans,
    "q_ivf_pruned" -> ivfPruned,
    "q_ivf_maint" -> ivfMaint,
    "q_array_fns2" -> arrayFns2,
    "q_dim_stats" -> dimStats,
    "q_array_fns" -> arrayFns,
    "q_cosine_topk" -> cosineTopk,
    "q_ann_lsh" -> annLsh,
    "q_embed_neardup" -> embedNearDup,
    "q_embed_neardup2" -> embedNearDup2,
    "q_embed_neardup_store" -> embedNearDupStore,
    "q_embed_clusters" -> embedClusters,
    "q_embed_clusters_store" -> embedClustersStore,
    "q_embed_stats" -> embedStats,
  )

  /** DuckDB mirror of the IVF search — registered under [[ivfPruned]], the
    * cell-partitioned-store path; the test-only [[ivfAnn]] computes the
    * identical result on the fly (identity pinned in SimilaritySpec). */
  private val IvfAnnOracle: String =
    """WITH cent AS (SELECT vec_id AS cent_id, embedding AS cemb FROM embeddings ORDER BY vec_id LIMIT 16), q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0), scored AS (SELECT e.vec_id, e.embedding, c.cent_id, CAST(list_cosine_similarity(e.embedding, c.cemb) AS DOUBLE) AS cs FROM embeddings e CROSS JOIN cent c WHERE e.vec_id <> 0), assign AS (SELECT vec_id, embedding, cent_id AS cell FROM (SELECT vec_id, embedding, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id DESC) AS rn FROM scored) r WHERE rn = 1), probes AS (SELECT cent_id AS cell FROM cent CROSS JOIN q ORDER BY CAST(list_cosine_similarity(cemb, qemb) AS DOUBLE) DESC, cell LIMIT 2) SELECT vec_id, round(CAST(s AS DOUBLE), 2) AS cos_sim FROM (SELECT a.vec_id, CAST(list_cosine_similarity(a.embedding, q.qemb) AS DOUBLE) AS s FROM assign a JOIN probes p ON a.cell = p.cell CROSS JOIN q ORDER BY s DESC, a.vec_id LIMIT 10) t ORDER BY vec_id"""

  private val BucketSql: String =
    (0 until 8).map(i => s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")

  /** DuckDB mirror of [[bandBuckets]] band `b` (8 bits at offset 8b). */
  private def bandSql(b: Int): String =
    (0 until 8).map(i => s"(CASE WHEN embedding[${b * 8 + i + 1}] > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")

  private val BandedEbSql: String =
    (0 until 4).map(b =>
      s"SELECT vec_id, embedding, $b AS band, ${bandSql(b)} AS bucket FROM embeddings")
      .mkString(" UNION ALL ")

  /** Same candidate/verify CTEs as q_embed_neardup2, then Dedup's shared
    * min-label chain over the verified pair graph — replays the engine's
    * exact cluster decisions end-to-end. Shared verbatim by the from-
    * scratch query and the store-maintained incremental twin. */
  private val EmbedClustersOracle: String =
    s"""WITH eb AS ($BandedEbSql), cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b FROM eb a JOIN eb b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id), vp AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM cand JOIN embeddings ea ON ea.vec_id = vec_a JOIN embeddings eb2 ON eb2.vec_id = vec_b WHERE list_cosine_similarity(ea.embedding, eb2.embedding) >= 0.40), ${Dedup.minLabelChainCte("vp")} SELECT id AS vec_id, comp AS canonical_id FROM l5 ORDER BY vec_id"""

  val oracle: Map[String, String] = Map(
    "q_embed_norm" ->
      """SELECT vec_id, label, round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm, round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) >= 0.5 AS usable FROM embeddings ORDER BY vec_id""",
    // PQ codes are pure integers; the only float sensitivity is the per-
    // subspace argmin, mirrored as a ranked window over the identical
    // double-exact (x-c)^2 sums with the same (d2, code) tie order.
    "q_pq_encode" ->
      """WITH ms AS (SELECT unnest(range(0, 4)) AS m), cb AS (SELECT m, code, list_transform(list_slice(ce, m*16+1, (m+1)*16), x -> CAST(x AS DOUBLE)) AS cw FROM (SELECT CAST(vec_id AS INTEGER) AS code, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 16) b CROSS JOIN ms), sv AS (SELECT vec_id, m, list_transform(list_slice(embedding, m*16+1, (m+1)*16), x -> CAST(x AS DOUBLE)) AS sv FROM embeddings CROSS JOIN ms), scored AS (SELECT vec_id, s.m, code, list_sum(list_transform(range(1, 17), i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) AS d2 FROM sv s JOIN cb c ON s.m = c.m), codes AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn FROM scored) r WHERE rn = 1) SELECT vec_id, CAST(max(CASE WHEN m = 0 THEN code END) AS INTEGER) AS c0, CAST(max(CASE WHEN m = 1 THEN code END) AS INTEGER) AS c1, CAST(max(CASE WHEN m = 2 THEN code END) AS INTEGER) AS c2, CAST(max(CASE WHEN m = 3 THEN code END) AS INTEGER) AS c3 FROM codes GROUP BY vec_id ORDER BY vec_id""",
    // IVF is deterministic given fixed centroids, so it IS oracle-expressible;
    // DuckDB's float32 cosine vs our double accumulation could only diverge at
    // argmax/probe/top-k boundaries, and the fixture margins are >1e-4 (checked
    // empirically; fixtures are fixed per engagement so the check is conclusive).
    "q_pq_search" ->
      """WITH ms AS (SELECT unnest(range(0, 4)) AS m), cb AS (SELECT m, code, list_transform(list_slice(ce, m*16+1, (m+1)*16), x -> CAST(x AS DOUBLE)) AS cw FROM (SELECT CAST(vec_id AS INTEGER) AS code, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 16) b CROSS JOIN ms), sv AS (SELECT vec_id, m, list_transform(list_slice(embedding, m*16+1, (m+1)*16), x -> CAST(x AS DOUBLE)) AS sv FROM embeddings CROSS JOIN ms), scored AS (SELECT vec_id, s.m, code, list_sum(list_transform(range(1, 17), i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) AS d2 FROM sv s JOIN cb c ON s.m = c.m), codes AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn FROM scored) r WHERE rn = 1), q AS (SELECT m, list_transform(list_slice(embedding, m*16+1, (m+1)*16), x -> CAST(x AS DOUBLE)) AS qv FROM embeddings CROSS JOIN ms WHERE vec_id = 0), dtab AS (SELECT c.m, c.code, list_sum(list_transform(range(1, 17), i -> (cw[i] - qv[i]) * (cw[i] - qv[i]))) AS dd FROM cb c JOIN q ON c.m = q.m), sc AS (SELECT co.vec_id, max(CASE WHEN co.m = 0 THEN dd END) AS d0, max(CASE WHEN co.m = 1 THEN dd END) AS d1, max(CASE WHEN co.m = 2 THEN dd END) AS d2, max(CASE WHEN co.m = 3 THEN dd END) AS d3 FROM codes co JOIN dtab dt ON co.m = dt.m AND co.code = dt.code GROUP BY 1) SELECT vec_id, round(d0 + d1 + d2 + d3, 4) AS adc FROM sc WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT 10""",
    "q_ivf_pruned" -> IvfAnnOracle,
    // The maintained store's content equals the single-shot staging, so
    // the same mirror hash-verifies the append path end-to-end.
    "q_ivf_maint" -> IvfAnnOracle,
    "q_array_fns2" ->
      """SELECT vec_id, CAST(list_slice(embedding, 1, 4)[1] AS DOUBLE) AS head_first, CAST(list_sort(list_slice(embedding, 1, 4))[1] AS DOUBLE) AS head_min, CAST(list_reverse(list_sort(list_slice(embedding, 1, 4)))[1] AS DOUBLE) AS head_max, CAST(list_reverse(list_slice(embedding, 1, 4))[1] AS DOUBLE) AS head_last FROM embeddings ORDER BY vec_id""",
    "q_dim_stats" ->
      """SELECT CAST(i - 1 AS INTEGER) AS pos, round(sum(CAST(x AS DOUBLE)), 4) AS sum_x, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings) t GROUP BY i ORDER BY pos""",
    "q_ann_lsh" ->
      s"""WITH eb AS (SELECT vec_id, embedding, $BucketSql AS bucket FROM embeddings), q AS (SELECT embedding AS qemb, bucket AS qbucket FROM eb WHERE vec_id = 0) SELECT vec_id, round(CAST(s AS DOUBLE), 2) AS cos_sim FROM (SELECT e.vec_id, list_cosine_similarity(e.embedding, q.qemb) AS s FROM eb e, q WHERE e.vec_id <> 0 AND bit_count(xor(CAST(e.bucket AS BIGINT), CAST(q.qbucket AS BIGINT))) <= 1 ORDER BY s DESC, e.vec_id LIMIT 10) t ORDER BY vec_id""",
    "q_embed_neardup" ->
      s"""WITH eb AS (SELECT vec_id, embedding, $BucketSql AS bucket FROM embeddings) SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 2) AS cos_sim FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35 ORDER BY vec_a, vec_b""",
    "q_embed_neardup2" ->
      s"""WITH eb AS ($BandedEbSql), cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b FROM eb a JOIN eb b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id) SELECT vec_a, vec_b, round(CAST(list_cosine_similarity(ea.embedding, eb2.embedding) AS DOUBLE), 2) AS cos_sim FROM cand JOIN embeddings ea ON ea.vec_id = vec_a JOIN embeddings eb2 ON eb2.vec_id = vec_b WHERE list_cosine_similarity(ea.embedding, eb2.embedding) >= 0.40 ORDER BY vec_a, vec_b""",
    // Store-backed incremental screen: the mirror replays the even/odd
    // split, the 8-bit band buckets (the fixture's autoBits floor), the
    // batch-vs-existing candidate join, and the per-batch-vector cosine
    // aggregation — hash-verifying the persisted band + vector tables.
    "q_embed_neardup_store" ->
      s"""WITH t AS (SELECT vec_id, embedding, vec_id % 2 AS b FROM embeddings), eb AS (${(0 until 4).map(bd => s"SELECT vec_id, b, $bd AS band, ${bandSql(bd)} AS bucket FROM t").mkString(" UNION ALL ")}), cand AS (SELECT DISTINCT n.vec_id AS vec_a, e.vec_id AS vec_b FROM eb n JOIN eb e ON n.band = e.band AND n.bucket = e.bucket WHERE n.b = 1 AND e.b = 0), v AS (SELECT vec_a, count(*) AS n_cands, max(CAST(list_cosine_similarity(ea.embedding, eb2.embedding) AS DOUBLE)) AS best FROM cand JOIN embeddings ea ON ea.vec_id = vec_a JOIN embeddings eb2 ON eb2.vec_id = vec_b GROUP BY vec_a) SELECT t.vec_id, CAST(coalesce(v.n_cands, 0) AS BIGINT) AS n_cands, round(coalesce(v.best, -1.0), 2) AS best_cos, coalesce(v.best, -1.0) < 0.40 AS novel FROM t LEFT JOIN v ON t.vec_id = v.vec_a WHERE t.b = 1 ORDER BY t.vec_id""",
    // Same candidate/verify CTEs as q_embed_neardup2, then Dedup's shared
    // five-iteration min-label chain over the verified pair graph — the
    // oracle replays the engine's exact cluster decisions end-to-end.
    "q_embed_clusters" -> EmbedClustersOracle,
    // The maintained label table's fixed point equals from-scratch CC over
    // the full corpus's verified edges (contraction through component
    // minima preserves minima), so the incremental path hash-checks
    // against the identical full-recompute mirror.
    "q_embed_clusters_store" -> EmbedClustersOracle,
    "q_array_fns" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim, CAST(embedding[1] AS DOUBLE) AS first_dim, CAST(list_min(embedding) AS DOUBLE) AS min_dim, CAST(list_max(embedding) AS DOUBLE) AS max_dim FROM embeddings ORDER BY vec_id""",
    "q_cosine_topk" ->
      """SELECT vec_id, round(CAST(s AS DOUBLE), 2) AS cos_sim FROM (SELECT vec_id, list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)) AS s FROM embeddings WHERE vec_id <> 0 ORDER BY s DESC, vec_id LIMIT 10) t ORDER BY vec_id""",
    "q_embed_stats" ->
      """SELECT label, CAST(count(*) AS BIGINT) AS cnt, CAST(min(len(embedding)) AS INTEGER) AS dim FROM embeddings GROUP BY label ORDER BY label""",
  )
}
