package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-22 (optimization round 2): internals pins for the operators this
  * round changed.
  *
  *  1. [[ops.Dedup]] min-label CC seeds labels ONE HOP deep (comp =
  *     min(self, neighbors) in the init aggregation), so every graph needs
  *     one fewer propagation round: a star graph now converges inside a
  *     1-round probe budget (it needed 2 before — the probe would have
  *     fallen back to star contraction).
  *  2. [[ops.Dedup.ccAutoWithStrategy]] skips the input checkpoint when the
  *     caller already materialized (ADVICE r21: no second |E| block-manager
  *     copy); labels are unchanged either way.
  *  3. [[ops.Similarity.kmeansStep]] AND [[ops.Similarity.ivfAssign]]
  *     (both via [[ops.Similarity.centroidArgmax]]) inline the bounded
  *     centroid set as a literal and assign cells in a per-row map — the
  *     argmax tie order (equal cosine → larger cent_id wins) must match the
  *     old max_by(cent_id, struct(cs, cent_id)) exactly, and the assignment
  *     plan must contain no Exchange at all.
  *  4. [[graft.functions.CosineSimilarity]]
  *     skips null ARRAY ELEMENTS (ADVICE r21) instead of reading undefined
  *     data; containsNull=false inputs keep the branch-free loop.
  *  5. [[graft.functions.SquaredDistance]] (the executable statement of the
  *     PQ d2 semantics; scores the ADC table) is bit-identical to the
  *     `aggregate(zip_with(...))` fold the oracle mirrors, and a null
  *     element nulls the distance — the exact semantics of the inline
  *     polynomial it replaced.
  *  6. [[graft.functions.PqArgmin]] (the shipped PQ argmin — one native
  *     loop nest per subspace over the raw float embedding, after the
  *     polynomial form blew Janino's 64 KB limit and the per-candidate
  *     squared_distance form compiled fused but 30-40× slower) equals the
  *     `least(struct(squared_distance(slice(cast(emb)), cw), code), ...)`
  *     composition row for row — including exact-d2 ties (smaller code
  *     wins) and the null-element edge (code 0).
  */
class Round22Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def df(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("doc_a", "doc_b")
  }

  test("min-label CC: one-hop init converges a star graph inside a 1-round probe") {
    // {1-2, 1-3}: the one-hop init already labels every node 1, so the
    // single budgeted round observes zero changes and converges. Under the
    // old identity init the first round still lowered labels, so a 1-round
    // probe could not converge and the auto entry point fell back to star.
    val (labels, strategy) =
      ops.Dedup.ccAutoWithStrategy(df(Seq((1L, 2L), (1L, 3L))), probeIterations = 1)
    assert(strategy == "min-label",
      "a star graph must converge inside a 1-round probe under the one-hop init")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("ccAutoWithStrategy: a pre-checkpointed input is not re-checkpointed and labels are exact") {
    val pairs = df(Seq((1L, 2L), (2L, 3L), (7L, 7L))).localCheckpoint()
    // The skip condition is the plan being a bare LogicalRDD — assert the
    // seam the production code keys on, then the labels.
    // The skip keys on exactly this: the analyzed plan being a bare
    // LogicalRDD (what localCheckpoint returns). Asserting the seam plus
    // exact labels pins the fast path without racing the async
    // ContextCleaner over persisted-block counts.
    assert(pairs.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val (labels, _) = ops.Dedup.ccAutoWithStrategy(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L))
  }

  test("kmeansStep: literal-centroid argmax keeps the max_by tie order (equal cos -> larger cent_id)") {
    import spark.implicits._
    val emb = Seq((100L, Array(1.0f, 0.0f)), (200L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // Two centroids IDENTICAL in direction: every vector ties on cosine, so
    // the winner must be the larger cent_id — max_by(cent_id, struct(cs,
    // cent_id)) semantics, now produced by array_max over struct(cs, cent_id).
    val cent = Seq((1L, Array(1.0f, 1.0f)), (2L, Array(1.0f, 1.0f)))
      .toDF("cent_id", "cemb")
    val out = ops.Similarity.kmeansStep(emb, cent).collect()
    assert(out.length == 1 && out.head.getLong(0) == 2L,
      s"tie must go to the larger cent_id; got ${out.mkString(",")}")
  }

  test("kmeansStep: empty centroid set degrades to an empty result") {
    import spark.implicits._
    val emb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cent = Seq.empty[(Long, Array[Float])].toDF("cent_id", "cemb")
    assert(ops.Similarity.kmeansStep(emb, cent).isEmpty)
  }

  test("ivfAssign: per-row map equals the legacy crossJoin+max_by shape (ties included) and shuffles nothing") {
    import spark.implicits._
    val emb = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f)),
      (12L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    // Centroids 1 and 2 are IDENTICAL in direction: any vector nearest that
    // direction ties on cosine and the winner must be the larger cent_id.
    val cent = Seq(
      (1L, Array(1.0f, 1.0f)), (2L, Array(1.0f, 1.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("cent_id", "cemb")
    val got = ops.Similarity.ivfAssign(emb, cent)
    // The pre-r22 shape, inlined verbatim as the semantic oracle.
    val want = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        nanvl(graft.functions.Functions.cosineSim(col("embedding"), col("cemb")),
          lit(-1.0)).as("cs"))
      .groupBy("vec_id")
      .agg(first(col("embedding")).as("embedding"),
        max_by(col("cent_id"), struct(col("cs"), col("cent_id"))).as("cell"))
    val g = got.select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = want.select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == w && g.keySet == Set(10L, 11L, 12L), s"got $g want $w")
    assert(got.columns.toSeq == Seq("vec_id", "embedding", "cell"))
    // The assignment is a pure per-row map now: no Exchange anywhere.
    assert(!got.queryExecution.executedPlan.toString.contains("Exchange"),
      "map-only ivfAssign must not shuffle")
  }

  test("ivfAssign: empty centroid set yields an empty frame with the legacy schema") {
    import spark.implicits._
    val emb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cent = Seq.empty[(Long, Array[Float])].toDF("cent_id", "cemb")
    val out = ops.Similarity.ivfAssign(emb, cent)
    assert(out.columns.toSeq == Seq("vec_id", "embedding", "cell") && out.isEmpty)
  }

  test("cosine_sim: null array elements are skipped, not read as garbage") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(Seq[java.lang.Float](3.0f, null), Seq[java.lang.Float](4.0f, 5.0f)))
    val in = spark.createDataFrame(rows, schema)
    val out = in.select(
      graft.functions.Functions.cosineSim(col("a"), col("b")).as("cs")).collect().head
    // Index 1 is skipped on BOTH sides: dot = 3*4 = 12; norms = 3 and 4.
    assert(math.abs(out.getDouble(0) - 1.0) < 1e-12,
      s"cosine_sim must skip the null index entirely (dot/na/nb all exclude it), got ${out.getDouble(0)}")
    // containsNull=false inputs take the branch-free loop and still agree.
    val tightIn = in.select(array(lit(3.0f)).as("a"), array(lit(4.0f)).as("b"))
    assert(tightIn.schema.fields.forall(
      _.dataType == ArrayType(FloatType, containsNull = false)))
    val tight = tightIn.select(
      graft.functions.Functions.cosineSim(col("a"), col("b"))).collect().head.getDouble(0)
    assert(tight == 1.0)
  }

  test("squared_distance: bit-identical to the aggregate(zip_with(...)) fold the PQ oracle mirrors") {
    // Deterministic pseudo-random 16-dim double vectors (xorshift-flavored,
    // no Random dependency); exact == on the collected doubles is the point:
    // the native loop must reproduce the fold's left-to-right accumulation
    // down to the last ulp, or the PQ argmin's tie decisions could diverge
    // from the hash-checked oracle.
    def vec(seed: Long): Seq[Double] =
      (0 until 16).map { i =>
        val h = (seed * 6364136223846793005L + i * 1442695040888963407L)
        (h % 10000) / 7919.0
      }
    import spark.implicits._
    val rows = (1L to 64L).map(s => (vec(s), vec(s + 1000)))
    val in = rows.toDF("a", "b")
    val got = in.select(
      graft.functions.Functions.squaredDistance(col("a"), col("b")).as("nat"),
      expr("aggregate(zip_with(a, b, (x, c) -> (x - c) * (x - c)), 0.0D, (s, t) -> s + t)").as("fold"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1),
        s"native ${r.getDouble(0)} != fold ${r.getDouble(1)} — accumulation order must match exactly")
    }
  }

  test("squared_distance: a null element nulls the whole distance (the polynomial's semantics)") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(Seq[java.lang.Double](3.0, null), Seq[java.lang.Double](4.0, 5.0)),
      Row(Seq[java.lang.Double](3.0, 1.0), Seq[java.lang.Double](4.0, 5.0)))
    val in = spark.createDataFrame(rows, schema)
    val out = in.select(
      graft.functions.Functions.squaredDistance(col("a"), col("b")).as("d2")).collect()
    assert(out(0).isNullAt(0),
      "a null element must null the distance, not skip the term (a partial sum would mis-rank)")
    assert(out(1).getDouble(0) == 17.0) // (3-4)² + (1-5)² = 1 + 16
  }

  /** The retired least(struct(d2, code)) composition, built expression for
    * expression — the semantic spec [[graft.functions.PqArgmin]] must match
    * row for row (d2 via squared_distance over the cast+sliced window, tie
    * and null ordering via the struct least). */
  private def composedArgmin(emb: org.apache.spark.sql.Column, offset: Int,
      cb: Array[Array[Double]]): org.apache.spark.sql.Column = {
    val sv = slice(transform(emb, _.cast("double")), offset + 1, cb.head.length)
    val cand = cb.zipWithIndex.map { case (cw, code) =>
      struct(graft.functions.Functions.squaredDistance(sv, lit(cw)).as("d2"),
        lit(code).as("code"))
    }
    least(cand: _*).getField("code")
  }

  test("pq_argmin: equals the least(struct(squared_distance, code)) composition, ties included") {
    def fvec(seed: Long, dim: Int): Seq[Float] =
      (0 until dim).map { i =>
        val h = seed * 2862933555777941757L + i * 3037000493L
        ((h % 10000) / 7919.0).toFloat
      }
    val cb: Array[Array[Double]] =
      (0 until 16).map(k => fvec(k * 77L + 5, 16).map(_.toDouble).toArray).toArray
    cb(7) = cb(3).clone() // duplicate codeword: d2_7 == d2_3 exactly, every row
    import spark.implicits._
    // 64 pseudo-random rows plus one row whose second window IS codeword 5
    // (d2 = 0 there) so the argmin hits an exact zero.
    val planted = fvec(999L, 16) ++ cb(5).map(_.toFloat) ++ fvec(998L, 32)
    val rows = (1L to 64L).map(s => Tuple1(fvec(s, 64))) :+ Tuple1(planted.toSeq)
    val in = rows.toDF("emb").select(col("emb").cast("array<float>").as("emb"))
    Seq(0, 16, 32, 48).foreach { off =>
      val got = in.select(
        graft.functions.Functions.pqArgmin(col("emb"), off, cb).as("nat"),
        composedArgmin(col("emb"), off, cb).as("ref")).collect()
      got.foreach { r =>
        assert(r.getInt(0) == r.getInt(1),
          s"offset $off: pq_argmin ${r.getInt(0)} != composed ${r.getInt(1)}")
      }
      assert(got.forall(_.getInt(1) != 7),
        "fixture sanity: the duplicated codeword 7 must lose every exact tie to code 3")
    }
  }

  test("pq_argmin: a null element resolves to code 0, exactly like the composed least") {
    val schema = StructType(Seq(
      StructField("emb", ArrayType(FloatType, containsNull = true))))
    val cb = Array(Array(1.0, 2.0), Array(0.0, 0.0))
    val rows = java.util.Arrays.asList(
      Row(Seq[java.lang.Float](3.0f, null)),
      Row(Seq[java.lang.Float](0.1f, 0.1f)))
    val in = spark.createDataFrame(rows, schema)
    val got = in.select(
      graft.functions.Functions.pqArgmin(col("emb"), 0, cb).as("nat"),
      composedArgmin(col("emb"), 0, cb).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"pq_argmin ${r.getInt(0)} != composed ${r.getInt(1)}"))
    assert(got(0).getInt(0) == 0, "null element: every d2 is null, least resolves by code -> 0")
    assert(got(1).getInt(0) == 1)
  }
}
