package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties mirroring the reference's semantics (SURVEY.md
  * §5.2.3): offset/limit over a sorted range slices like Seq.slice, and
  * unique-key join cardinality equals set-intersection size (the reference's
  * HashMap build, `/root/reference/src/executor/mod.rs:371`). */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  test("offset(o).limit(l) over a sorted range == Seq.slice(o, o+l)") {
    val gen = for {
      n <- Gen.choose(0, 500)
      o <- Gen.choose(0, 60)
      l <- Gen.choose(0, 60)
    } yield (n, o, l)
    check(Prop.forAllNoShrink(gen) { case (n, o, l) =>
      val got = spark.range(0, n).toDF("id").orderBy("id")
        .offset(o).limit(l)
        .collect().map(_.getLong(0)).toSeq
      got == (0L until n.toLong).slice(o, o + l)
    })
  }

  test("asofJoin == brute-force latest-at-or-before model on random data") {
    import spark.implicits._
    val gen = for {
      nLeft <- Gen.choose(0, 15)
      nRight <- Gen.choose(0, 15)
      lrows <- Gen.listOfN(nLeft, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 20L)))
      rrows <- Gen.listOfN(nRight, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 20L)))
    } yield (lrows, rrows)
    check(Prop.forAllNoShrink(gen) { case (lrows, rrows) =>
      val left = lrows.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("user_id", "ts", "event_id")
      val right = rrows.distinct
        .map { case (k, t) => (k, t, t * 1000 + k) }
        .toDF("user_id", "ts", "payload")
      val got = graft.ops.AsOf.asofJoin(left, right, "user_id", "ts", "payload")
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("payload"))).toSet
      val want = lrows.zipWithIndex.flatMap { case ((k, t), i) =>
        val eligible = rrows.distinct.filter { case (rk, rt) => rk == k && rt <= t }
        if (eligible.isEmpty) None
        else {
          val (_, bt) = eligible.maxBy(_._2)
          Some((i.toLong, bt * 1000 + k))
        }
      }.toSet
      got == want
    })
  }

  test("intersectAll == multiset min-multiplicity model on random bags") {
    import spark.implicits._
    val gen = for {
      a <- Gen.listOf(Gen.choose(0L, 8L))
      b <- Gen.listOf(Gen.choose(0L, 8L))
    } yield (a, b)
    check(Prop.forAllNoShrink(gen) { case (a, b) =>
      val got = a.toDF("v").intersectAll(b.toDF("v"))
        .collect().map(_.getLong(0)).sorted.toSeq
      val ca = a.groupBy(identity).view.mapValues(_.size)
      val cb = b.groupBy(identity).view.mapValues(_.size).toMap
      val want = ca.toSeq.flatMap { case (v, n) =>
        Seq.fill(math.min(n, cb.getOrElse(v, 0)))(v)
      }.sorted
      got == want
    })
  }

  test("hash split partitions the corpus: every doc in exactly one split; sample ⊆ corpus") {
    val d = s"${SparkEntry.FixtureRoot}/sf0.001"
    val total = graft.Tables(spark, d, "documents").count()
    val splitCnt = graft.ops.TextOps.trainSplit(spark, d)
      .collect().map(_.getAs[Long]("cnt")).sum
    assert(splitCnt == total, "train/val/test counts must sum to the corpus size")
    val sampleIds = graft.ops.TextOps.sample(spark, d)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val allIds = graft.Tables(spark, d, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampleIds.subsetOf(allIds) && sampleIds.nonEmpty)
  }

  test("native as-of: generated and interpreted merges agree on random data, all variants") {
    // The r09 CodegenSupport path re-implements the merge loop in generated
    // Java; this property holds it to the interpreted doExecute (which
    // AsOfNativeSpec in turn holds to the DuckDB-checked composed twin) on
    // random inputs across outer x tolerance x direction. Right-side (k, t)
    // pairs are deduped because the kept payload among exact time ties is
    // legitimately plan-dependent (same convention as the composed model
    // property above).
    import spark.implicits._
    val gen = for {
      nLeft <- Gen.choose(0, 12)
      nRight <- Gen.choose(0, 12)
      lrows <- Gen.listOfN(nLeft, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 15L)))
      rrows <- Gen.listOfN(nRight, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 15L)))
      outer <- Gen.oneOf(false, true)
      tol <- Gen.oneOf(Option.empty[Long], Some(3L))
      fwd <- Gen.oneOf(false, true)
    } yield (lrows, rrows, outer, tol, fwd)
    check(Prop.forAllNoShrink(gen) { case (lrows, rrows, outer, tol, fwd) =>
      val left = lrows.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "t", "eid")
      val right = rrows.distinct
        .map { case (k, t) => (k, t, t * 1000 + k) }.toDF("rk", "rt", "payload")
      def run(): Set[(Long, Option[Long])] =
        graft.ops.AsOf.asofJoinNative(left, right, "k", "rk", "t", "rt", outer, tol, fwd)
          .collect()
          .map(r => (r.getAs[Long]("eid"),
            if (r.isNullAt(r.fieldIndex("payload"))) None
            else Some(r.getAs[Long]("payload")))).toSet
      val generated = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted =
        try run()
        finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
      generated == interpreted
    })
  }

  test("unique-key inner join cardinality == range intersection size") {
    val gen = for {
      a <- Gen.choose(0, 300)
      b <- Gen.choose(0, 300)
      c <- Gen.choose(0, 300)
    } yield (a, b, c)
    check(Prop.forAllNoShrink(gen) { case (a, b, c) =>
      val lo = math.min(b, c); val hi = math.max(b, c)
      val got = spark.range(0, a).toDF("id")
        .join(spark.range(lo, hi).toDF("id"), "id")
        .count()
      got == (math.min(a.toLong, hi.toLong) - lo.toLong).max(0L)
    })
  }
}
