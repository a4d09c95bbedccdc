package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native [[graft.functions.WinnowKeys]] / [[graft.functions
  * .HashSampleMod]] expressions must be bit-identical to the
  * higher-order-function compositions they replaced — the DuckDB oracle
  * mirrors of q_winnow_true / q_winnow_fps model the SQL form, so any
  * divergence (hash fold, positional pack, tie rule, distinct collapse,
  * sub-w fallback, null handling) would surface as a cross-engine mismatch
  * at Verify time. Compared ORDERED (exact arrays), not as sets. */
class WinnowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docsDf(texts: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  /** The pre-native mod-p sampling composition, verbatim. */
  private def hofSample(text: Column, mod: Int): Column =
    filter(transform(ops.Dedup.shingles(text), x => ops.Dedup.portableHash(x)),
      h => pmod(h, lit(mod)) === 0)

  private val rnd = new scala.util.Random(31)
  private val adversarial: Seq[(Long, String)] = Seq(
    1L -> "one",                                  // < w shingles: global-min fallback
    2L -> "a b",
    3L -> "a b c",                                // exactly one shingle
    4L -> "a b c d",
    5L -> "a b c d e f",                          // exactly w shingles
    6L -> Seq.fill(40)("dup").mkString(" "),      // all-equal hashes: rightmost-tie + collapse
    7L -> Seq.fill(200)(s"w${rnd.nextInt(5)}").mkString(" "),
    8L -> Seq.fill(300)(s"t${rnd.nextInt(1000)}").mkString(" "),
    9L -> "",                                     // empty text → ["" ] single shingle
    10L -> "  a  b  ",                            // empty tokens from separator runs
  ) ++ (11L to 60L).map(i =>
    i -> Seq.fill(1 + rnd.nextInt(120))(s"x${rnd.nextInt(30)}").mkString(" "))

  test("winnow keys: native ≡ HOF composition, ordered, adversarial + fixture corpus") {
    val docs = docsDf(adversarial)
      .unionByName(Tables(spark, s"${SparkEntry.FixtureRoot}/sf0.001", "documents").select("doc_id", "text"))
    for (w <- Seq(1, 2, 4, 7)) {
      val native = ops.TextOps.winnowPerDoc(docs, w)
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      val hof = ops.TextOps.winnowPerDocHof(docs, w)
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      assert(native.keySet == hof.keySet)
      for ((id, sel) <- native)
        assert(sel == hof(id), s"divergence at w=$w doc=$id")
    }
  }

  test("winnow keys: null document matches the HOF null path") {
    import spark.implicits._
    val docs = Seq((1L, Option.empty[String]), (2L, Some("a b c d e")))
      .toDF("doc_id", "text")
    val native = ops.TextOps.winnowPerDoc(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val hof = ops.TextOps.winnowPerDocHof(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(native == hof)
    assert(native(1L) == Seq(null), "null doc → [null] global-min fallback")
  }

  test("hash sample: native ≡ HOF composition, ordered, for mod 1/2/8") {
    val docs = docsDf(adversarial)
      .unionByName(Tables(spark, s"${SparkEntry.FixtureRoot}/sf0.001", "documents").select("doc_id", "text"))
    for (mod <- Seq(1, 2, 8)) {
      val native = docs.select(col("doc_id"),
          graft.functions.Functions.hashSampleMod(ops.Dedup.shingles(col("text")), mod))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val hof = docs.select(col("doc_id"), hofSample(col("text"), mod))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native == hof, s"divergence at mod=$mod")
    }
  }

  test("portable hash 60-bit fold matches the Column form exactly") {
    import spark.implicits._
    val vals = adversarial.map(_._2) ++ Seq("x", "北京 déjà", " ")
    val viaCol = vals.toDF("s").select(ops.Dedup.portableHash(col("s")))
      .collect().map(_.getLong(0)).toSeq
    val viaNative = vals.map(s =>
      graft.functions.HashSampleMod.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(s))), 1)
        .getLong(0)).toSeq
    assert(viaNative == viaCol)
  }
}
