package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native [[graft.functions.Shingles]] expression must be bit-identical
  * to the higher-order-function composition it replaced — every DuckDB
  * oracle mirror of the text tier (minhash, winnowing, n-gram Jaccard,
  * heavy hitters) models the SQL form, so any divergence would surface as a
  * cross-engine mismatch at Verify time. */
class ShinglesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The pre-r10 composition, verbatim. */
  private def hofShingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array(text))
  }

  private def check(texts: Seq[String], n: Int): Unit = {
    import spark.implicits._
    val df = texts.toDF("text")
    val native = df.select(graft.functions.Functions.shingles(col("text"), n))
      .collect().map(_.getSeq[String](0)).toSeq
    val hof = df.select(hofShingles(col("text"), n))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(native == hof, s"divergence at n=$n over ${texts.take(5)}...")
  }

  private val adversarial = Seq(
    "", " ", "  ", "a", "a b", "a b c", "a b c d",
    "a  b", " a b", "a b ", "  a  b  ", "a   b",
    "single", "exactly two", "exactly three words",
    "über größe 北京 déjà vu",   // multibyte must survive the byte scan
    "tab\tis not a separator", "trailing space ", " leading space",
  )

  test("adversarial corpus: native ≡ HOF composition for n = 1, 2, 3, 5") {
    for (n <- Seq(1, 2, 3, 5)) check(adversarial, n)
  }

  test("null document yields [null], like array(text)") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a b c")).toDF("text")
    val native = df.select(graft.functions.Functions.shingles(col("text"), 2))
      .collect().map(_.getSeq[String](0)).toSeq
    val hof = df.select(hofShingles(col("text"), 2))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(native == hof)
    assert(native.head == Seq(null))
  }

  test("random fuzz: 500 strings from a space-heavy alphabet, n = 2 and 3") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab ".toCharArray   // 1/3 spaces → dense empty-token cases
    val fuzz = Seq.fill(500)(
      String.valueOf(Array.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(3)))))
    check(fuzz, 2)
    check(fuzz, 3)
  }

  test("the real corpus shingles identically (n=2 and n=3, sf0.001)") {
    val docs = Tables(spark, s"${SparkEntry.FixtureRoot}/sf0.001", "documents")
    for (n <- Seq(2, 3)) {
      val native = docs.select(col("doc_id"),
          graft.functions.Functions.shingles(col("text"), n).as("s"))
        .orderBy("doc_id").collect().map(_.getSeq[String](1)).toSeq
      val hof = docs.select(col("doc_id"), hofShingles(col("text"), n).as("s"))
        .orderBy("doc_id").collect().map(_.getSeq[String](1)).toSeq
      assert(native == hof)
    }
  }

  test("shingles participates in codegen (no CodegenFallback wrapper)") {
    import spark.implicits._
    val df = Seq("a b c d e").toDF("text")
      .select(explode(graft.functions.Functions.shingles(col("text"), 2)).as("s"))
    // If the expression couldn't compile, Spark would wrap the project in an
    // interpreted fallback; the generated-code path is exercised simply by
    // running with codegen forced on and fallback forbidden.
    val saved = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try assert(df.collect().map(_.getString(0)).toSeq == Seq("a b", "b c", "c d", "d e"))
    finally spark.conf.set("spark.sql.codegen.factoryMode", saved)
  }
}
