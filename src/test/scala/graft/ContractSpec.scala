package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract self-checks: these failing would silently zero an entire
  * correctness round, so they fail loudly here instead. */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("no query-name collisions across ops modules (Map ++ would shadow silently)") {
    val moduleSizes = Seq(
      ops.Relational.queries.size, ops.Aggregates.queries.size,
      ops.Scalars.queries.size, ops.TextOps.queries.size,
      ops.Dedup.queries.size, ops.Similarity.queries.size,
      ops.Multimodal.queries.size, ops.Custom.queries.size,
      ops.AsOf.queries.size, ops.Extended.queries.size,
      ops.Tpch.queries.size).sum
    assert(SparkEntry.queries.size == moduleSizes,
      "a query name is registered by more than one module")
  }

  test("every oracle entry has a matching registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("query allowlist: unset selects all, a subset selects it, unknown names are reported") {
    val (all, noneUnknown) = SparkEntry.select(None)
    assert(all.size == 187 && all.keySet == SparkEntry.queries.keySet && noneUnknown.isEmpty)
    assert(SparkEntry.select(Some(" , "))._1.keySet == all.keySet, "a blank allowlist selects all")
    val (subset, unknown) = SparkEntry.select(Some("q_tpch1, q_flagship"))
    assert(subset.keySet == Set("q_tpch1", "q_flagship") && unknown.isEmpty)
    val (kept, typo) = SparkEntry.select(Some("q_tpch1,q_tpch99,q_flagshp"))
    assert(kept.keySet == Set("q_tpch1") && typo == Set("q_tpch99", "q_flagshp"))
  }

  test("entry() yields rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query EXECUTES (not just analyzes) on the smoke fixture") {
    // .limit(1).collect() forces real execution — runtime-only failures
    // (ANSI overflow, codegen errors) don't show up at analysis time.
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, s"${SparkEntry.FixtureRoot}/sf0.001")
      assert(df.schema.nonEmpty, s"$name produced an empty schema")
      try df.limit(1).collect()
      catch { case e: Throwable => fail(s"$name failed at runtime: ${e.getMessage}") }
    }
  }
}
