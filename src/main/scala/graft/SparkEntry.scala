package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * The query inventory re-expresses the reference's capability surface
  * (scan / filter / hash join / limit+offset, reference
  * `src/executor/mod.rs:250-466`) plus the SURVEY.md §2.2 ▲
  * extensions (joins variants, aggregations, windows, set ops, scalar/JSON
  * functions) and the north-star LLM-pipeline operators (dedup, similarity,
  * text analysis, multimodal), each as a deterministic DataFrame query with
  * (where dialect-stable) a DuckDB oracle.
  */
object SparkEntry {

  /** Where the driver-generated fixtures live, one `sf<scale>` dir per
    * scale factor (TESTDATA.md). */
  val FixtureRoot = "/root/testdata"

  /** Flagship: scan → filter(build side) → inner hash equi-join →
    * offset/limit, the reference's one hand-wired plan (reference
    * `src/main.rs:29-48`), on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.flagship(spark, s"$FixtureRoot/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++
      ops.Aggregates.queries ++
      ops.Scalars.queries ++
      ops.TextOps.queries ++
      ops.Dedup.queries ++
      ops.Similarity.queries ++
      ops.Multimodal.queries ++
      ops.Custom.queries ++
      ops.AsOf.queries ++
      ops.Extended.queries ++
      ops.Tpch.queries

  /** The registered queries an allowlist selects, and the allowlisted
    * names that are not registered. `allowlist` is a comma-separated list
    * of query names; unset or blank selects every query. */
  def select(allowlist: Option[String])
      : (Map[String, (SparkSession, String) => DataFrame], Set[String]) = {
    val names = allowlist.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    if (names.isEmpty) (queries, Set.empty)
    else (queries.filter { case (n, _) => names(n) }, names -- queries.keySet)
  }

  /** [[select]] over the `SPARK_GRAFT_QUERIES` env var, the query-subset
    * knob shared by Verify and Bench. Unknown names are reported on
    * stderr under `[tag]`, not silently dropped: a misspelled name must
    * not read as "ran fine" by omission. */
  def selectFromEnv(tag: String): Map[String, (SparkSession, String) => DataFrame] = {
    val (selected, unknown) = select(sys.env.get("SPARK_GRAFT_QUERIES"))
    if (unknown.nonEmpty)
      System.err.println(s"[$tag] WARN: SPARK_GRAFT_QUERIES names not in " +
        s"SparkEntry.queries: ${unknown.toSeq.sorted.mkString(",")}")
    if (sys.env.contains("SPARK_GRAFT_QUERIES"))
      System.err.println(s"[$tag] query subset: ${selected.size} of ${queries.size} queries")
    selected
  }

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omitted for non-SQL-expressible / non-dialect-stable ops
    * (minhash/simhash/langid/approx/ANN) → driver records rows-only check. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracle ++
      ops.Aggregates.oracle ++
      ops.Scalars.oracle ++
      ops.TextOps.oracle ++
      ops.Dedup.oracle ++
      ops.Similarity.oracle ++
      ops.Multimodal.oracle ++
      ops.Custom.oracle ++
      ops.AsOf.oracle ++
      ops.Extended.oracle ++
      ops.Tpch.oracle
}
