package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // Same decade-scaled width as Bench so the two harnesses'
      // execution configs can't drift (the driver runs Verify at sf0.01,
      // where this resolves to `cpus` — cosmetic today, invariant tomorrow).
      .config("spark.sql.shuffle.partitions", Bench.shufflePartitions(sfDir, cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter; the driver never sets SPARK_GRAFT_QUERIES,
    // so its Verify runs always dump the full surface.
    val selected = SparkEntry.selectFromEnv("verify")
    // Engine/oracle parameter-coupling guard (ADVICE r09): the DuckDB
    // mirrors for the embed-neardup family hardcode autoBits' 8-bit floor
    // (and a 5-iteration min-label chain that assumes <=5-hop clusters,
    // which rides the same fixture bound). The engine derives bits from
    // the corpus size, so on a larger fixture it would be RIGHT while the
    // oracle goes stale — fail fast with the real cause instead of letting
    // the harness report a false mismatch. (The driver's fixture is
    // sf0.01: 500 vectors -> 8 bits; Round8Spec pins the derivation.)
    val embedFamily = Set("q_embed_neardup", "q_embed_neardup2", "q_embed_clusters")
    if (selected.keySet.exists(embedFamily)) {
      val n = Tables(spark, sfDir, "embeddings").count()
      require(ops.Similarity.autoBits(n) == 8,
        s"embed-family oracles assume autoBits==8 but this fixture has $n vectors " +
          s"(autoBits=${ops.Similarity.autoBits(n)}); their SQL mirrors are stale at this " +
          "scale — exclude them via SPARK_GRAFT_QUERIES or regenerate the oracles")
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Map columns dump as their to_json rendering, same name: the
        // driver's pandas row-hash cannot hash raw map cells (the r02
        // q_array_fns2 crash class), so the oracle SQL for a map-emitting
        // query mirrors the JSON string instead. The registered query
        // still RETURNS the MapType — Bench's checksum action exercises
        // the map through its own to_json branch.
        val normalized = df.select(df.schema.fields.map { f =>
          if (Bench.hasMapType(f.dataType))
            org.apache.spark.sql.functions.to_json(
              org.apache.spark.sql.functions.col(f.name)).as(f.name)
          else org.apache.spark.sql.functions.col(f.name)
        }.toIndexedSeq: _*)
        normalized.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Drop persisted blocks (localCheckpoint lineage truncation) so one
      // query's cache never shrinks execution memory for the next.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
