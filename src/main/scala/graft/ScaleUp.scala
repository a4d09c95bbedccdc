package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of a driver test-data directory — the input
  * generator for the round-8 scaling sweep (VERDICT r07 next-steps #2:
  * "convert 100-TB design claims into measured evidence").
  *
  * Model: each replica is "another day's crawl" with the same statistics as
  * the source — identical schema, identical per-table distributions,
  * disjoint keys.
  *
  *  - Fact keys shift by `replica × 10^ceil(log10(max key))`, consistently
  *    across referencing tables (orders.o_custkey moves with customer,
  *    lineitem's three FKs move with orders/part/supplier), so join
  *    selectivity and fan-out per key are EXACTLY preserved.
  *  - Dimensions (region, nation) copy as-is: every replica shares them,
  *    like the real world shares its geography.
  *  - documents: replica 0 is bit-identical to the source (its internal
  *    duplicate/near-dup structure survives); replicas ≥ 1 suffix every
  *    token with a replica tag, so each replica carries the SAME dup/near-
  *    dup density internally but no cross-replica near-dups — a 10× corpus
  *    with 10× clusters of the original sizes, not one degenerate 10×-deep
  *    cluster per document (which would be a quadratic adversary, not a
  *    scale-up). n_chars is recomputed from the transformed text. The tag
  *    letter is a per-GENERATION argument (r09): chaining sf0.1 →(x)→ sf1
  *    →(y)→ sf10 keeps every (i, j) suffix combination distinct — with one
  *    letter, generation-2 replica j of generation-1 replica 0 would
  *    collide bit-identically with generation-2 replica 0 of generation-1
  *    replica j, planting ~9 phantom exact-dup docs per original.
  *  - embeddings: vectors rotate by `replica` positions AND sign-flip by a
  *    murmur-hashed (tag, replica, position) ±1 mask (r09) — norm-
  *    preserving, deterministic, direction-distinct, and COMPOSABLE:
  *    rotation alone is a group, so two chained scale-ups collide whenever
  *    i+j = i'+j' (285 phantom exact-dup vectors per source point at
  *    ×100); the non-linear mask family has no such structure, so chained
  *    generations stay direction-distinct and ANN candidate structure
  *    grows with the corpus instead of collapsing onto copies.
  *  - events keep their time range (10× event density, same horizon), with
  *    event_id/user_id shifted; ts passes through in whatever layout the
  *    source had (raw TIMESTAMP(NANOS)-as-long via the legacy conf, or
  *    TIMESTAMP_NTZ from the micros generation) — [[Tables]] normalizes
  *    both on read.
  *
  * Usage: `runMain graft.ScaleUp [srcDir] [dstDir] [replicas] [tag]`
  * (defaults: [[SparkEntry.FixtureRoot]]/sf0.1 → benchdata/sf1 × 10, tag "x";
  * use a DIFFERENT tag per chained generation, e.g. "y" for sf1 → sf10).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse(s"${SparkEntry.FixtureRoot}/sf0.1")
    val dst = args.lift(1).getOrElse("benchdata/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val tag = args.lift(3).getOrElse("x")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      // Read events.ts as raw nanos (and write it back the same way) so the
      // scaled directory is a drop-in for Tables' events branch.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    /** Next power of ten above the key's max — a human-readable, collision-
      * free per-replica offset. */
    def off(t: String, key: String): Long = {
      val m = read(t).agg(max(col(key))).head.getLong(0)
      var p = 1L; while (p <= m) p *= 10; p
    }
    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(i => f(read(t), i)).reduce(_ unionByName _)

    val cOff = off("customer", "c_custkey")
    val sOff = off("supplier", "s_suppkey")
    val pOff = off("part", "p_partkey")
    val oOff = off("orders", "o_orderkey")
    val eOff = off("events", "event_id")
    val uOff = off("events", "user_id")
    val dOff = off("documents", "doc_id")
    val vOff = off("embeddings", "vec_id")

    write("region", read("region"))
    write("nation", read("nation"))
    write("customer", replicate("customer")((df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * cOff))))
    write("supplier", replicate("supplier")((df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * sOff))))
    write("part", replicate("part")((df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * pOff))))
    write("orders", replicate("orders")((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * oOff))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cOff))))
    write("lineitem", replicate("lineitem")((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * oOff))
        .withColumn("l_partkey", col("l_partkey") + lit(i * pOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * sOff))))
    write("events", replicate("events")((df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * eOff))
        .withColumn("user_id", col("user_id") + lit(i * uOff))))
    write("documents", replicate("documents") { (df, i) =>
      val text = if (i == 0) col("text")
        else concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit(s"$tag$i"))))
      df.withColumn("doc_id", col("doc_id") + lit(i * dOff))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    val dim = spark.read.parquet(s"$src/embeddings.parquet")
      .select(size(col("embedding"))).head.getInt(0)
    write("embeddings", replicate("embeddings") { (df, i) =>
      val e = col("embedding")
      val transformed = if (i == 0) e else {
        val rotated = concat(slice(e, (i % dim) + 1, dim), slice(e, 1, i % dim))
        // ±1 sign mask from a non-linear hash of (tag, replica, position):
        // murmur has no additive structure, so masks from chained
        // generations never cancel into a collision the way rotations do.
        val mask = array((0 until dim).map { p =>
          lit(if ((scala.util.hashing.MurmurHash3.productHash((tag, i, p)) & 1) == 0) 1.0f else -1.0f)
        }: _*)
        zip_with(rotated, mask, (x, m) => x * m)
      }
      df.withColumn("vec_id", col("vec_id") + lit(i * vOff))
        .withColumn("embedding", transformed.cast("array<float>"))
    })
    spark.stop()
  }
}
