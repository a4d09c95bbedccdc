package graft.perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the benchmark's input tables: the engine's TPC-H-style star
  * schema plus the events and embeddings tables, with the column names,
  * types and value domains of the engine's parquet fixtures (one parquet
  * directory per table, loadable through `graft.Tables`).
  *
  * The tables are a pure function of [[DataSeed]]: a workload's `--seed`
  * picks the query order, the store's day split and its probe sample, never
  * the table contents, so one set of golden checksums covers every seed.
  * Only integer and IEEE-exact arithmetic (`+ - * /`, `sqrt`) is used, so
  * every JVM writes bit-identical values.
  *
  * Unlike the fixtures, the embeddings carry planted near duplicates, so
  * the store's clustering finds real clusters, merges them across day
  * batches and rewrites labels. */
object DataGen {
  val DataSeed = 20240101L

  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val LineItems = 60000
  val Events = 10000
  val Embeddings = 1000
  val Dim = 64

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Seq("small", "large", "red", "blue", "hot", "cold", "new", "old")
  private val nouns = Seq("widget", "gizmo", "ring", "gear", "plate", "bolt", "spring", "valve")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Deterministic stream per table: adding or removing a table never
    * shifts another's values. */
  private def rng(table: String): SplittableRandom =
    new SplittableRandom(DataSeed * 31 + table.hashCode)

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def cents(r: SplittableRandom, lo: Long, hi: Long): Double =
    (lo + r.nextLong(hi - lo + 1)) / 100.0
  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

  def write(spark: SparkSession, dir: String): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t, nullable = true)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.zipWithIndex.map { case (n, k) => Row(k, n) })

    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
      (0 until 25).map(k => Row(k, s"NATION_$k", k % 5)))

    val cr = rng("customer")
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until Customers).map(k => Row(k.toLong, f"Customer#$k%09d", cr.nextInt(25),
        cents(cr, -99999, 999999), pick(cr, segments))))

    val sr = rng("supplier")
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until Suppliers).map(k => Row(k.toLong, f"Supplier#$k%09d", sr.nextInt(25),
        cents(sr, -99999, 999999))))

    val pr = rng("part")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
      (0 until Parts).map(k => Row(k.toLong, s"${pick(pr, adjectives)} ${pick(pr, nouns)}",
        s"Brand#${1 + pr.nextInt(25)}", pick(pr, partTypes), 1 + pr.nextInt(50),
        (9000 + k % 1000) / 10.0)))

    val or = rng("orders")
    val orderDays = Array.fill(Orders)(or.nextInt(2404)) // 1995-01-01 .. 2001-08-01
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until Orders).map(k => Row(k.toLong, or.nextLong(Customers), pick(or, Seq("F", "O", "P")),
        cents(or, 100000, 50000000), day0.plusDays(orderDays(k)), pick(or, priorities))))

    val lr = rng("lineitem")
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
      (0 until LineItems).map { _ =>
        val o = lr.nextInt(Orders)
        val qty = 1 + lr.nextInt(50)
        Row(o.toLong, lr.nextLong(Parts), lr.nextLong(Suppliers), 1 + lr.nextInt(7), qty.toDouble,
          cents(lr, 90000, 10500000), lr.nextInt(11) / 100.0, lr.nextInt(9) / 100.0,
          pick(lr, Seq("A", "N", "R")), pick(lr, Seq("F", "O")),
          day0.plusDays(orderDays(o) + 1 + lr.nextInt(95)))
      })

    val er = rng("events")
    var micros = 0L
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
      (0 until Events).map { k =>
        micros += 1 + er.nextLong(518400000000L / Events) // ~30 days in all
        Row(k.toLong, LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(micros * 1000),
          er.nextLong(150), pick(er, eventTypes), cents(er, 1, 49002),
          s"""{"k": ${er.nextInt(100)}}""")
      })

    // Embeddings: unit vectors; about a third are perturbed copies of an
    // earlier vector (cosine about 0.5-0.9 to it), forming near-dup chains.
    val vr = rng("embeddings")
    def gauss(): Double = vr.nextDouble() + vr.nextDouble() + vr.nextDouble() + vr.nextDouble() - 2.0
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = new Array[Array[Double]](Embeddings)
    for (k <- 0 until Embeddings) {
      vecs(k) = if (k > 10 && vr.nextInt(3) == 0) {
        val src = vecs(vr.nextInt(k))
        val noise = 0.15 + vr.nextInt(10) / 100.0
        unit(src.map(_ + noise * gauss()))
      } else unit(Array.fill(Dim)(gauss()))
    }
    save("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until Embeddings).map(k => Row(k.toLong, vecs(k).map(_.toFloat).toSeq, vr.nextInt(10))))
  }
}
