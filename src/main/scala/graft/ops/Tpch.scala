package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Classic TPC-H-shaped analytics over the driver's star schema — the
  * multiway-join workloads a user of the reference's capability surface
  * (hash equi-join + filter + limit, `/root/reference/src/executor/
  * mod.rs:278-381,383-466`) would actually run at 100 TB, generalized from
  * the reference's single two-table plan (`/root/reference/src/main.rs:
  * 29-48`) to filtered multiway stars. (The fixture schema has no partsupp
  * and uses o_orderpriority instead of o_shippriority; queries are
  * adapted.)
  *
  * Scale shapes: dims (region/nation/customer-filtered) broadcast; the one
  * unavoidable shuffle is fact⋈fact on orderkey; every revenue sort orders
  * by the ROUNDED measure plus a unique tiebreak key so top-k is
  * deterministic in both engines.
  */
object Tpch {
  type Q = (SparkSession, String) => DataFrame

  private def ts(s: String) = lit(s + " 00:00:00").cast("timestamp")

  /** Q3 shape — shipping-priority revenue: unshipped-as-of-date orders of
    * one market segment, top-10 by revenue. */
  val tpch3: Q = (s, d) => {
    val cust = Tables(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables(s, d, "orders")
      .filter(col("o_orderdate") < ts("1998-06-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables(s, d, "lineitem")
      .filter(col("l_shipdate") > ts("1998-06-01"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.dimBroadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
  }

  /** Q5 shape — local-supplier volume per nation in one region and year
    * (customer and supplier in the same nation). */
  val tpch5: Q = (s, d) => {
    val region = Tables(s, d, "region").filter(col("r_name") === "ASIA")
    val nation = Tables(s, d, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables(s, d, "customer").select("c_custkey", "c_nationkey")
    val supp = Tables(s, d, "supplier").select("s_suppkey", "s_nationkey")
    val ord = Tables(s, d, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables(s, d, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.dimBroadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(Hints.dimBroadcast(supp), col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy("n_name")
  }

  /** Q10 shape — returned-item reporting: top-20 customers by lost revenue
    * in one quarter. */
  val tpch10: Q = (s, d) => {
    val ord = Tables(s, d, "orders")
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1997-04-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables(s, d, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = Tables(s, d, "customer")
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nation = Tables(s, d, "nation").select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.dimBroadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
  }

  /** The salted join's hot-key detection threshold, in ROWS PER KEY — the
    * per-task row budget a single key's join group must breach before it
    * is worth salting (the [[Extended.bucketsFor]] ≤~4M-rows-per-task
    * provisioning budget, applied to one KEY instead of one bucket).
    *
    * RE-CALIBRATED r21 (OPTIMIZATION_r21.md §2):
    * the original `>= 6` marked the fixture's TOP FAN-OUT BAND of an
    * unskewed distribution — 21.9% of ALL order keys (32M keys at sf100),
    * covering 37% of the fact. That is not a skew tail; it made the
    * "bounded" hot list corpus-proportional (the exact scale-killer this
    * operator exists to avoid): two ~32M-key broadcasts plus an ×8
    * replication of a third of the dim — measured 422.9 s median at sf100
    * vs 21.0 s for the checksum-identical plain join under AQE. Skew is
    * ABSOLUTE, not relative: a key is hot when ITS rows overwhelm ONE
    * task, so the production threshold is a rows-per-task budget,
    * independent of corpus size — on data whose max fan-out is 7 (this
    * fixture at every SF) a correctly calibrated detector finds NOTHING,
    * and the operator degrades to detection + the plain join, which is
    * precisely the right plan on unskewed data. Round8Spec drives the
    * salting path itself through this seam (lowered so the fixture's
    * fan-out band reads as hot) and pins plain-join identity both ways;
    * the result is threshold-invariant by construction (the oracle IS the
    * plain join). */
  @volatile private[graft] var HotKeyRowThreshold: Long = 4000000L

  /** The salted join's hot-key DETECTION (r21 — OPTIMIZATION_r21.md §2),
    * extracted so tests can pin the detector directly. Two stages:
    *
    * Stage 1: candidates from a deterministic 1/256 row-hash Bernoulli
    * sample instead of an exact count over every key — the exact pass was
    * a full corpus-wide keys-count shuffle aggregate (150M groups at
    * sf100, ~25 s and the probe's dominant variance source) spent
    * measuring 99.99% of keys that cannot possibly be hot. A key at the
    * 4M-row budget expects ~15.6k sampled rows against a 3.9k cutoff
    * (Chernoff: miss probability ~e^-4500), keys under ~1M rows fall
    * below the cutoff, so the candidate set is bounded by
    * corpus-rows/1M — and a missed key costs only performance, never
    * correctness: the join result is IDENTICAL under any hot set (both
    * sides salt from the same list), with AQE's skew-join still on
    * underneath as the backstop. The sample predicate is codegen'd
    * built-ins (xxhash64 over all four row columns — row-level, NOT
    * key-level: hashing the key alone would sample whole keys and see
    * their full counts or nothing).
    *
    * Stage 2: EXACT count for the bounded candidate set only — a
    * broadcast-filtered map-side pass (no corpus-wide shuffle; when the
    * candidate set is empty AQE propagates the empty relation and the
    * whole branch collapses at runtime), so the emitted list is exactly
    * the candidates truly at-or-over [[HotKeyRowThreshold]]. */
  private[graft] def saltedHotKeys(li: DataFrame): DataFrame = {
    val SampleMod = 256L
    val candCut = math.max(1L, HotKeyRowThreshold / SampleMod / 4)
    val cands = li
      .filter(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity")), lit(SampleMod)) === 0L)
      .groupBy("l_orderkey").agg(count(lit(1)).as("sc"))
      .filter(col("sc") >= candCut).select(col("l_orderkey").as("ck"))
    li.join(broadcast(cands), col("l_orderkey") === col("ck"))
      .groupBy("l_orderkey").agg(count(lit(1)).as("c"))
      .filter(col("c") >= HotKeyRowThreshold).select(col("l_orderkey").as("hk"))
  }

  /** Hot-key-only salted skew join. It replaced a naive form that salted
    * every key and replicated the WHOLE dim ×S, whose cost grew 5× at 10×
    * data in the r08 scaling sweep (PERF_NOTES r08). AQE's runtime skew
    * splitting covers moderate skew; here a map-side-combined detection
    * pass ([[saltedHotKeys]]) finds the keys heavy enough to
    * overwhelm one reducer ([[HotKeyRowThreshold]] rows — the rows-per-
    * task budget; at 100 TB the [[Custom.mgHeavyHitters]] sketch replaces
    * the exact pass), the hot-key set — bounded by corpus-rows/threshold,
    * i.e. ≤ a few hundred genuinely-skewed keys in any realistic corpus —
    * BROADCASTS to both sides, and only hot keys salt/replicate — the
    * cold remainder flows through the plain equi-join path with salt 0.
    * Extra shuffle volume is S× the HOT subset only, constant in the dim
    * size. Result identical to the plain join at any threshold (the
    * oracle IS the plain join). */
  val saltedHotJoin: Q = (s, d) => {
    val S = 8
    val li = Tables(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val ord = Tables(s, d, "orders").select("o_orderkey", "o_orderpriority")
    // The hot list's forced broadcast stays (PERF_NOTES r20 aggregate-hint
    // section: unhinted, AQE's runtime conversion can miss and the tag
    // joins then shuffle the ENTIRE fact on the skewed key itself);
    // bounded by corpus-rows/[[HotKeyRowThreshold]] by construction.
    val hot = saltedHotKeys(li)
    val fact = li.join(broadcast(hot), col("l_orderkey") === col("hk"), "left")
      .withColumn("salt", when(col("hk").isNotNull,
        pmod(hash(col("l_linenumber"), col("l_partkey")), lit(S))).otherwise(lit(0)))
      .drop("hk")
    val dim = ord.join(broadcast(hot), col("o_orderkey") === col("hk"), "left")
      .withColumn("salt", explode(when(col("hk").isNotNull,
        sequence(lit(0), lit(S - 1))).otherwise(array(lit(0)))))
      .drop("hk")
    fact.join(dim, col("l_orderkey") === col("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy("o_orderpriority")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy("o_orderpriority")
  }

  /** Q17 shape — small-quantity-order revenue: lineitems of one brand's
    * parts whose quantity is below 20% of that part's average quantity.
    * The correlated AVG subquery becomes one groupBy on the fact's join key
    * (a single shuffle, reused by the join back); the brand filter pushes
    * into the part scan and broadcasts. The `qty < 0.2 * avg` threshold is
    * evaluated in exact integer arithmetic (`5 * qty * cnt < sum_qty` on
    * longs — quantities are integral) so the boundary can never flip on
    * float summation order, in either engine. */
  val tpch17: Q = (s, d) => {
    val pa = Tables(s, d, "part")
      .filter(col("p_brand") === "Brand#4").select("p_partkey")
    val li = Tables(s, d, "lineitem")
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice"))
    val avgq = li.groupBy("l_partkey")
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
      .withColumnRenamed("l_partkey", "a_partkey")
    li.join(Hints.dimBroadcast(pa), col("l_partkey") === col("p_partkey"))
      .join(avgq, col("l_partkey") === col("a_partkey"))
      .filter(col("qty") * lit(5L) * col("cnt") < col("sum_qty"))
      .agg(round(sum(col("l_extendedprice")), 2).as("total_price"),
        (round(sum(col("l_extendedprice")), 2) / lit(7)).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  /** Q18 shape — large-volume orders: orders whose total lineitem quantity
    * exceeds a threshold, with their customer. The HAVING threshold runs on
    * exact long sums (quantities are integral); the aggregated order list is
    * tiny relative to the fact table, so the customer edge broadcasts and
    * the only real shuffle is the orderkey groupBy. */
  val tpch18: Q = (s, d) => {
    val big = Tables(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 250L)
    val ord = Tables(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables(s, d, "customer").select("c_custkey", "c_name")
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.dimBroadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
        "o_totalprice", "sum_qty")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q7 shape — volume shipping: bilateral trade revenue between two
    * nations by year (supplier in one, customer in the other, either
    * direction). The two nation dims filter-then-broadcast into supplier
    * and customer, shrinking both to 2/25 BEFORE they reach the fact join,
    * so the only real shuffle is lineitem⋈orders on orderkey; the
    * direction filter is an OR over the two (supp, cust) name pairs. At
    * 100 TB the nation-filtered customer side may outgrow a broadcast —
    * then it shuffle-joins on custkey like any dim promoted to fact size. */
  val tpch7: Q = (s, d) => {
    val pair = Seq("NATION_1", "NATION_2")
    val n1 = Tables(s, d, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables(s, d, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    // The guarded sides are JOIN-DERIVED (supplier⋈nation), so the gate
    // reads the BASE scan's stats (ADVICE r19 medium: a joined frame's
    // non-CBO estimate multiplies children and silently drops the hint at
    // every realistic scale); nation's unique key bounds the joined
    // cardinality by the base side's.
    val suppBase = Tables(s, d, "supplier").select("s_suppkey", "s_nationkey")
    val supp = suppBase
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val custBase = Tables(s, d, "customer").select("c_custkey", "c_nationkey")
    val cust = custBase
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .select("c_custkey", "cust_nation")
    val ord = Tables(s, d, "orders").select("o_orderkey", "o_custkey")
    val li = Tables(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1998-01-01"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.dimBroadcast(supp, suppBase), col("l_suppkey") === col("s_suppkey"))
      .join(Hints.dimBroadcast(cust, custBase), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2")
        || (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q12 shape — priority counts per line status in a ship-date year: the
    * conditional two-way CASE aggregation over the fact⋈fact orderkey join.
    * (The fixture schema has no l_shipmode/l_commitdate/l_receiptdate, so
    * the grouping key is l_linestatus and the late-delivery predicate
    * becomes the ship-date year window — the join + conditional-sum shape
    * is what Q12 exercises.) Exact integer CASE sums → bit-stable. */
  val tpch12: Q = (s, d) => {
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val ord = Tables(s, d, "orders").select("o_orderkey", "o_orderpriority")
    val li = Tables(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01"))
      .select("l_orderkey", "l_linestatus")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!urgent, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** Q6 shape — forecast revenue change: pure scan-filter-aggregate with a
    * three-way range predicate, no join at all. The entire predicate pushes
    * into the parquet scan (row-group skipping on shipdate/discount/quantity
    * min-max stats), so at 100 TB this reads only the row groups of one
    * ship-year — the canonical "pushdown is the whole query" benchmark. */
  val tpch6: Q = (s, d) =>
    Tables(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01")
        && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
        && col("l_quantity") < 24.0)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Q14 shape — promotion-effect ratio: lineitem⋈part with a conditional
    * numerator. The part dim broadcasts; the percentage is computed from the
    * two ROUNDED sums (identical doubles in both engines) so the ratio can
    * never flip on summation order. */
  val tpch14: Q = (s, d) => {
    val pa = Tables(s, d, "part").select("p_partkey", "p_type")
    val li = Tables(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-06-01") && col("l_shipdate") < ts("1997-09-01"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(Hints.dimBroadcast(pa), col("l_partkey") === col("p_partkey"))
      .agg(round(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))), 2).as("promo_revenue"),
        round(sum(rev), 2).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 4).as("promo_pct"))
  }

  /** Q19 shape — discounted revenue under an OR-of-ANDs predicate (three
    * brand/size/quantity bands). The join key equality plus the whole
    * disjunction sit in ONE join condition; Catalyst extracts the
    * common `l_partkey = p_partkey` equi-key (broadcast hash join, not a
    * nested loop) and pushes the per-side conjuncts
    * (`p_size >= 1`, quantity bounds) down into each scan. */
  val tpch19: Q = (s, d) => {
    val pa = Tables(s, d, "part").select("p_partkey", "p_brand", "p_size")
    val li = Tables(s, d, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val band = (brand: String, qlo: Double, qhi: Double, smax: Int) =>
      col("p_brand") === brand && col("l_quantity") >= qlo && col("l_quantity") <= qhi &&
        col("p_size") >= 1 && col("p_size") <= smax
    li.join(Hints.dimBroadcast(pa), col("l_partkey") === col("p_partkey") &&
        (band("Brand#1", 1, 11, 5) || band("Brand#2", 10, 20, 10) || band("Brand#3", 20, 30, 15)))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Q4 shape — order-priority checking: orders of one quarter with at
    * least one line shipped after the order date (the fixture's analog of
    * Q4's commit-vs-receipt lateness — the schema has no
    * l_commitdate/l_receiptdate), counted per priority. The EXISTS becomes
    * a left-semi join whose condition mixes the orderkey equi-key with a
    * CORRELATED non-equi comparison (l_shipdate > o_orderdate): Catalyst
    * keeps the equi-part as the hash key and evaluates the residual inside
    * the join, so the fact⋈fact edge still shuffles exactly once on
    * orderkey, and the quarter filter pushes into the orders scan. */
  val tpch4: Q = (s, d) => {
    val ord = Tables(s, d, "orders")
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1997-04-01"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables(s, d, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q13 shape — customer order-count distribution: how many customers
    * placed exactly k orders, INCLUDING k=0, excluding one priority class.
    * Shape order matters at scale: aggregate orders by custkey FIRST (one
    * shuffle over the fact alone, map-side combined), then left-join the
    * customer dim to the aggregated counts and coalesce the missing ones to
    * 0 — never join raw customers into the raw fact. The second groupBy runs
    * over ≤|customer| rows. */
  val tpch13: Q = (s, d) => {
    val perCust = Tables(s, d, "orders")
      .filter(col("o_orderpriority") =!= "5-LOW")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    Tables(s, d, "customer").select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q15 shape — top supplier: per-supplier revenue for one quarter, then
    * the supplier(s) achieving the maximum. The revenue view is one fact
    * shuffle; its max is a 1-row aggregate BROADCAST back (not a window
    * over the whole view — no second full-view sort/shuffle), and the
    * supplier dim broadcasts. Revenue is rounded before the max so the
    * argmax can never flip on float summation order in either engine. */
  val tpch15: Q = (s, d) => {
    val rev = Tables(s, d, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1997-04-01"))
      .groupBy("l_suppkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    val supp = Tables(s, d, "supplier").select("s_suppkey", "s_name")
    rev.join(broadcast(mx), col("total_revenue") === col("mx"))
      .join(Hints.dimBroadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q16 shape — parts/supplier relationship: distinct suppliers per
    * (brand, type, size), excluding one brand and a "complaints" supplier
    * set (TPC-H's NOT IN subquery → a left-anti join against the
    * negative-balance suppliers, the fixture's complaint analog; no
    * partsupp table, so the part↔supplier edge comes from lineitem).
    * countDistinct after an anti-join: the anti side is a tiny broadcast,
    * the distinct-aggregate shuffles once on the group keys. */
  val tpch16: Q = (s, d) => {
    val bad = Tables(s, d, "supplier")
      .filter(col("s_acctbal") < 0.0).select("s_suppkey")
    val pa = Tables(s, d, "part")
      .filter(col("p_brand") =!= "Brand#1")
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables(s, d, "lineitem").select("l_partkey", "l_suppkey")
      .join(Hints.dimBroadcast(pa), col("l_partkey") === col("p_partkey"))
      .join(Hints.dimBroadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      .limit(20)
  }

  /** Q22 shape — global sales opportunity: customers with above-average
    * (positive-mean) balance and no RECENT orders (none since 1998 — the
    * fixture's lapsed-customer analog of Q22's "no orders in 7 years"),
    * per nation. The scalar AVG subquery is a 1-row broadcast cross join;
    * the NOT EXISTS is a left-anti join against the date-filtered orders
    * custkey set — broadcastable while the filtered key set fits, shuffling
    * both sides on custkey once it doesn't, and the date predicate
    * partition-prunes the orders scan when orders are date-partitioned.
    * The mean is rounded to 2 decimals before the
    * comparison so the threshold is the identical double in both engines
    * (fixture balances are full-precision doubles, so a tie against the
    * rounded mean has ~0 probability — and a tie would exclude the row
    * identically in both engines anyway). */
  val tpch22: Q = (s, d) => {
    val cust = Tables(s, d, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(round(avg(col("c_acctbal")), 2).as("avg_bal"))
    val recent = Tables(s, d, "orders")
      .filter(col("o_orderdate") >= ts("1998-01-01")).select("o_custkey")
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** Q1 shape — pricing summary report: the canonical full-scan
    * scan→partial-agg→final-agg with eight aggregates over two low-card
    * keys. Quantities sum as exact longs; price sums round at 2 (sums of
    * 2-decimal values — deterministic); the three averages are computed
    * FROM the already-deterministic sums and counts (a single division),
    * never via round(avg(...)), which would expose float summation order.
    * At 100 TB this query is pure map-side combine: the shuffle carries
    * ≤ |flag|×|status| rows per task. */
  val tpch1: Q = (s, d) =>
    Tables(s, d, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
        round(col("sum_qty").cast("double") / col("count_order"), 4).as("avg_qty"),
        round(col("sum_base_price") / col("count_order"), 4).as("avg_price"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q2 shape — minimum-cost supplier: for every small "bolt" part, the
    * supplier with the LOWEST account balance among those who ever shipped
    * it (the fixture's supplycost analog; the part↔supplier edge comes from
    * lineitem since there's no partsupp). The correlated MIN subquery is an
    * argmin as `min(struct(bal, suppkey))` — ONE map-side-combined shuffle
    * on partkey, with the struct's lexicographic order breaking balance
    * ties toward the smaller suppkey deterministically. The oracle computes
    * the same argmin as a ranked window, so the hash match proves the
    * struct-min ≡ window-rank equivalence. A window would also work here
    * but costs a per-partition sort; the struct-min is the shape that
    * scales.
    *
    * The argmin set joins back UNHINTED (VERDICT r19 next #1, adjudicated
    * r20, PERF_NOTES r20 aggregate-hint section): `edges` is already
    * hash-partitioned on (l_partkey, l_suppkey) by its distinct(), which
    * are exactly the join keys, so the probe side of the argmin join is
    * EXCHANGE-FREE under sort-merge, while the old forced broadcast
    * materialized the per-part argmin — an SF-proportional side —
    * through the driver.
    * Measured: unhinted is FASTER at both probed decades (sf0.1 1.05 →
    * 0.69 s, sf100 77.1 → 68.2 s) and cannot OOM the driver at any scale;
    * AQE remains free to broadcast from runtime sizes where that wins. */
  val tpch2: Q = (s, d) => {
    val pa = Tables(s, d, "part")
      .filter(col("p_name").contains("bolt") && col("p_size") < 10)
      .select("p_partkey", "p_name", "p_size")
    val supp = Tables(s, d, "supplier")
      .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    val nat = Tables(s, d, "nation").select("n_nationkey", "n_name")
    val edges = Tables(s, d, "lineitem").select("l_partkey", "l_suppkey").distinct()
      .join(Hints.dimBroadcast(pa), col("l_partkey") === col("p_partkey"))
      .join(Hints.dimBroadcast(supp), col("l_suppkey") === col("s_suppkey"))
    val best = edges.groupBy(col("p_partkey").as("b_partkey"))
      .agg(min(struct(col("s_acctbal"), col("s_suppkey"))).as("b"))
      .select(col("b_partkey"), col("b.s_suppkey").as("b_supp"))
    edges.join(best, col("p_partkey") === col("b_partkey") && col("s_suppkey") === col("b_supp"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("p_partkey", "p_name", "p_size", "s_suppkey", "s_name", "s_acctbal", "n_name")
      .orderBy(col("s_acctbal").desc, col("p_partkey"))
      .limit(50)
  }

  /** Q8 shape — national market share: one nation's share of PROMO-part
    * revenue sold to one region's customers, by order year. Both nation
    * dims pre-filter-and-broadcast into customer/supplier before any fact
    * edge; the share is a conditional sum over the SAME aggregate pass
    * (never two passes over the fact), and the ratio is taken from the two
    * ROUNDED sums so it can't flip on summation order. */
  val tpch8: Q = (s, d) => {
    val reg = Tables(s, d, "region").filter(col("r_name") === "ASIA")
    val natC = Tables(s, d, "nation")
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    // Join-derived dims gate on their base scans (ADVICE r19 medium —
    // see tpch7's note).
    val custBase = Tables(s, d, "customer").select("c_custkey", "c_nationkey")
    val cust = custBase
      .join(broadcast(natC), col("c_nationkey") === col("c_nk"))
      .select("c_custkey")
    val natS = Tables(s, d, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val suppBase = Tables(s, d, "supplier").select("s_suppkey", "s_nationkey")
    val supp = suppBase
      .join(broadcast(natS), col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val pa = Tables(s, d, "part").filter(col("p_type") === "PROMO").select("p_partkey")
    val ord = Tables(s, d, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables(s, d, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(Hints.dimBroadcast(pa), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.dimBroadcast(cust, custBase), col("o_custkey") === col("c_custkey"))
      .join(Hints.dimBroadcast(supp, suppBase), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(when(col("supp_nation") === "NATION_2", rev).otherwise(lit(0.0))), 2).as("nation_rev"),
        round(sum(rev), 2).as("total_rev"))
      .select(col("o_year"), col("nation_rev"), col("total_rev"),
        round(col("nation_rev") / col("total_rev"), 4).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Q9 shape — product-line profit by nation and year: revenue minus a
    * retail-price-based unit cost (the fixture's supplycost analog) for
    * "bolt" parts, grouped by the supplier's nation and order year. The
    * profit expression folds into ONE conditional-free aggregate over the
    * two fact joins (lineitem⋈orders on orderkey is the only real
    * shuffle); part and supplier⋈nation broadcast. */
  val tpch9: Q = (s, d) => {
    val pa = Tables(s, d, "part")
      .filter(col("p_name").contains("bolt"))
      .select("p_partkey", "p_retailprice")
    val nat = Tables(s, d, "nation").select("n_nationkey", "n_name")
    // Join-derived dim: gate on the base supplier scan (ADVICE r19 medium
    // — see tpch7's note).
    val suppBase = Tables(s, d, "supplier").select("s_suppkey", "s_nationkey")
    val supp = suppBase
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val ord = Tables(s, d, "orders").select("o_orderkey", "o_orderdate")
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("p_retailprice") * lit(0.1) * col("l_quantity")
    Tables(s, d, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(Hints.dimBroadcast(pa), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Hints.dimBroadcast(supp, suppBase), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(amount), 2).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Q11 shape — important stock value: parts whose total lineitem value
    * exceeds a FRACTION of the corpus-wide total — the HAVING-against-a-
    * scalar-subquery pattern. The per-part aggregate is one fact shuffle;
    * its grand total re-aggregates the (tiny) per-part view into one row
    * that broadcasts back as a cross join. Both sides of the comparison
    * derive from the SAME rounded per-part values, so the threshold is the
    * identical double in both engines. (TPC-H scales the fraction by 1/SF
    * for exactly the reason visible here: a fixed fraction of the total
    * moves with corpus size while per-part values don't — 0.0006 ≈ 1.2× the
    * mean part value at the correctness SF.) */
  val tpch11: Q = (s, d) => {
    val value = Tables(s, d, "lineitem")
      .groupBy("l_partkey")
      .agg(round(sum(col("l_extendedprice")), 2).as("value"))
    val thr = value.agg((round(sum(col("value")), 2) * lit(0.0006)).as("thr"))
    value.crossJoin(broadcast(thr))
      .filter(col("value") > col("thr"))
      .select("l_partkey", "value")
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** Q20 shape — potential part promotion: suppliers who moved a
    * significant volume (sum qty > 90) of any "bolt" part, as a semi-join
    * CHAIN driven by an aggregate: part-name filter → broadcast into the
    * fact → (partkey, suppkey) volume aggregate → HAVING → the distinct
    * supplier set semi-joins the supplier dim. The supplier dim is the
    * probe side of a left-semi whose build is an aggregated subquery —
    * TPC-H's nested-IN pattern with the correlation flattened into one
    * fact shuffle on the composite key. The build is UNHINTED (VERDICT r19
    * next #1, adjudicated r20, PERF_NOTES aggregate-hint section): the old forced
    * broadcast pushed the distinct-supplier set — bounded by the supplier
    * dim, i.e. SF-proportional — through the driver, and measured SLOWER
    * than letting the planner run the semi as a sort-merge with AQE free
    * to convert from runtime sizes (sf0.1 0.38 → 0.37 s, sf100 9.5 →
    * 7.8 s unhinted): the supplier probe side is dim-sized, so the
    * "avoided" shuffle was never the cost the hint assumed. */
  val tpch20: Q = (s, d) => {
    val bolts = Tables(s, d, "part")
      .filter(col("p_name").contains("bolt")).select("p_partkey")
    val vol = Tables(s, d, "lineitem")
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(Hints.dimBroadcast(bolts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 90L)
      .select("l_suppkey").distinct()
    Tables(s, d, "supplier").select("s_suppkey", "s_name", "s_acctbal")
      .join(vol, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .orderBy("s_suppkey")
  }

  /** Q21 shape — suppliers who kept the order waiting: for completed ('F')
    * multi-supplier orders, the ONE supplier whose lines shipped ≥90 days
    * after the order date while every other supplier's shipped sooner (the
    * fixture's receipt/commit-date analog). TPC-H's doubly-quantified
    * correlated query — EXISTS(another supplier) AND NOT EXISTS(another
    * LATE supplier) — decorrelated to per-order min/max aggregates: ONE
    * fact shuffle on orderkey, and the blame filter is
    * `min(supp) < max(supp) AND min(late) = max(late)`, the culprit being
    * `min(late)`. A set of non-null values has ≥ 2 distinct members exactly
    * when its min is below its max, and exactly one when its min equals its
    * max; min and max ignore nulls as `countDistinct` and `collect_set` do,
    * and an order with no (late) supplier gets a null min and fails the
    * filter. So this is the `countDistinct(supp) >= 2 AND
    * size(collect_set(late)) = 1` form with fixed-width aggregation
    * buffers: one codegen'd `HashAggregate` pair instead of Spark's
    * distinct rewrite into four `ObjectHashAggregate`s over a second
    * shuffle on (orderkey, suppkey). No lineitem self-join anywhere: at
    * 100 TB that's one fact shuffle instead of three. The DuckDB oracle
    * runs the ACTUAL quantifiers (EXISTS / NOT EXISTS), so a hash match
    * proves the decorrelation itself, not just the arithmetic. */
  val tpch21: Q = (s, d) => {
    val ord = Tables(s, d, "orders")
      .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate")
    val li = Tables(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    val perOrder = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late_supp",
        when(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          col("l_suppkey")))
      .groupBy("o_orderkey")
      .agg(min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"),
        min(col("late_supp")).as("culprit"), max(col("late_supp")).as("max_late"))
      .filter(col("min_supp") < col("max_supp") && col("culprit") === col("max_late"))
    val supp = Tables(s, d, "supplier").select("s_suppkey", "s_name")
    perOrder.groupBy("culprit").agg(count(lit(1)).as("numwait"))
      .join(Hints.dimBroadcast(supp), col("culprit") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(25)
  }

  /** One-pass column profile (the data-quality screening scan every
    * pipeline runs before training ingestion): row count, per-column
    * min/max/rounded-sum, null count, exact distinct. */
  val profile: Q = (s, d) =>
    Tables(s, d, "lineitem")
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        sum(col("l_discount").isNull.cast("long")).as("null_disc"),
        countDistinct(col("l_returnflag")).as("n_flags"))

  val queries: Map[String, Q] = Map(
    "q_tpch1" -> tpch1,
    "q_tpch2" -> tpch2,
    "q_tpch3" -> tpch3,
    "q_tpch4" -> tpch4,
    "q_tpch8" -> tpch8,
    "q_tpch9" -> tpch9,
    "q_tpch11" -> tpch11,
    "q_tpch5" -> tpch5,
    "q_tpch13" -> tpch13,
    "q_tpch15" -> tpch15,
    "q_tpch16" -> tpch16,
    "q_tpch20" -> tpch20,
    "q_tpch21" -> tpch21,
    "q_tpch22" -> tpch22,
    "q_tpch7" -> tpch7,
    "q_tpch10" -> tpch10,
    "q_tpch12" -> tpch12,
    "q_tpch6" -> tpch6,
    "q_tpch14" -> tpch14,
    "q_tpch19" -> tpch19,
    "q_tpch17" -> tpch17,
    "q_tpch18" -> tpch18,
    "q_salted_hotkey" -> saltedHotJoin,
    "q_profile" -> profile,
  )

  val oracle: Map[String, String] = Map(
    "q_tpch1" ->
      """WITH a AS (SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base_price, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price, round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge, CAST(count(*) AS BIGINT) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00' GROUP BY 1, 2) SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge, round(CAST(sum_qty AS DOUBLE) / count_order, 4) AS avg_qty, round(sum_base_price / count_order, 4) AS avg_price, count_order FROM a ORDER BY l_returnflag, l_linestatus""",
    "q_tpch2" ->
      """SELECT p_partkey, p_name, p_size, s_suppkey, s_name, s_acctbal, n_name FROM (SELECT p_partkey, p_name, p_size, s_suppkey, s_name, s_acctbal, n_name, row_number() OVER (PARTITION BY p_partkey ORDER BY s_acctbal, s_suppkey) AS rk FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) e JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE p_name LIKE '%bolt%' AND p_size < 10) t WHERE rk = 1 ORDER BY s_acctbal DESC, p_partkey LIMIT 50""",
    "q_tpch8" ->
      """WITH a AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, round(sum(CASE WHEN n2.n_name = 'NATION_2' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2) AS nation_rev, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_rev FROM lineitem JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation n1 ON c_nationkey = n1.n_nationkey JOIN region ON n1.n_regionkey = r_regionkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation n2 ON s_nationkey = n2.n_nationkey WHERE r_name = 'ASIA' AND p_type = 'PROMO' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1) SELECT o_year, nation_rev, total_rev, round(nation_rev / total_rev, 4) AS mkt_share FROM a ORDER BY o_year""",
    "q_tpch9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year, round(sum(l_extendedprice * (1.0 - l_discount) - p_retailprice * 0.1 * l_quantity), 2) AS sum_profit FROM lineitem JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE p_name LIKE '%bolt%' GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
    "q_tpch11" ->
      """WITH v AS (SELECT l_partkey, round(sum(l_extendedprice), 2) AS value FROM lineitem GROUP BY 1) SELECT l_partkey, value FROM v WHERE value > (SELECT round(sum(value), 2) * 0.0006 FROM v) ORDER BY value DESC, l_partkey""",
    "q_tpch4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00' AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_tpch13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (SELECT c_custkey, coalesce(n_orders, 0) AS c_count FROM customer LEFT JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders FROM orders WHERE o_orderpriority <> '5-LOW' GROUP BY 1) o ON c_custkey = o_custkey) t GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q_tpch15" ->
      """WITH rev AS (SELECT l_suppkey, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00' GROUP BY 1) SELECT s_suppkey, s_name, total_revenue FROM rev JOIN supplier ON l_suppkey = s_suppkey WHERE total_revenue = (SELECT max(total_revenue) FROM rev) ORDER BY s_suppkey""",
    "q_tpch16" ->
      """SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand <> 'Brand#1' AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0) GROUP BY p_brand, p_type, p_size ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20""",
    "q_tpch20" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_name LIKE '%bolt%' GROUP BY l_partkey, l_suppkey HAVING sum(CAST(l_quantity AS BIGINT)) > 90) ORDER BY s_suppkey""",
    "q_tpch21" ->
      """SELECT s_suppkey, s_name, numwait FROM (SELECT l1.l_suppkey AS culprit, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait FROM lineitem l1 JOIN orders ON l1.l_orderkey = o_orderkey WHERE o_orderstatus = 'F' AND l1.l_shipdate >= o_orderdate + INTERVAL 90 DAY AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey AND l3.l_shipdate >= o_orderdate + INTERVAL 90 DAY) GROUP BY 1) t JOIN supplier ON culprit = s_suppkey ORDER BY numwait DESC, s_suppkey LIMIT 25""",
    "q_tpch22" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust, round(sum(c_acctbal), 2) AS totacctbal FROM customer WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer WHERE c_acctbal > 0.0) AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00') GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_tpch3" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00' AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00' GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_tpch5" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY n_name ORDER BY n_name""",
    "q_tpch7" ->
      """SELECT supp_nation, cust_nation, l_year, revenue FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, CAST(year(l_shipdate) AS INTEGER) AS l_year, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey JOIN customer ON o_custkey = c_custkey JOIN nation n1 ON s_nationkey = n1.n_nationkey JOIN nation n2 ON c_nationkey = n2.n_nationkey WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2, 3) t ORDER BY supp_nation, cust_nation, l_year""",
    "q_tpch12" ->
      """SELECT l_linestatus, CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q_tpch6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, CAST(count(*) AS BIGINT) AS n_items FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0""",
    "q_tpch14" ->
      """WITH a AS (SELECT round(sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2) AS promo_revenue, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-09-01 00:00:00') SELECT promo_revenue, total_revenue, round(100.0 * promo_revenue / total_revenue, 4) AS promo_pct FROM a""",
    "q_tpch19" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, CAST(count(*) AS BIGINT) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5) OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10) OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""",
    "q_tpch10" ->
      """SELECT c_custkey, c_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, c_acctbal, n_name FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00' GROUP BY c_custkey, c_name, c_acctbal, n_name ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_tpch17" ->
      """SELECT round(sum(l_extendedprice), 2) AS total_price, round(sum(l_extendedprice), 2) / 7 AS avg_yearly, CAST(count(*) AS BIGINT) AS n_small FROM lineitem JOIN part ON l_partkey = p_partkey JOIN (SELECT l_partkey AS a_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, count(*) AS cnt FROM lineitem GROUP BY 1) a ON l_partkey = a_partkey WHERE p_brand = 'Brand#4' AND CAST(l_quantity AS BIGINT) * 5 * cnt < sum_qty""",
    "q_tpch18" ->
      """SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_totalprice, sum_qty FROM (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty FROM lineitem GROUP BY 1 HAVING sum_qty > 250) b JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_salted_hotkey" ->
      """SELECT o_orderpriority, round(sum(l_quantity), 2) AS sum_qty, CAST(count(*) AS BIGINT) AS cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_profile" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, round(sum(l_extendedprice), 2) AS sum_price, CAST(coalesce(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_disc, CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags FROM lineitem""",
  )
}
