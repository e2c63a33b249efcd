package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic query suite over the TPC-H-ish testdata — the extension surface
  * beyond the reference's COUNT/LIMIT serving queries (SURVEY §2.9: the
  * reference has no joins/group-bys/windows; these are the Catalyst-native
  * versions a user would run once the data lives in Spark).
  *
  * Scale notes per query are inline: what shuffles, what broadcasts, what
  * pushes down. Dimension tables (region/nation/supplier/customer at TPC-H
  * proportions) stay broadcast-size even at 100 TB lineitem, so every
  * dim join is written `broadcast(...)` — lineitem never shuffles for them.
  * Money aggregations use [[Num.exactSum]] for engine-independent results.
  */
object Analytics {
  import Num._

  /** Pricing summary (TPC-H Q1 shape). Map-side partial aggregation on 6
    * grouped values → shuffle is O(groups), not O(rows); shipdate filter
    * pushes to the parquet scan.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // integer-valued doubles: exact
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        exactAvg(col("l_extendedprice")).as("avg_price"),
        exactAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Shipping-priority join (TPC-H Q3 shape): filter both fact sides early,
    * broadcast the filtered customer dim, aggregate, top-10. Only the
    * orders⋈lineitem join shuffles, on the join key.
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp")
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"),
               unix_micros(col("o_orderdate")).as("o_orderdate_us"),
               col("o_orderpriority"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Local-supplier volume (TPC-H Q5 shape): the whole dim chain
    * region→nation→{customer,supplier} broadcasts; lineitem shuffles once
    * on l_orderkey for the orders join, then joins broadcast dims in-place.
    */
  def q5LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
                             col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top-k orders per customer via window row_number — one shuffle on
    * o_custkey, in-partition sort; deterministic tie-break on o_orderkey.
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** W5: top-k per group via the bounded-heap `topk_by_score` aggregate
    * on the ANALYTICS domain — [[topOrdersPerCustomer]]'s window
    * formulation shuffles and sorts EVERY row of every group; this plan
    * reduces each map partition to ≤k candidates per nation before the
    * exchange, so shuffle volume is O(nations·k·partitions) no matter
    * how many customers exist. Same (score desc, id asc) tie-break as
    * row_number, so one window-based DuckDB oracle gates both
    * formulations. Spend totals are decimal-exact before ranking.
    */
  def topCustomersPerNation(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(Num.exactSum(col("o_totalprice")).as("spend"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(spend, col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(call_function("topk_by_score", col("spend"), col("c_custkey"), lit(k)).as("t"))
      .select(col("n_name"), posexplode(col("t")).as(Seq("r0", "p")))
      .select(col("n_name"), (col("r0") + 1).cast("long").as("rank"),
              col("p.id").as("c_custkey"), col("p.score").as("spend"))
      .orderBy("n_name", "rank")
  }

  /** Left-semi (EXISTS): customers with urgent orders. Semi joins carry no
    * payload columns — cheapest join shape; the key side broadcasts. */
  def customersWithUrgentOrders(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    Tables.customer(spark, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Left-anti (NOT EXISTS): customers with no orders at all. */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir).select("o_custkey")
    Tables.customer(spark, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti with a filtered probe side: customers with no URGENT order
    * (non-empty on the testdata, unlike [[customersWithoutOrders]]). */
  def customersWithoutUrgentOrders(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    Tables.customer(spark, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Rollup over (status × priority) — grouping sets in one pass with
    * partial aggregation. */
  def orderRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Exact distinct-count per group (shuffle-dedup then count). The approx
    * HLL++ sibling is [[hllUnionDistinct]] — constant memory per group,
    * the 100 TB-safe default. */
  def orderCountsDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
           count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Revenue by part brand: the lineitem ⋈ part fact-dim join. Part is a
    * dimension (scales with catalog size, not event volume) — broadcast,
    * so lineitem never shuffles for it; aggregation is map-side partial.
    */
  def q9BrandRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_lineitems"))
      .orderBy("p_brand")

  /** Forecast-revenue filter-aggregation (TPC-H Q6 shape): every predicate
    * pushes to the parquet scan; the aggregate is a single map-side-partial
    * global sum — the cheapest possible full-scan query at any scale.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
              col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
              col("l_quantity") < 24)
      .agg(exactSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
           count(lit(1)).as("n_rows"))

  /** Order-priority checking (TPC-H Q4 shape, adapted to this schema:
    * "late" = shipped more than 90 days after the order date, since the
    * testdata carries no commit/receipt dates). EXISTS → LEFT SEMI join
    * with the date predicate inside the join condition, so each order
    * counts once no matter how many late lines it has; the orders side
    * is date-filtered first (pushed to the scan) so the semi join probes
    * one year of orders, not the full table.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Returned-item reporting (TPC-H Q10 shape): top-k customers by
    * returned revenue in a half-year window. Both fact sides filter
    * before the orderkey shuffle join; the customer dim broadcasts;
    * the final top-k is a TakeOrdered, not a full sort.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_name")),
            col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)
  }

  /** Promotion revenue share (TPC-H Q14 shape): conditional aggregation
    * over the lineitem ⋈ part fact-dim join — both sums accumulate in
    * the same partial-aggregate buffer in one pass; part broadcasts.
    */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
      .agg(Num.roundTo(
        lit(100.0) * exactSum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          / exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
        .as("promo_pct"))

  /** Disjunctive-predicate revenue (TPC-H Q19 shape): OR of brand/size/
    * quantity conjunctions mixing columns from BOTH join sides — the
    * classic predicate that cannot split across the join, so it runs as
    * a post-join filter over the broadcast part join. The part-side
    * conjuncts could be pre-ORed onto the broadcast side as an
    * optimization; left as the honest post-join form the SQL states.
    */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    def clause(brand: String, sizeMax: Int, qMin: Int, qMax: Int) =
      col("p_brand") === brand &&
        col("p_size").between(1, sizeMax) && col("l_quantity").between(qMin, qMax)
    Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")),
            col("l_partkey") === col("p_partkey"))
      .filter(clause("Brand#12", 15, 1, 20) ||
              clause("Brand#23", 25, 10, 30) ||
              clause("Brand#34", 35, 20, 40))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_items"))
  }

  /** Running total per customer — the cumulative-frame window shape (vs
    * w1's ranking shape). One shuffle on o_custkey; the running sum
    * accumulates in DECIMAL so every prefix is engine-exact.
    */
  def runningCustomerTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate_us"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("o_orderdate_us"), col("o_totalprice"))
      .withColumn("running_total",
        sum(col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"))
      .orderBy("o_custkey", "o_orderdate_us", "o_orderkey")
  }

  /** Per-customer order timeline: previous/next order dates and days
    * since first order — lag, lead, and first_value riding ONE window
    * partitioning (single shuffle on o_custkey, one in-partition sort,
    * three frames).
    */
  def orderTimeline(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate_us"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("o_orderdate_us"))
      .withColumn("prev_us", lag(col("o_orderdate_us"), 1).over(w))
      .withColumn("next_us", lead(col("o_orderdate_us"), 1).over(w))
      .withColumn("days_since_first",
        ((col("o_orderdate_us") - first(col("o_orderdate_us")).over(w))
          / (86400L * 1000000L)).cast("long"))
      .orderBy("o_custkey", "o_orderdate_us", "o_orderkey")
  }

  /** Pivot: order counts by priority (rows) × status (columns). Values are
    * enumerated explicitly — at scale an un-enumerated pivot needs a
    * distinct-scan first; listing the (small, known) domain keeps it one
    * pass with map-side partial aggregation.
    */
  def orderStatusPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority")

  /** Mergeable distinct-count sketches — an HLL++ distinct count per
    * return flag, computed incrementally: each half builds an HLL sketch
    * independently (`hll_sketch_agg`), the sketches union
    * (`hll_union_agg`), and the estimate reads off the merged sketch. The pattern that lets a
    * 100 TB history keep per-day sketches and answer "distinct over any
    * date range" by merging kilobytes instead of rescanning — the
    * approximate twin of [[EventWindows.hourlyMerge]]'s exact partials.
    */
  def hllUnionDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("half", col("l_orderkey") % 2)
      .groupBy(col("l_returnflag"), col("half"))
      .agg(hll_sketch_agg(col("l_orderkey")).as("sk"))
      .groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_orders_approx"))
      .orderBy("l_returnflag")

  /** KMV distinct-count sketch over order keys — the EXACT-replayable
    * sketch twin of [[hllUnionDistinct]]: `kmv_sketch` (a mergeable
    * [[graft.functions.KmvSketch]] bounded distinct-min-set) keeps the
    * k smallest distinct splitmix64 hashes, and (k−1)·M / kth_min
    * estimates the cardinality to ~1/√k. Unlike HLL, every byte of the
    * sketch is a pure set property of the input, so the DuckDB oracle
    * replays it bit for bit (`SELECT DISTINCT u ORDER BY u LIMIT k`) —
    * the sketch family graduates into the hash gate. The aggregate
    * ships ≤ k longs per partial: constant memory and k·partitions
    * shuffle rows at any corpus size.
    */
  def kmvDistinct(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val sk = Tables.lineitem(spark, dir)
      .select(pmod(call_function("splitmix64", col("l_orderkey")), lit(KmvM)).as("u"))
      .agg(call_function("kmv_sketch", col("u"), lit(k)).as("sk"))
    kmvStats(sk.select(lit("lineitem.l_orderkey").as("scope"), col("sk")), k)
  }

  /** Mergeable-KMV demonstration — the exact-sketch twin of
    * [[hllUnionDistinct]]: one sketch per return flag, then the "ALL"
    * row merges the three sketches with plain array ops (flatten →
    * distinct → sort → first k) — the SAME union-trim the aggregate's
    * own merge performs, so the merged sketch equals the whole-table
    * sketch exactly (any global k-minimum is in its group's k minima).
    * The 100 TB pattern: keep per-shard/per-day sketches (k longs
    * each), answer any-range cardinality by merging kilobytes.
    */
  def kmvUnion(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val hashed = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
              pmod(call_function("splitmix64", col("l_orderkey")), lit(KmvM)).as("u"))
    val per = hashed
      .groupBy(col("l_returnflag").as("scope"))
      .agg(call_function("kmv_sketch", col("u"), lit(k)).as("sk"))
    val merged = per
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("sk"))))), 1, k).as("sk"))
      .select(lit("ALL").as("scope"), col("sk"))
    kmvStats(per.unionByName(merged), k).orderBy("scope")
  }

  /** KMV sketch INTERSECTION — the theta-sketch set operation: from the
    * two per-flag sketches alone (2k longs, no second scan), estimate
    * |A ∩ B|. θ = min of the two sketch thresholds (a not-full sketch's
    * threshold is the whole domain M — it IS its distinct set); every
    * common hash below θ is a uniform sample of the intersection at
    * inclusion probability θ/M, so est = |common < θ|·M/θ. The set-ops
    * completion of [[kmvDistinct]]/[[kmvUnion]]: distinct counts over
    * arbitrary unions AND intersections of per-shard sketches without
    * rescanning — still exactly SQL-replayable, still in the hash gate.
    */
  def kmvIntersect(spark: SparkSession, dir: String, k: Int = 256,
                   flagA: String = "A", flagB: String = "R"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
              pmod(call_function("splitmix64", col("l_orderkey")), lit(KmvM)).as("u"))
    def sketch(flag: String, as: String) =
      li.filter(col("l_returnflag") === flag)
        .agg(call_function("kmv_sketch", col("u"), lit(k)).as(as))
    def thresholdOf(sk: Column): Column =
      when(size(sk) < k, lit(KmvM)).otherwise(element_at(sk, size(sk)))
    sketch(flagA, "ska").crossJoin(sketch(flagB, "skb"))
      .withColumn("theta", least(thresholdOf(col("ska")), thresholdOf(col("skb"))))
      .withColumn("n_common",
        size(array_intersect(
          filter(col("ska"), x => x < col("theta")),
          filter(col("skb"), x => x < col("theta")))).cast("long"))
      .select(lit(flagA).as("group_a"), lit(flagB).as("group_b"),
              lit(k).cast("long").as("k"), col("theta"), col("n_common"),
              Num.roundTo(col("n_common").cast("double") * lit(KmvM.toDouble) /
                col("theta").cast("double"), 4).as("est_intersect"))
  }

  /** KMV sketch DIFFERENCE — |A \ B| from the two sketches alone, the
    * last theta-sketch set operation beside [[kmvIntersect]] (∩) and
    * [[kmvUnion]] (∪): below the common threshold θ each sketch holds
    * EVERY hash of its set, so membership of A's sub-θ sample in B is
    * EXACT there, the survivors are a uniform θ/M-rate sample of A \ B,
    * and est = n_only_a · M/θ. Same gate story as d6: every cell an
    * integer set property except the one rounded division. Completes
    * the sketch algebra — any boolean combination of per-shard distinct
    * sets now answers from kilobytes (∪ by merge-trim, ∩ and \ by
    * coordinated sub-θ samples) without rescanning data.
    */
  def kmvDifference(spark: SparkSession, dir: String, k: Int = 256,
                    flagA: String = "A", flagB: String = "R"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
              pmod(call_function("splitmix64", col("l_orderkey")), lit(KmvM)).as("u"))
    def sketch(flag: String, as: String) =
      li.filter(col("l_returnflag") === flag)
        .agg(call_function("kmv_sketch", col("u"), lit(k)).as(as))
    def thresholdOf(sk: Column): Column =
      when(size(sk) < k, lit(KmvM)).otherwise(element_at(sk, size(sk)))
    sketch(flagA, "ska").crossJoin(sketch(flagB, "skb"))
      .withColumn("theta", least(thresholdOf(col("ska")), thresholdOf(col("skb"))))
      .withColumn("n_only_a",
        size(array_except(
          filter(col("ska"), x => x < col("theta")),
          filter(col("skb"), x => x < col("theta")))).cast("long"))
      .select(lit(flagA).as("group_a"), lit(flagB).as("group_b"),
              lit(k).cast("long").as("k"), col("theta"), col("n_only_a"),
              Num.roundTo(col("n_only_a").cast("double") * lit(KmvM.toDouble) /
                col("theta").cast("double"), 4).as("est_diff"))
  }

  /** Sketch-only JACCARD between two sets — what the d4–d6 KMV family
    * builds toward: below the common threshold θ each sketch holds
    * EVERY hash of its set (a pure set property), so the sub-θ samples
    * are uniform coordinated samples of both sets and
    * |A∩B|/|A∪B| over them is the standard theta-sketch Jaccard
    * estimator. No rescaling by M — the θ/M sampling rate cancels in
    * the ratio — so besides the one 6dp-rounded division every output
    * cell is an exact integer set property, fully in the hash gate.
    * Two sketches (a few KB each) answer similarity between sets of ANY
    * size without re-touching the data — the cross-snapshot /
    * cross-source overlap probe.
    */
  def kmvJaccard(spark: SparkSession, dir: String, k: Int = 256,
                 flagA: String = "A", flagB: String = "R"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
              pmod(call_function("splitmix64", col("l_orderkey")), lit(KmvM)).as("u"))
    def sketch(flag: String, as: String) =
      li.filter(col("l_returnflag") === flag)
        .agg(call_function("kmv_sketch", col("u"), lit(k)).as(as))
    def thresholdOf(sk: Column): Column =
      when(size(sk) < k, lit(KmvM)).otherwise(element_at(sk, size(sk)))
    sketch(flagA, "ska").crossJoin(sketch(flagB, "skb"))
      .withColumn("theta", least(thresholdOf(col("ska")), thresholdOf(col("skb"))))
      .withColumn("sa", filter(col("ska"), x => x < col("theta")))
      .withColumn("sb", filter(col("skb"), x => x < col("theta")))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("n_union", size(array_union(col("sa"), col("sb"))).cast("long"))
      .select(lit(flagA).as("group_a"), lit(flagB).as("group_b"),
              lit(k).cast("long").as("k"), col("theta"),
              col("n_inter"), col("n_union"),
              Num.roundTo(col("n_inter").cast("double") /
                col("n_union").cast("double"), 6).as("est_jaccard"))
  }

  /** Per-group approximate distinct with an exact accuracy audit — the
    * ROUND-13 GRADUATION of d2: the question HLL++ answers
    * (distinct orders per return flag, sketched) re-asked through the
    * KMV sketch, whose every byte is a pure set property of the input —
    * so the ESTIMATE hash-gates cross-engine, where HLL's buffer is
    * engine-internal and could only ever be rows-checked. Emits, per
    * flag, the exact distinct count alongside the sketch estimate and
    * the 6dp relative error — the sketch-parameter validation a user
    * runs before trusting k.
    *
    * Scale: the KMV aggregate ships ≤ k longs per partial and the exact
    * count is the same shuffle — one pass, map-side partials for both.
    */
  def kmvAccuracy(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val sk = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_orderkey"),
              pmod(call_function("splitmix64", col("l_orderkey")), lit(KmvM)).as("u"))
      .groupBy(col("l_returnflag"))
      .agg(call_function("kmv_sketch", col("u"), lit(k)).as("sk"),
           countDistinct(col("l_orderkey")).as("n_orders_exact"))
    val nKept = size(col("sk"))
    val kth = when(nKept > 0, element_at(col("sk"), nKept))
    val est = when(nKept < k, nKept.cast("double"))
      .otherwise(Num.roundTo(lit((k - 1).toDouble) * lit(KmvM.toDouble) /
        kth.cast("double"), 4))
    sk.select(col("l_returnflag"), col("n_orders_exact"),
        est.as("n_orders_approx"),
        Num.roundTo(abs(est - col("n_orders_exact").cast("double")) /
          col("n_orders_exact").cast("double"), 6).as("rel_err"))
      .orderBy("l_returnflag")
  }

  /** Mergeable-sketch union with the merge-exactness PROVED in-query —
    * the ROUND-13 GRADUATION of d3 ([[hllUnionDistinct]]'s shape): each
    * half of the keyspace builds its own KMV sketch, the halves merge
    * by plain array ops (flatten → distinct → sort → first k — the same
    * union-trim the aggregate's own merge performs), and the output
    * carries `merge_exact`, the cell-level equality of the merged
    * sketch against the one-pass whole-flag sketch. That equality is
    * the mergeability theorem (any global k-minimum is inside its
    * half's k minima) asserted cross-engine per row, not just argued —
    * and every column is an integer set property, so d3 now sits in the
    * full hash gate. The 100 TB pattern is unchanged: keep per-shard /
    * per-day sketches (k longs each), answer any-range distinct counts
    * by merging kilobytes instead of rescanning.
    */
  def kmvMergeHalves(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val hashed = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), (col("l_orderkey") % 2).as("half"),
              pmod(call_function("splitmix64", col("l_orderkey")), lit(KmvM)).as("u"))
    val per = hashed
      .groupBy(col("l_returnflag"), col("half"))
      .agg(call_function("kmv_sketch", col("u"), lit(k)).as("sk"))
    val merged = per
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("half") === 0, size(col("sk"))).otherwise(0)).cast("long").as("n_kept_h0"),
           sum(when(col("half") === 1, size(col("sk"))).otherwise(0)).cast("long").as("n_kept_h1"),
           slice(array_sort(array_distinct(flatten(collect_list(col("sk"))))), 1, k).as("sk"))
    val whole = hashed
      .groupBy(col("l_returnflag"))
      .agg(call_function("kmv_sketch", col("u"), lit(k)).as("skw"))
    val nKept = size(col("sk"))
    val kth = when(nKept > 0, element_at(col("sk"), nKept))
    val est = when(nKept < k, nKept.cast("double"))
      .otherwise(Num.roundTo(lit((k - 1).toDouble) * lit(KmvM.toDouble) /
        kth.cast("double"), 4))
    merged.join(whole, "l_returnflag")
      .select(col("l_returnflag"), col("n_kept_h0"), col("n_kept_h1"),
              nKept.cast("long").as("n_kept_merged"),
              est.as("n_orders_approx"),
              (col("sk") === col("skw")).as("merge_exact"))
      .orderBy("l_returnflag")
  }

  /** Hash domain: splitmix64 folded to [0, 2^61) — 2^64 is an exact
    * multiple, so pmod keeps the uniformity the estimator needs, and
    * (k−1)·M fits double-exactly for the one final division. */
  private val KmvM: Long = 1L << 61

  /** COUNT-MIN sketch frequency estimates — the d-family's FREQUENCY
    * member beside the distinct sketches: a depth×width integer matrix
    * where row r counts keys by hash h_r(u) = splitmix64(splitmix64(u)
    * xor r) mod width, and a key's estimate is the min over rows of its
    * cell. The matrix is built by PLAIN group-bys (depth rows exploded
    * per event, map-side combined), so the sketch is mergeable integer
    * state and — like KMV — its content is a pure function of the
    * data: the oracle replays cells AND estimates exactly. Emits the
    * top `topN` keys by exact count with their estimate and the
    * guaranteed-non-negative overestimate (CMS never undercounts).
    *
    * Scale: sketch build shuffles O(depth·width) cells; probing joins
    * the tiny top-N key set against the broadcastable cell matrix.
    */
  def countMinUsers(spark: SparkSession, dir: String, width: Int = 256,
                    depth: Int = 4, topN: Int = 10): DataFrame = {
    require(width > 0 && depth > 0 && topN > 0)
    def bucket(u: Column, r: Column): Column =
      pmod(call_function("splitmix64",
        call_function("splitmix64", u).bitwiseXOR(r)), lit(width.toLong))
    val ev = Tables.events(spark, dir).select(col("user_id").as("u"))
    val cells = ev
      .select(col("u"), explode(sequence(lit(0L), lit(depth - 1L))).as("r"))
      .select(col("r"), bucket(col("u"), col("r")).as("bucket"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
    val top = ev.groupBy("u").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("u")).limit(topN)
    top.select(col("u"), col("n_exact"),
        explode(sequence(lit(0L), lit(depth - 1L))).as("r"))
      .withColumn("bucket", bucket(col("u"), col("r")))
      .join(cells, Seq("r", "bucket"))
      .groupBy("u", "n_exact").agg(min(col("c")).as("n_est"))
      .select(col("u").as("user_id"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overestimate"))
      .orderBy("user_id")
  }

  /** Per-HOUR distinct users as KMV sketches — the sketch family meeting
    * the event-time axis: one mergeable ≤k-long sketch per hour answers
    * "distinct users in any hour range" by merging kilobytes instead of
    * re-scanning events (the d5 union property applied to time slices).
    * Shares the streaming twin st19 via [[kmvWindowStats]]: the
    * TypedImperativeAggregate's serialized buffer IS valid streaming
    * state, so the stream lands on identical sketches.
    */
  def kmvHourlyUsers(spark: SparkSession, dir: String, k: Int = 256): DataFrame =
    kmvWindowStats(Tables.events(spark, dir), k).orderBy("scope")

  /** The shared body: hour bucket + splitmix-folded user hash →
    * `kmv_sketch` per bucket → stat row. Batch calls it directly; the
    * streaming twin runs the same aggregate in Complete mode and feeds
    * the sink snapshot through [[kmvStatsOf]].
    */
  def kmvWindowStats(events: DataFrame, k: Int): DataFrame =
    kmvStatsOf(
      events.select(
          unix_micros(date_trunc("hour", col("ts"))).as("scope"),
          pmod(call_function("splitmix64", col("user_id")), lit(KmvM)).as("u"))
        .groupBy("scope")
        .agg(call_function("kmv_sketch", col("u"), lit(k)).as("sk")), k)

  /** Public stat projection over any (scope, sk) sketch table. */
  def kmvStatsOf(sketches: DataFrame, k: Int): DataFrame = kmvStats(sketches, k)

  private def kmvStats(sketches: DataFrame, k: Int): DataFrame = {
    val nKept = size(col("sk"))
    // empty sketch (empty table/group): element_at(_, 0) would throw —
    // degrade to a null kth_min / 0.0 estimate row instead
    val kth = when(nKept > 0, element_at(col("sk"), nKept))
    sketches.select(
      col("scope"),
      lit(k).cast("long").as("k"),
      nKept.cast("long").as("n_kept"),
      kth.as("kth_min"),
      // fewer than k distinct values ⇒ the sketch IS the distinct set
      when(nKept < k, nKept.cast("double"))
        .otherwise(Num.roundTo(lit((k - 1).toDouble) * lit(KmvM.toDouble) / kth.cast("double"), 4))
        .as("est_distinct"))
  }

  /** Unpivot round-trip: melt [[orderStatusPivot]]'s wide output back to
    * long form (priority, status, count) — the relational MELT shape,
    * zero-filled cells preserved. Runs on the tiny pivot result.
    */
  def orderStatusUnpivot(spark: SparkSession, dir: String): DataFrame =
    orderStatusPivot(spark, dir)
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_f").as("F"), col("n_o").as("O"), col("n_p").as("P")),
        "o_orderstatus", "n_orders")
      .orderBy("o_orderpriority", "o_orderstatus")

  /** Ratio-to-parent share without windows: revenue per nation over its
    * region's total. Two aggregations over the same small grouped
    * result — region totals re-aggregate the nation rows (O(nations)),
    * then broadcast back. The window formulation
    * (`sum over (partition by region)`) computes the same thing but
    * re-shuffles the child rows; re-aggregating the already-tiny parent
    * level is the scale-correct shape.
    */
  def regionRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    val byNation = Tables.orders(spark, dir)
      .select("o_custkey", "o_totalprice")
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(exactSum(col("o_totalprice")).as("nation_revenue"))
    val byRegion = byNation.groupBy(col("r_name"))
      .agg(Num.roundTo(exactSum(col("nation_revenue")), 6).as("region_revenue"))
    byNation.join(broadcast(byRegion), Seq("r_name"))
      .select(col("r_name"), col("n_name"),
        Num.roundTo(col("nation_revenue"), 6).as("nation_revenue"),
        col("region_revenue"),
        Num.roundTo(col("nation_revenue") / col("region_revenue"), 6).as("share"))
      .orderBy("r_name", "n_name")
  }

  /** Bilateral nation volume (TPC-H Q7 shape): revenue flowing between
    * two nations in either direction, by shipping year. The fact side
    * shuffles once (lineitem ⋈ orders on orderkey); customer, supplier
    * and nation all broadcast; the nation-pair filter is applied to the
    * broadcast dims BEFORE the fact join, so non-qualifying lineitems
    * drop at the first broadcast probe.
    */
  def q7NationVolume(spark: SparkSession, dir: String,
                     nationA: Int = 1, nationB: Int = 2): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .filter(col("n_nationkey").isin(nationA, nationB))
      .select("n_nationkey", "n_name")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** National market share (TPC-H Q8 shape): one nation's share of a
    * region's supplier revenue per ship year — conditional aggregation
    * over the q7-style broadcast-dim join, numerator and denominator in
    * ONE partial-aggregate pass per year group.
    */
  def q8MarketShare(spark: SparkSession, dir: String,
                    region: String = "ASIA", nationKey: Int = 8): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === region)),
            col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), (col("s_nationkey") === nationKey).as("is_target"))
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(Num.roundTo(
        exactSum(when(col("is_target"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          / exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
        .as("mkt_share"))
      .orderBy("ship_year")
  }

  /** Fixed-width histogram without a sort: bin bounds come from one
    * broadcast min/max row; bin assignment is a map-side expression
    * (`least(floor((x−lo)/w), nbins−1)` — the top edge closes the last
    * bin); counts partial-aggregate. The profiling sibling of
    * [[Profiling.quantileBuckets]] for shape, not rank.
    */
  def priceHistogram(spark: SparkSession, dir: String, nbins: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice").as("x"))
    val bounds = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    li.crossJoin(broadcast(bounds))
      .withColumn("bin",
        least(floor((col("x") - col("lo")) / ((col("hi") - col("lo")) / nbins)),
              lit(nbins - 1)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_rows"),
           Num.roundTo(min(col("x")), 6).as("bin_min"),
           Num.roundTo(max(col("x")), 6).as("bin_max"))
      .orderBy("bin")
  }

  /** Full-outer coverage report: per-nation customer and supplier counts
    * with nations present on either side only — the FULL OUTER shape
    * (both inputs filtered so each side genuinely has unmatched keys).
    * Both aggregates are tiny; the outer join runs on the 25-value
    * nation domain.
    */
  def nationCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_nationkey") < 20)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
    val supp = Tables.supplier(spark, dir)
      .filter(col("s_nationkey") >= 10)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
    cust.join(supp, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).cast("long").as("nation"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nation")
  }

  /** Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER join
    * with the class filter on the orders side (equivalent to the filter
    * inside the outer-join condition — customers whose only orders are
    * urgent land in the 0-count bucket, they don't disappear), then a
    * two-level aggregation: per-customer count, then a histogram over the
    * counts. Both aggregations partial-aggregate; the second one's domain
    * is O(max orders per customer) — tiny at any scale. The join is an
    * honest shuffle join: both sides scale with the data.
    */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey", "o_orderkey")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Top supplier by quarterly revenue (TPC-H Q15 shape): aggregate
    * revenue per supplier, then keep the row(s) equal to the global max —
    * the "view + scalar max" pattern. The max is a one-row aggregate that
    * BROADCASTS back onto the supplier-revenue table, so no global sort
    * and no single-partition window; revenues compare exactly because
    * both sides of the equality derive from the same DECIMAL sums.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Small-quantity revenue (TPC-H Q17 shape): lineitems of one brand's
    * parts whose quantity falls below 20% of that part's average quantity.
    * The correlated scalar subquery (per-part average) becomes a grouped
    * aggregate joined back onto the fact rows. The brand's parts broadcast
    * (dimension-sized), so lineitem restricts map-side BEFORE the per-part
    * aggregate; the aggregate output is O(parts of one brand) and
    * broadcasts back — lineitem never shuffles. The threshold is an exact
    * DECIMAL average emitted as one double multiply, replayed identically
    * by the oracle, so the strict `<` is engine-deterministic.
    */
  def q17SmallQuantityRevenue(spark: SparkSession, dir: String,
                              brand: String = "Brand#23"): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") === brand).select("p_partkey")
    val branded = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .drop("p_partkey")
    val thresholds = branded.groupBy("l_partkey")
      .agg((exactAvg(col("l_quantity")) * 0.2).as("qty_threshold"))
    branded.join(broadcast(thresholds), Seq("l_partkey"))
      .filter(col("l_quantity") < col("qty_threshold"))
      .agg(Num.roundTo(exactSum(col("l_extendedprice")) / 7.0, 6).as("avg_yearly"),
           count(lit(1)).as("n_lines"))
  }

  /** Large-volume orders (TPC-H Q18 shape): orders whose total line
    * quantity exceeds a threshold, with customer context. The HAVING
    * subquery is a grouped aggregate on l_orderkey (one honest shuffle of
    * (orderkey, qty) pairs with map-side partials); the filtered survivor
    * set is threshold-small, and AQE picks the join strategy for it at
    * runtime (deliberately unhinted — at corpus scale with a low
    * threshold it can legitimately exceed broadcast size). Customer is a
    * broadcast dim; final top-k is a TakeOrdered.
    */
  def q18LargeOrders(spark: SparkSession, dir: String,
                     minQty: Double = 250.0, k: Int = 100): DataFrame = {
    val qty = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty")) // integer-valued doubles: exact
      .filter(col("total_qty") > minQty)
    Tables.orders(spark, dir)
      .join(qty, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_name")),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
              unix_micros(col("o_orderdate")).as("o_orderdate_us"),
              col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)
  }

  /** Suppliers who kept multi-supplier orders waiting (TPC-H Q21 shape,
    * adapted: "late" = shipped >90 days after order date). The classic
    * EXISTS(other supplier) + NOT EXISTS(other late supplier) double
    * self-join is reformulated as aggregates: per (order, supplier) late
    * flags, then per-order supplier/late-supplier counts via window
    * functions OVER the already-aggregated pairs — a qualifying supplier
    * is late in an order with ≥2 suppliers where they are the ONLY late
    * one. Two shuffles total (pair aggregate, then order-key window);
    * the raw lineitem never self-joins, and the window operates on
    * O(order × supplier) pairs, not lines.
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late",
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("long"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("is_late")).as("supp_late"))
    val byOrder = Window.partitionBy(col("l_orderkey"))
    perSupp
      .withColumn("n_supp", count(lit(1)).over(byOrder))
      .withColumn("n_late_supp", sum(col("supp_late")).over(byOrder))
      .filter(col("supp_late") === 1 && col("n_supp") >= 2 && col("n_late_supp") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** Idle high-balance customers (TPC-H Q22 shape, adapted to this
    * schema: "idle" = no urgent order, since every customer has SOME
    * order in the testdata). A global scalar aggregate (average positive
    * balance over the selected nations) broadcasts as a one-row cross
    * join; the NOT EXISTS is a left-anti join against the urgent-order
    * keys. Per-nation aggregation is map-side partial on a 25-value
    * domain.
    */
  def q22IdleBalances(spark: SparkSession, dir: String,
                      nations: Seq[Int] = Seq(5, 10, 15, 20, 24)): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_nationkey").isin(nations: _*))
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(exactAvg(col("c_acctbal")).as("avg_bal"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("numcust"),
           exactSum(col("c_acctbal")).as("total_bal"))
      .orderBy("nation")
  }

  // ---- partsupp suite (TPC-H Q2/Q11/Q16/Q20 shapes) ------------------
  //
  // The driver's fixtures ship no partsupp table, so these run on
  // self-generated dirs ([[graft.tools.GenData.partsupp]], public TPC-H
  // schema) and are gated by PartsuppSpec against independent SQL-text
  // references rather than the DuckDB oracle. DataFrame-parameterized so
  // specs and future dirs feed them directly; the `dir` wrappers load
  // via [[Tables]].

  /** Minimum-cost supplier (TPC-H Q2 shape): for the filtered part
    * slice, the region's suppliers offering exactly the per-part minimum
    * supply cost. The min-cost table is a groupBy on ps_partkey and the
    * "cost = min" match is an equi-join on (partkey, cost) — both
    * shuffles share the partkey key (exchange reuse); nation/region and
    * the filtered part slice broadcast, so partsupp shuffles once.
    */
  def q2MinCostSupplier(partsupp: DataFrame, part: DataFrame, supplier: DataFrame,
                        nation: DataFrame, region: DataFrame,
                        sizeMax: Int = 15, ptype: String = "STANDARD",
                        regionName: String = "EUROPE", k: Int = 100): DataFrame = {
    // size as a BOUND, not TPC-H's equality: the fixtures' size domain
    // (1..50 × 6 types) makes the equality slice a handful of parts at
    // oracle scale, and a 1-row gate proves nothing — the bound keeps
    // the query shape (pushed part-slice predicate) with a real answer
    val parts = part.filter(col("p_size") <= sizeMax && col("p_type") === ptype)
      .select("p_partkey", "p_name")
    val regionSupp = supplier
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName).select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val eligible = partsupp
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(regionSupp), col("ps_suppkey") === col("s_suppkey"))
    val minCost = eligible.groupBy(col("ps_partkey").as("mk"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    eligible.join(minCost,
        col("ps_partkey") === col("mk") && col("ps_supplycost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
              col("p_partkey"), col("p_name"), col("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(k)
  }

  /** Important stock identification (TPC-H Q11 shape): per-part stock
    * value held by one nation's suppliers, kept where it exceeds
    * `fraction` of that nation's total. The national supplier set
    * broadcasts into partsupp (one shuffle for the per-part groupBy);
    * the grand total is a one-row broadcast — no second pass over
    * partsupp, the per-part table re-aggregates to the total.
    */
  def q11ImportantStock(partsupp: DataFrame, supplier: DataFrame, nation: DataFrame,
                        nationName: String = "NATION_7",
                        fraction: Double = 0.0001): DataFrame = {
    val natSupp = supplier
      .join(broadcast(nation.filter(col("n_name") === nationName).select("n_nationkey")),
            col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val perPart = partsupp
      .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey"))
      .agg(exactSum(col("ps_supplycost") * col("ps_availqty")).as("stock_value"))
    val total = perPart.agg(exactSum(col("stock_value")).as("total_value"))
    perPart.crossJoin(broadcast(total))
      .filter(col("stock_value") > col("total_value") * fraction)
      .select(col("ps_partkey"), col("stock_value"))
      .orderBy(col("stock_value").desc, col("ps_partkey"))
  }

  /** Parts/supplier relationship count (TPC-H Q16 shape): distinct
    * suppliers per (brand, type, size) bucket for the complement of a
    * part slice, excluding a flagged supplier set — the NOT IN becomes
    * a broadcast LEFT ANTI join (the fixtures carry no free-text
    * supplier comments, so "complaints" = negative account balance;
    * the anti-join shape is the point). One shuffle: the distinct
    * aggregation on the group keys.
    */
  def q16SupplierCount(partsupp: DataFrame, part: DataFrame, supplier: DataFrame,
                       excludeBrand: String = "Brand#5", excludeType: String = "PROMO",
                       sizes: Seq[Int] = Seq(1, 4, 9, 14, 19, 23, 36, 45)): DataFrame = {
    val parts = part
      .filter(col("p_brand") =!= excludeBrand &&
              !col("p_type").startsWith(excludeType) &&
              col("p_size").isin(sizes.map(Integer.valueOf): _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val flagged = supplier.filter(col("s_acctbal") < 0).select("s_suppkey")
    partsupp
      .join(broadcast(flagged), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Potential part promotion (TPC-H Q20 shape): suppliers in one
    * nation holding more than half a year's shipped quantity of any
    * name-matched part. The year's lineitem collapses to per-(part,
    * supplier) quantity sums BEFORE joining partsupp (the z2 partial-
    * aggregation-below-join lever); the part-name slice and the nation
    * broadcast; the surviving supplier set reaches supplier as a
    * broadcast LEFT SEMI.
    */
  def q20PromotionSuppliers(partsupp: DataFrame, part: DataFrame, supplier: DataFrame,
                            nation: DataFrame, lineitem: DataFrame,
                            namePrefix: String = "green",
                            nationName: Option[String] = Some("NATION_3")): DataFrame = {
    val parts = part.filter(col("p_name").startsWith(namePrefix)).select("p_partkey")
    val shipped = lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(exactSum(col("l_quantity")).as("year_qty"))
    val heavy = partsupp
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(shipped,
        col("ps_partkey") === col("l_partkey") && col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty").cast("double") > col("year_qty") * 0.5)
      .select(col("ps_suppkey")).distinct()
    // nationName None = the whole-world view (the driver-fixture gate:
    // one nation's 4-supplier slice intersects the promotion set in ~1
    // row at oracle scale, so the registered form reports every nation
    // with n_name in the output instead — same nested-IN shape)
    val nat = nation.select(col("n_nationkey"), col("n_name"))
    val natF = nationName.fold(nat)(n => nat.filter(col("n_name") === n))
    supplier
      .join(broadcast(natF), col("s_nationkey") === col("n_nationkey"))
      .join(heavy, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_name")
  }

  /** Customer-spend ECDF — every customer's lifetime spend with its
    * exact cumulative-distribution position (cume_dist = rows-with-
    * spend-≤-mine / rows, tie rows sharing one value), the "which
    * percentile is this account" column a CRM export carries.
    *
    * Scale shape: a global ORDER BY window would sort every customer in
    * ONE task; instead the ECDF is a [[Prefix]] sum over per-VALUE
    * counts, joined back by value — the spend totals are decimal-exact
    * doubles, so the value join is exact.
    */
  def spendPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(exactSum(col("o_totalprice")).as("spend"))
    val perV = spend.groupBy("spend").agg(count(lit(1)).as("c"))
    val cum = Prefix.sums(perV, Nil, Seq(col("spend")), "c" -> col("c"))
      .select(col("spend"), col("c_cum"), col("c_total"))
    spend.join(cum, Seq("spend"))
      .select(col("o_custkey"), col("spend"),
        roundTo(col("c_cum").cast("double") / col("c_total").cast("double"), 6).as("cume_dist"))
      .orderBy("o_custkey")
  }

  /** Market-basket ASSOCIATION RULES over 2-itemsets: for part pairs
    * co-purchased in at least `minSupport` orders, emit both directed
    * rules with support (pair freq / orders), confidence
    * (pair freq / antecedent freq) and lift (confidence over the
    * consequent's base rate) — the classic cross-sell report.
    *
    * Scale shape: ONE shuffle keys baskets by order (values are 8-byte
    * part ids), pairs explode in-group via the shared `pair_longs`
    * generator (fan-out bounded by basket size², and baskets are
    * order-line counts — single digits), then the pair aggregation
    * prunes by `minSupport` BEFORE the per-item frequency joins, so
    * only surviving rules join. Totals ride as a broadcast 1-row
    * cross join, never a collect. Lift multiplies in DOUBLE — at
    * corpus scale n_pair·n_orders overflows a long product, and
    * double mul/div are correctly rounded so both engines agree.
    */
  def assocRules(spark: SparkSession, dir: String, minSupport: Long = 3): DataFrame =
    assocRulesFrom(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item")), minSupport)

  /** [[assocRules]] body over any (ok, item) basket membership table. */
  def assocRulesFrom(rawItems: DataFrame, minSupport: Long): DataFrame = {
    // the distinct membership set feeds THREE consumers (baskets→pairs,
    // item frequencies, totals); materialize it once so the source
    // scans once, not per branch (the keySkew discipline)
    val items = rawItems.select(col("ok"), col("item")).distinct()
      .localCheckpoint()
    val baskets = items.groupBy("ok")
      .agg(array_sort(collect_list(col("item"))).as("its"))
    val totals = baskets.agg(count(lit(1)).as("n_orders"))
    val itemCounts = items.groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = baskets
      .select(explode(call_function("pair_longs", col("its"))).as("p"))
      .select(col("p.doc_a").as("ia"), col("p.doc_b").as("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minSupport)
    val rules = pairs.select(col("ia").as("antecedent"), col("ib").as("consequent"), col("n_pair"))
      .unionAll(pairs.select(col("ib").as("antecedent"), col("ia").as("consequent"), col("n_pair")))
    rules
      .join(itemCounts.select(col("item").as("antecedent"), col("n_item").as("n_ant")), Seq("antecedent"))
      .join(itemCounts.select(col("item").as("consequent"), col("n_item").as("n_con")), Seq("consequent"))
      .crossJoin(broadcast(totals))
      .select(col("antecedent"), col("consequent"), col("n_pair"), col("n_ant"), col("n_con"),
        roundTo(col("n_pair").cast("double") / col("n_orders"), 9).as("support"),
        roundTo(col("n_pair").cast("double") / col("n_ant"), 9).as("confidence"),
        roundTo((col("n_pair").cast("double") * col("n_orders").cast("double")) /
          (col("n_ant").cast("double") * col("n_con").cast("double")), 9).as("lift"))
      .orderBy("antecedent", "consequent")
  }

  /** Deterministic partsupp DERIVED from the sf-dir's own part/supplier
    * tables — the driver fixtures ship no partsupp parquet, so the
    * quartet's ORACLE-gated registrations build one in-query: 4
    * suppliers per part via the same collision-free stride as
    * [[graft.tools.GenData.partsupp]] (pure integer arithmetic), and
    * availqty/supplycost keyed by the repo's own splitmix64 Catalyst
    * expression rather than GenData's xxhash64 — splitmix is the hash
    * the DuckDB oracles already replay bit-exactly (`SqlHash.mix`), so
    * every derived cell hash-gates cross-engine. Supply cost is integer
    * CENTS divided by 100.0: one IEEE division of the same integer on
    * both engines — bit-identical, no decimal-rounding question.
    *
    * Scale shape: one narrow projection of part exploded ×4 — no
    * shuffle, no driver data; the single scalar pulled is the supplier
    * COUNT (dimension-table cardinality, the nSupp modulus), same
    * coordination class as the documented model-artifact pulls.
    */
  /** Supplier cardinality per sf-dir, pulled once: the quartet's four
    * registrations each construct partsupp, and without memoization every
    * gate/bench pass would pay four identical count jobs over the same
    * dimension table. The key is (dir, supplier-file fingerprint) — path
    * alone is NOT a safe key in one long-lived JVM: test suites write
    * per-test tmp dirs and a reused tmp path (or a regenerated fixture)
    * with a DIFFERENT supplier table would silently reuse a stale count
    * and build a wrong (partkey, suppkey) construction. The fingerprint
    * folds every file's name, size, and mtime under supplier.parquet —
    * a driver-side directory listing, no Spark job.
    */
  private val nSuppCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def supplierFingerprint(dir: String): String = {
    val root = java.nio.file.Paths.get(dir, "supplier.parquet")
    if (!java.nio.file.Files.exists(root)) s"$dir#absent"
    else {
      var h = 0xCBF29CE484222325L
      def fold(x: Long): Unit = { h ^= x; h *= 0x100000001B3L }
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        // sorted: Files.walk order is filesystem-dependent
        walk.iterator().asScala.toSeq.sortBy(_.toString).foreach { p =>
          fold(p.toString.hashCode.toLong)
          if (java.nio.file.Files.isRegularFile(p)) {
            fold(java.nio.file.Files.size(p))
            fold(java.nio.file.Files.getLastModifiedTime(p).toMillis)
          }
        }
      } finally walk.close()
      s"$dir#$h"
    }
  }

  def partsuppDerived(spark: SparkSession, dir: String): DataFrame = {
    val nSupp: Long = nSuppCache.computeIfAbsent(supplierFingerprint(dir),
      _ => Long.box(Tables.supplier(spark, dir).count()))
    // the 4-offsets-of-stride construction is collision-free only with
    // at least 4 suppliers to spread over — fail loudly on a degenerate
    // dir instead of silently collapsing the (partkey, suppkey) key
    require(nSupp >= 4L,
      s"partsuppDerived needs >= 4 suppliers for distinct suppkeys per part; got $nSupp")
    val stride = math.max(1L, nSupp / 4L)
    val id = col("p_partkey") * 4L + col("i")
    Tables.part(spark, dir).select(col("p_partkey"))
      .select(col("p_partkey"), explode(array((0L to 3L).map(lit): _*)).as("i"))
      .select(
        col("p_partkey").as("ps_partkey"),
        pmod(col("p_partkey") + 1L + col("i") * stride, lit(nSupp)).as("ps_suppkey"),
        (pmod(call_function("splitmix64", id * 2L), lit(9999L)) + 1L)
          .cast("int").as("ps_availqty"),
        ((pmod(call_function("splitmix64", id * 2L + 1L), lit(99900L)) + 100L)
          .cast("double") / 100.0).as("ps_supplycost"))
  }

  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame =
    q2MinCostSupplier(Tables.load(spark, dir, "partsupp"), Tables.part(spark, dir),
      Tables.supplier(spark, dir), Tables.nation(spark, dir), Tables.region(spark, dir))
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame =
    q11ImportantStock(Tables.load(spark, dir, "partsupp"),
      Tables.supplier(spark, dir), Tables.nation(spark, dir))
  def q16SupplierCount(spark: SparkSession, dir: String): DataFrame =
    q16SupplierCount(Tables.load(spark, dir, "partsupp"), Tables.part(spark, dir),
      Tables.supplier(spark, dir))
  def q20PromotionSuppliers(spark: SparkSession, dir: String): DataFrame =
    q20PromotionSuppliers(Tables.load(spark, dir, "partsupp"), Tables.part(spark, dir),
      Tables.supplier(spark, dir), Tables.nation(spark, dir), Tables.lineitem(spark, dir))
}
