package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-testdata generator mirroring the driver
  * fixtures' schemas and value domains (`TESTDATA.md`), used to produce
  * scale factors the driver did not ship — the sf1 (100× the sf0.01
  * oracle scale) empirical-scaling run lives on this output.
  *
  * Determinism: every value is a pure column expression over the row id
  * (xxhash64-keyed), so the output is identical regardless of
  * parallelism, partitioning, or retry — no `rand()`, whose draw order
  * is partition-dependent. The same property makes generation
  * cluster-safe: at a real 100 TB scale this exact generator would run
  * unchanged with a larger `spark.range` and more executors, because no
  * row's value depends on any other row.
  *
  * Domains mirrored from the sf0.1 fixtures (probed via parquet stats):
  * key ranges, name formats (`Customer#%09d`), dict columns
  * (mktsegment/priority/event_type/lang/source), date ranges
  * (orders 1995..2001-08, ship = order + 1..95 d, events Jan 2024),
  * uniform qty 1..50, discount 0..0.10 step 0.01, tax 0..0.08,
  * exponential event values (mean ~50), unit-norm 64-dim embeddings,
  * and the documents word-soup with planted exact (1/250) and near
  * (1/100) duplicates. The documents vocabulary is widened beyond the
  * fixtures' 31 terms (to 100) so 3-gram doc-frequencies stay in a
  * realistic range at 50k docs — the fixtures' soup at 10× would push
  * nearly every shingle over the dedup df-guards, which models nothing
  * real.
  */
object GenData {

  // ------------------------------------------------------------ helpers

  /** 64-bit deterministic hash of the row id and a role tag. */
  private def h(id: Column, tag: String): Column = xxhash64(id, lit(tag))
  private def h2(id: Column, tag: String, k: Column): Column = xxhash64(id, lit(tag), k)

  /** Uniform [0,1) keyed by (id, tag). */
  private def u01(id: Column, tag: String): Column =
    pmod(h(id, tag), lit(1000000000L)).cast("double") / 1e9

  /** Uniform integer in [0, n). */
  private def uniInt(id: Column, tag: String, n: Int): Column = pmod(h(id, tag), lit(n.toLong))

  private def pick(id: Column, tag: String, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), (uniInt(id, tag, vals.size) + 1).cast("int"))

  private val mktsegments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities  = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes  = Seq("click", "error", "purchase", "signup", "view")
  private val partAdjs    = Seq("small", "red", "blue", "green", "large", "tiny", "plain", "shiny")
  private val partNouns   = Seq("ring", "widget", "bolt", "gear", "cog", "pin", "plate", "tube")
  private val ptypes      = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val regions     = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** 100-term document vocabulary: the fixtures' 31 terms + synthesized
    * filler. Kept ASCII-only (the dedup oracles fold FNV over code
    * points == chars for ASCII).
    */
  private val vocab: Seq[String] = {
    val base = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
      "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
      "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
      "query", "a", "scan", "batch", "dup")
    base ++ (0 until (100 - base.size)).map(i => f"term$i%02d")
  }

  /** Order date keyed by order key — shared by orders and lineitem so
    * l_shipdate = o_orderdate + 1..95 d holds without a join.
    */
  private def orderDate(okey: Column): Column =
    expr("timestamp_ntz '1995-01-01 00:00:00'") +
      make_dt_interval(days = pmod(xxhash64(okey, lit("od")), lit(2405L)).cast("int"))

  // ------------------------------------------------------------- tables

  def region(s: SparkSession): DataFrame =
    s.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

  def nation(s: SparkSession): DataFrame =
    s.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniInt(col("id"), "cn", 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u01(col("id"), "cb") * 11000.0, 2).as("c_acctbal"),
      pick(col("id"), "cm", mktsegments).as("c_mktsegment"))

  def supplier(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uniInt(col("id"), "sn", 25).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u01(col("id"), "sb") * 11000.0, 2).as("s_acctbal"))

  def part(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(
      col("id").as("p_partkey"),
      concat(pick(col("id"), "pa", partAdjs), lit(" "),
             pick(col("id"), "pn", partNouns)).as("p_name"),
      concat(lit("Brand#"), uniInt(col("id"), "pb", 25)).as("p_brand"),
      pick(col("id"), "pt", ptypes).as("p_type"),
      (uniInt(col("id"), "ps", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + uniInt(col("id"), "pr", 1000).cast("double") / 10.0, 2)
        .as("p_retailprice"))

  def orders(s: SparkSession, n: Long, nCust: Long): DataFrame =
    s.range(n).select(
      col("id").as("o_orderkey"),
      pmod(h(col("id"), "oc"), lit(nCust)).as("o_custkey"),
      when(u01(col("id"), "os") < 0.45, "F")
        .when(u01(col("id"), "os") < 0.95, "O").otherwise("P").as("o_orderstatus"),
      round(lit(1000.0) + u01(col("id"), "ot") * 499000.0, 2).as("o_totalprice"),
      orderDate(col("id")).as("o_orderdate"),
      pick(col("id"), "op", priorities).as("o_orderpriority"))

  def lineitem(s: SparkSession, n: Long, nOrders: Long, nPart: Long,
               nSupp: Long): DataFrame = {
    val ok = pmod(h(col("id"), "lo"), lit(nOrders))
    val qty = (uniInt(col("id"), "lq", 50) + 1).cast("double")
    val unit = lit(900.0) + u01(col("id"), "lu") * 1200.0
    s.range(n).select(
      ok.as("l_orderkey"),
      pmod(h(col("id"), "lp"), lit(nPart)).as("l_partkey"),
      pmod(h(col("id"), "ls"), lit(nSupp)).as("l_suppkey"),
      (uniInt(col("id"), "ln", 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * unit, 2).as("l_extendedprice"),
      (uniInt(col("id"), "ld", 11).cast("double") / 100.0).as("l_discount"),
      (uniInt(col("id"), "lt", 9).cast("double") / 100.0).as("l_tax"),
      pick(col("id"), "lr", Seq("A", "N", "R")).as("l_returnflag"),
      pick(col("id"), "ll", Seq("F", "O")).as("l_linestatus"),
      (orderDate(ok) +
        make_dt_interval(days = (uniInt(col("id"), "lsd", 95) + 1).cast("int")))
        .as("l_shipdate"))
  }

  /** TPC-H partsupp (public schema: Specification 4.2.2, table layouts):
    * 4 suppliers per part via a collision-free stride — (partkey + 1 +
    * i·⌊nSupp/4⌋) mod nSupp yields 4 DISTINCT suppkeys whenever
    * nSupp ≥ 4, so (ps_partkey, ps_suppkey) is a genuine primary key.
    * The driver's fixtures don't ship this table; q2/q11/q16/q20 run on
    * self-generated dirs only.
    */
  def partsupp(s: SparkSession, nPart: Long, nSupp: Long): DataFrame = {
    val pk = (col("id") / 4).cast("long")
    val i = col("id") % 4
    val stride = math.max(1L, nSupp / 4L)
    s.range(nPart * 4).select(
      pk.as("ps_partkey"),
      pmod(pk + 1 + i * stride, lit(nSupp)).as("ps_suppkey"),
      (uniInt(col("id"), "pq", 9999) + 1).cast("int").as("ps_availqty"),
      round(lit(1.0) + u01(col("id"), "pc") * 999.0, 2).as("ps_supplycost"))
  }

  def events(s: SparkSession, n: Long, nUsers: Long): DataFrame =
    s.range(n).select(
      col("id").as("event_id"),
      (expr("timestamp_ntz '2024-01-01 00:00:00'") +
        make_dt_interval(lit(0), lit(0), lit(0),
          pmod(h(col("id"), "et"), lit(2592000000000L)).cast("double") / 1e6)).as("ts"),
      pmod(h(col("id"), "eu"), lit(nUsers)).as("user_id"),
      pick(col("id"), "ee", eventTypes).as("event_type"),
      round(lit(-50.0) * log(u01(col("id"), "ev") + 1e-12), 2).as("value"),
      concat(lit("{\"k\": "), uniInt(col("id"), "ek", 100), lit("}")).as("props"))

  /** Non-BMP vocabulary for the ADVERSARIAL documents variant: every
    * entry is outside the Basic Multilingual Plane (surrogate PAIRS in
    * UTF-16, 4-byte sequences in UTF-8), so any hash path that folds
    * UTF-16 code units instead of code points — or that byte-length
    * arithmetic assumes 1 byte/char — diverges from the DuckDB oracle
    * and fails the hash gate (r15 verdict ask #6: the round-15 non-BMP
    * unification fix was spec'd but the ASCII fixtures left the GATE
    * itself blind to it).
    */
  private val advVocab = Seq(
    "𝐀𝐁",       // 𝐀𝐁 math bold
    "😀😁",       // 😀😁 emoji
    "𐍈",                   // 𐍈 Gothic hwair
    "𝕫𝖆",       // 𝕫𝖆 double-struck/fraktur
    "🍕",                   // 🍕
    "𝛐𝛑",       // 𝛐𝛑 math greek
    "🧪",                   // 🧪
    "𐐷𐑊")       // 𐐷𐑊 Deseret

  def documents(s: SparkSession, n: Long, adv: Boolean = false): DataFrame = {
    val id = col("id")
    // planted duplicates: id%250==1 copies id-1 exactly; id%100==3 is a
    // near-dup of id-1 (same words + one appended token). The two residue
    // classes are disjoint mod 500.
    val isExact = id % 250 === 1
    val isNear = id % 100 === 3
    val base = when(isExact || isNear, id - 1).otherwise(id)
    val nWords = (pmod(xxhash64(base, lit("dl")), lit(93L)) + 8).cast("int")
    val words = transform(sequence(lit(1), nWords),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(base, lit("dw"), i), lit(vocab.size.toLong)) + 1).cast("int")))
    val plain = when(isNear, concat(array_join(words, " "), lit(" dup")))
      .otherwise(array_join(words, " "))
    // adversarial mode: every 10th CONTENT base appends a non-BMP token
    // (keyed on base, so exact dups stay exact and near-dups keep their
    // one-token delta)
    val text = if (!adv) plain else
      when(base % 10 === 7,
        concat(plain, lit(" "), element_at(array(advVocab.map(lit): _*),
          (pmod(xxhash64(base, lit("da")), lit(advVocab.size.toLong)) + 1).cast("int"))))
      .otherwise(plain)
    s.range(n).select(
      id.as("doc_id"),
      text.as("text"),
      when(u01(id, "dg") < 0.44, "en")
        .otherwise(pick(id, "dh", Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), uniInt(id, "dsrc", 20)).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  def embeddings(s: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    val id = col("id")
    // Box–Muller gaussian per (id, dim), then L2-normalize → uniform on
    // the unit sphere, matching the fixtures (unit-norm, near-orthogonal).
    val gauss = transform(sequence(lit(0), lit(dim - 1)), i => {
      val u1 = pmod(h2(id, "ga", i), lit(1000000000L)).cast("double") / 1e9 + 1e-12
      val u2 = pmod(h2(id, "gb", i), lit(1000000000L)).cast("double") / 1e9
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    })
    val nrm = sqrt(aggregate(gauss, lit(0.0), (acc, x) => acc + x * x))
    s.range(n).select(
      id.as("vec_id"),
      transform(gauss, x => (x / nrm).cast("float")).as("embedding"),
      uniInt(id, "gl", 10).cast("int").as("label"))
  }

  // --------------------------------------------------------------- main

  /** Usage: GenData <outDir> [sf] [adv]. sf=1.0 → 6M lineitem / 1.5M
    * orders / 150k customer / 1M events / 50k documents / 20k
    * embeddings. A third literal-`adv` argument switches documents to
    * the ADVERSARIAL-encoding variant (non-BMP tokens planted on every
    * 10th content base — see [[advVocab]]); all other tables are
    * unchanged, and the standard dirs (localdata/sf1) must NOT be
    * generated with it, or their standing oracle passes break.
    */
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = args.lift(1).map(_.toDouble).getOrElse(1.0)
    val adv = args.lift(2).contains("adv")
    val spark = graft.Sessions.local("graft-gendata", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))

    def sz(base: Long): Long = math.max(1L, (base * sf).toLong)
    val nCust = sz(150000); val nSupp = sz(10000); val nPart = sz(200000)
    val nOrders = sz(1500000); val nLine = sz(6000000)
    val nEvents = sz(1000000); val nUsers = sz(15000)
    val nDocs = sz(50000); val nEmb = sz(20000)

    def write(name: String, df: DataFrame, files: Int): Unit = {
      df.coalesce(files).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gendata] wrote $name")
    }
    write("region", region(spark), 1)
    write("nation", nation(spark), 1)
    write("customer", customer(spark, nCust), 4)
    write("supplier", supplier(spark, nSupp), 1)
    write("part", part(spark, nPart), 4)
    write("orders", orders(spark, nOrders, nCust), 8)
    write("lineitem", lineitem(spark, nLine, nOrders, nPart, nSupp), 16)
    write("partsupp", partsupp(spark, nPart, nSupp), 4)
    write("events", events(spark, nEvents, nUsers), 8)
    write("documents", documents(spark, nDocs, adv), 4)
    write("embeddings", embeddings(spark, nEmb), 4)
    spark.stop()
  }
}
