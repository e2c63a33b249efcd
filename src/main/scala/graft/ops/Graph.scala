package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over relations derived from the fact
  * tables — the iterative-DataFrame-loop discipline of
  * [[Similarity.trainIvfCodebook]] and [[Dedup.resolveDuplicates]]
  * applied to a third algorithm family (PageRank), with every iteration
  * in exact integer arithmetic so the DuckDB oracle replays the whole
  * fixpoint prefix bit for bit.
  *
  * Reference surface: extension mandate (the reference exposes only
  * flat-table stats, reference `api.py:71`; co-purchase ranking is the
  * classic what-matters-in-this-catalog analysis built from the same
  * lineitem rows).
  */
object Graph {

  /** Pinned-exchange width for the co-purchase graph construction,
    * derived from the source table's size (~50k lineitem rows per
    * partition, clamped to [1, cores]). The materializePartitioned
    * checkpoints run with AQE off, so their explicit repartitions would
    * otherwise pin the session's core-count width — 32 tiny tasks per
    * setup stage and per loop round at fixture scale. Clamps to full
    * parallelism as the data grows (sf1 already saturates it).
    */
  private def graphWidth(spark: SparkSession, dir: String): Int =
    graft.Sizing.width(spark, Tables.rowsOf(spark, dir, "lineitem"), graft.Sizing.GraphRows)

  /** Rank scale: ranks are integers in units of 10^-12 of one node's
    * initial mass. All arithmetic below is overflow-safe by
    * construction: total mass is N·S ≤ 2·10^17 for N ≤ 200k nodes, and
    * the one intermediate product (sum·17) stays < 9.2·10^18. */
  private[ops] val S = 1000000000000L     // 10^12
  private val DampNum = 17L               // 0.85 = 17/20
  private val DampDen = 20L
  private val BaseShare = S * 3L / DampDen // floor(0.15·S) — exact

  /** PageRank over the part CO-PURCHASE graph: parts are linked when
    * some order contains both. Damping 0.85, `iters` synchronous
    * iterations from a uniform start, floor division throughout —
    * r'(v) = floor(0.15·S) + floor(17·Σ_{u→v} floor(r(u)/deg(u)) / 20)
    * — so every rank is a deterministic INTEGER regardless of
    * partitioning or summation order (double-precision PageRank is
    * neither). Co-purchase edges are symmetric, so every node has
    * out-degree ≥ 1 and the dangling-mass correction vanishes.
    *
    * Scale shape: the pair generation self-joins lineitem with itself
    * ON l_orderkey — co-partitioned by the join key, per-order fan-out
    * quadratic only in ORDER SIZE (bounded small in any real basket
    * table, ≤ ~15 here). Each iteration is one join of ranks onto
    * edges (both hash-partitioned by the same key) plus one groupBy
    * dst with map-side partial sums; per-iteration state is the
    * O(nodes) rank table, re-materialized via [[Iterate.materialize]]
    * so plan depth and stats stay constant across rounds. Edges are
    * computed once and cached — at cluster scale they would be a
    * bucketed table shared by every iteration.
    *
    * Returns the `topN` parts by final rank (ties → lower partkey),
    * with degree and rank — integer-exact, oracle-replayable.
    */
  def partPageRank(spark: SparkSession, dir: String,
                   iters: Int = 3, topN: Int = 20): DataFrame = {
    val (nodes, edges, _) = coPurchaseRankGraph(spark, dir)
    // the n ≤ 200k bound that makes the arithmetic overflow-safe ALSO
    // makes the per-round rank state broadcastable by construction, so
    // each iteration is ONE shuffle (the inflow groupBy) — the
    // rank-onto-edges join and the node left join are both map-side
    var ranks = nodes.select(col("v"), lit(S).as("r"))
    for (_ <- 1 to iters) {
      val inflow = edges
        .join(broadcast(ranks.withColumnRenamed("v", "src")), "src")
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = Iterate.materialize(
        nodes.join(broadcast(inflow.withColumnRenamed("dst", "v")), Seq("v"), "left")
          .select(col("v"),
                  (lit(BaseShare) +
                    expr(s"(coalesce(s, 0L) * $DampNum) DIV $DampDen")).as("r")))
    }
    ranks.join(broadcast(nodes), "v")
      .select(col("v").as("l_partkey"), col("deg").as("n_copurchase"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("l_partkey"))
      .limit(topN)
  }

  /** Shared construction for the rank family ([[partPageRank]], n9's
    * [[partPprSelection]]): symmetric co-purchase edges with out-degree
    * folded in, the (v, deg) node table, and the overflow guard — one
    * definition so the graph the two walks run on can never diverge.
    * One row per (order, part): multiple lines of the same part in one
    * order count once, so edge weight collapses to the unweighted
    * co-purchase relation.
    */
  private[ops] def coPurchaseRankGraph(spark: SparkSession, dir: String,
                                  broadcastState: Boolean = true)
      : (DataFrame, DataFrame, Long) = {
    // Exchange-sharing construction (guide §2.4): hash(ok) satisfies the
    // (ok, pk) dedup's clustering AND the self-join's key, so ONE
    // explicit repartition replaces the dedup exchange plus both
    // self-join exchanges; likewise hash(src) serves the edge dedup and
    // the degree aggregation. materializePartitioned (one-shot, outside
    // any loop) pins each partitioning so every consumer below reads it
    // without re-exchanging — setup drops from 5 exchanges to 2.
    val gw = graphWidth(spark, dir)
    val lp = Iterate.materializePartitioned(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .repartition(gw, col("ok"))
        .dropDuplicates("ok", "pk"))
    val edges0 = Iterate.materializePartitioned(
      lp.join(lp.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
        .filter(col("pk") =!= col("pk2"))
        .select(col("pk").as("src"), col("pk2").as("dst"))
        .repartition(gw, col("src"))
        .dropDuplicates("src", "dst"))
    // symmetric edges ⇒ nodes = distinct src; every node has deg ≥ 1 —
    // one aggregation yields nodes AND degrees (exchange-free: edges0 is
    // already hash-partitioned on src)
    val nodes = Iterate.materialize(
      edges0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("v"), col("deg")))
    // the LONG arithmetic is overflow-safe only while total mass N·S
    // and the ×17 product fit a signed long — fail LOUDLY past the
    // documented bound instead of silently wrapping (the DuckDB oracle
    // widens to HUGEINT and would diverge, not error). nodes is already
    // materialized, so the count is a cheap local scan. Past the bound,
    // [[partPageRankShuffle]] (n10) is the big-graph path: rank state
    // as a keyed table, mass arithmetic in DECIMAL(38,0).
    val n = nodes.count()
    if (broadcastState)
      require(n <= 200000L,
        s"broadcast long ranks are overflow-safe for <= 200000 nodes; got $n" +
          " — use partPageRankShuffle (n10), the shuffle-join DECIMAL(38,0) walk")
    // fold the out-degree INTO the edge table once at setup — each
    // iteration then needs a single join instead of edges ⋈ ranks ⋈ deg.
    // Map-side broadcast under the guard. On the big-graph path the
    // deg fold is a shuffle join whose OUTPUT is hash-partitioned on
    // src — materializePartitioned keeps that partitioning, so every
    // iteration's rank join re-exchanges only the O(nodes) rank side,
    // never the edges (the bucketed-edge-table discipline at 100 TB;
    // edges are checkpointed once, outside the loop, so the stats
    // caveat on the partitioning-preserving variant does not apply).
    val degs = nodes.select(col("v").as("src"), col("deg"))
    // Broadcast path: re-key the folded edges onto dst so the ONE
    // per-iteration shuffle (the inflow groupBy) disappears too — each
    // rank round is then a broadcast join + partition-local aggregate,
    // zero exchanges. One setup exchange buys `iters` exchange-free
    // rounds. Shuffle path (n10): edges keep hash(src) — the rank join
    // is the per-round exchange that must stay on the rank side only.
    val edges =
      if (broadcastState) Iterate.materializePartitioned(
        edges0.join(broadcast(degs), "src").repartition(gw, col("dst")))
      else Iterate.materializePartitioned(edges0.join(degs, "src"))
    (nodes, edges, n)
  }

  /** [[partPageRank]] BEYOND the 200k broadcast guard (n10): the same
    * synchronous damped walk, same floor-division discipline, same
    * integer results — but the per-round rank state stays a KEYED TABLE
    * joined onto edges (co-partitioned shuffle hash joins, nothing
    * broadcast), and all mass arithmetic runs in DECIMAL(38,0), so
    * neither the per-node rank nor the ×17 product can overflow at any
    * realistic node count (10^9 nodes × S = 10^21 ≪ 10^38). Floor
    * divisions stay EXACT in decimal via the subtract-remainder form
    * `(a − a % b) / b` — the quotient is an integer, so the decimal
    * division introduces no rounding (a bare `a DIV b` narrows to LONG
    * in Spark, and scale-6 decimal division rounds — both would break
    * exactness past the long range). On any graph within the guard the
    * emitted ranks are row-identical to [[partPageRank]]'s (spec-pinned,
    * and n10 shares n1's oracle verbatim); past the guard this is the
    * path that still runs. Per iteration: TWO shuffles (rank join +
    * inflow groupBy) instead of n1's one — the price of dropping the
    * broadcast, linear in edges either way.
    */
  def partPageRankShuffle(spark: SparkSession, dir: String,
                          iters: Int = 3, topN: Int = 20): DataFrame = {
    val (nodes, edges, _) = coPurchaseRankGraph(spark, dir, broadcastState = false)
    val dec = "DECIMAL(38,0)"
    var ranks = nodes.select(col("v"), lit(S).cast(dec).as("r"))
    for (_ <- 1 to iters)
      ranks = Iterate.materialize(shuffleRankStep(nodes, edges, ranks))
    ranks.join(nodes, "v")
      .select(col("v").as("l_partkey"), col("deg").as("n_copurchase"),
        col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("l_partkey"))
      .limit(topN)
  }

  /** ONE synchronous rank iteration of the n10 shuffle walk — the
    * in-loop plan [[partPageRankShuffle]] materializes per round:
    * rank state joined onto the partition-preserving edge table
    * (shuffle hash/merge join — NEVER a broadcast, the whole point of
    * the big-graph path), inflow collapsed per destination, then the
    * damped floor division in DECIMAL(38,0) via the subtract-remainder
    * form. `private[ops]` so the spec pins "no BroadcastHashJoin" on
    * EXACTLY this step's plan — the materialization barriers hide it
    * from the composed query's final plan, and the setup/top-N joins
    * outside the loop are allowed to broadcast (they are O(nodes)
    * coordination, not per-iteration rank exchange).
    */
  private[ops] def shuffleRankStep(nodes: DataFrame, edges: DataFrame,
                                   ranks: DataFrame): DataFrame = {
    val dec = "DECIMAL(38,0)"
    val inflow = edges
      .join(ranks.withColumnRenamed("v", "src"), "src")
      .select(col("dst"),
        expr(s"CAST((r - (r % deg)) / deg AS $dec)").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).cast(dec).as("s"))
    nodes.join(inflow.withColumnRenamed("dst", "v"), Seq("v"), "left")
      .select(col("v"),
        (lit(BaseShare).cast(dec) + expr(
          s"""CAST((coalesce(s, CAST(0 AS $dec)) * $DampNum
             |  - (coalesce(s, CAST(0 AS $dec)) * $DampNum) % $DampDen)
             | / $DampDen AS $dec)""".stripMargin)).cast(dec).as("r"))
  }

  /** PERSONALIZED PageRank selection (n9) — seed-based data curation:
    * rank every item by random-walk proximity to a trusted SEED set
    * (teleport mass goes ONLY to seeds — Haveliwala, WWW 2002), the
    * graph-native "find more data like this curated set" selector: the
    * top non-seed items are the expansion candidates a curation pass
    * reviews next. Same co-purchase graph, damping, and floor-division
    * discipline as [[partPageRank]] — every rank is a deterministic
    * INTEGER, so the oracle replays the walk iteration for iteration.
    *
    * Arithmetic: seeds are v ≡ 0 (mod `seedMod`); the per-seed teleport
    * share floor(0.15·S·N / nSeeds) and the seed start floor(S·N /
    * nSeeds) conserve ≈ N·S total mass, so the [[coPurchaseRankGraph]]
    * 200k-node guard keeps the ×17 products inside signed 64-bit
    * exactly as in n1. Scale shape identical to n1: per iteration ONE
    * shuffle (the inflow groupBy); rank state is O(nodes) and
    * broadcastable under the same guard.
    *
    * Returns the `topN` by final rank (ties → lower partkey) with
    * `is_seed` — at the default topN the interesting rows are the
    * high-rank NON-seeds.
    */
  def partPprSelection(spark: SparkSession, dir: String,
                       iters: Int = 3, topN: Int = 20,
                       seedMod: Long = 50L): DataFrame = {
    require(seedMod >= 1L, "seedMod must be >= 1")
    val (nodes, edges, n) = coPurchaseRankGraph(spark, dir)
    val nSeeds = nodes.filter(col("v") % seedMod === 0L).count()
    require(nSeeds > 0L, s"no seed nodes at seedMod=$seedMod")
    val seedStart = (S * n) / nSeeds
    val seedBase = (3L * S * n) / (DampDen * nSeeds)
    val isSeed = (col("v") % seedMod) === 0L
    var ranks = nodes.select(col("v"),
      when(isSeed, lit(seedStart)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      val inflow = edges
        .join(broadcast(ranks.withColumnRenamed("v", "src")), "src")
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = Iterate.materialize(
        nodes.join(broadcast(inflow.withColumnRenamed("dst", "v")), Seq("v"), "left")
          .select(col("v"),
                  (when(isSeed, lit(seedBase)).otherwise(lit(0L)) +
                    expr(s"(coalesce(s, 0L) * $DampNum) DIV $DampDen")).as("r")))
    }
    ranks.join(broadcast(nodes), "v")
      .select(col("v").as("l_partkey"), col("deg").as("n_copurchase"),
        isSeed.as("is_seed"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("l_partkey"))
      .limit(topN)
  }

  /** Shared graph construction for [[partTriangles]] and
    * [[partLocalClustering]]: canonical undirected co-purchase edges
    * (a < b), per-node degrees (broadcastable — node count capped by
    * maxPart), and the (degree, id)-oriented edge set. One definition so
    * the orientation rule can never diverge between the global and the
    * per-node triangle plans.
    */
  private[ops] def orientedCoPurchase(spark: SparkSession, dir: String, maxPart: Long)
      : OrientedGraph = new OrientedGraph(spark, dir, maxPart)

  /** Lazily-materialized pieces of the canonical co-purchase graph: each
    * table is built (and eagerly checkpointed) on FIRST ACCESS only, so
    * consumers that need just `und` (k-core, LPA) or just `und`+`deg`
    * (hub BFS) no longer pay the two broadcast joins + checkpoint job of
    * the `oriented` edge set they never read — the old eager 3-tuple
    * charged every caller for all three. Construction itself uses the
    * [[coPurchaseRankGraph]] exchange-sharing discipline: hash(ok)
    * serves the (ok, pk) dedup and the self-join, hash(a) serves the
    * edge dedup; `oriented` is re-keyed onto src so [[partTriangles]]'
    * wedge self-join runs exchange-free on both sides.
    */
  private[ops] final class OrientedGraph(spark: SparkSession, dir: String, maxPart: Long) {
    private lazy val gw = graphWidth(spark, dir)
    lazy val und: DataFrame = {
      val lp = Iterate.materializePartitioned(
        Tables.lineitem(spark, dir)
          .filter(col("l_partkey") < maxPart)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .repartition(gw, col("ok"))
          .dropDuplicates("ok", "pk"))
      Iterate.materializePartitioned(
        lp.join(lp.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
          .filter(col("pk") < col("pk2"))
          .select(col("pk").as("a"), col("pk2").as("b"))
          .repartition(gw, col("a"))
          .dropDuplicates("a", "b"))
    }
    lazy val deg: DataFrame = Iterate.materialize(
      und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d")))
    lazy val oriented: DataFrame = Iterate.materializePartitioned(
      und.join(broadcast(deg.select(col("v").as("a"), col("d").as("da"))), "a")
        .join(broadcast(deg.select(col("v").as("b"), col("d").as("db"))), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("src"), col("b").as("dst")))
            .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(gw, col("src")))

    /** Bloom filter over the canonical (a, b) edge pairs (keyed by
      * xxhash64(a, b)), for pre-filtering the triangle wedge set BEFORE
      * it is exchanged (guide §3.2): the wedge set is the one
      * Σ outdeg²-sized table in the family (~34× the edge count at
      * sf0.1), and almost none of its rows close into a triangle — a
      * ~1%-fpp bloom drops ≥ ~99% of them inside the generating stage,
      * so the closure semi-join's exchange and sort run over the
      * survivors only. One-sided error: false positives are removed by
      * the exact semi-join that follows, false negatives cannot occur,
      * so results are EXACTLY the unfiltered results. Bounded at any
      * scale by the same maxPart cap that bounds `deg`'s broadcast.
      */
    lazy val undPairBloom: Array[Byte] =
      Dedup.buildBloom(und.select(xxhash64(col("a"), col("b")).as("h")), "h")
  }

  /** TRIANGLE COUNT over the part co-purchase graph via DEGREE-ORDERED
    * orientation — the standard trick that makes distributed triangle
    * counting tractable: direct every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, so each triangle is
    * counted EXACTLY once (at its minimum-degree vertex) and the wedge
    * join's fan-out per vertex is bounded by its OUT-degree, which the
    * orientation caps at O(√E) — Σ outdeg² stays near-linear on
    * power-law graphs where the naive wedge join explodes on hubs.
    *
    * Three key-partitioned hash joins, all exact integers:
    * wedges = oriented ⋈ oriented on the pivot, closed by a semi-join
    * shape against the oriented edge set. Returns one row:
    * (n_nodes, n_edges, n_triangles, global clustering coefficient =
    * 3·triangles / wedges-of-the-UNDIRECTED-graph, rounded).
    *
    * `maxPart` caps the catalog slice (the v7/x9 bounded-baseline
    * pattern — a no-op at the fixture scales): the SYNTHETIC generator
    * assigns parts to orders uniformly, so co-purchase degree grows
    * linearly with scale factor and the wedge set quadratically — a
    * density real basket data doesn't have (order size stays constant
    * as the catalog grows, so real edges scale linearly). The cap keeps
    * the gate's quadratic term bounded at any synthetic scale while the
    * operator itself remains the plan you'd run on real baskets.
    */
  def partTriangles(spark: SparkSession, dir: String,
                    maxPart: Long = 20000L): DataFrame = {
    val g = orientedCoPurchase(spark, dir, maxPart)
    val (und, deg, oriented) = (g.und, g.deg, g.oriented)
    // wedges at the pivot (two out-edges), closed iff the endpoint pair
    // is itself an edge — each triangle counted once at its min vertex.
    // Wedge endpoints keep (dst < dst2) canonical id order, so the
    // closure check is a semi-join against the CANONICAL undirected set
    // directly: half the build side a both-directions union would carry
    val wedges = oriented
      .join(oriented.select(col("src"), col("dst").as("dst2")), Seq("src"))
      .filter(col("dst") < col("dst2"))
      // bloom-prefilter the wedge endpoints against the edge-pair bloom
      // INSIDE the generating stage (guide §3.2): only wedges whose
      // (dst, dst2) might be an edge survive to the exchange — the 41M-row
      // exchange + sort of the bare plan becomes a ~1%-of-that exchange,
      // and the exact semi-join below removes the false positives
      .filter(call_function("might_contain", lit(g.undPairBloom),
        xxhash64(col("dst"), col("dst2"))))
      // re-key the surviving wedge set on dst ALONE: hash(dst) on the left
      // and the checkpointed hash(a) on the right are position-0
      // compatible over the (dst=a, dst2=b) keys, so the closure
      // semi-join re-exchanges NEITHER side — the bare join would
      // exchange wedges on (dst, dst2) AND und on (a, b)
      .repartition(col("dst"))
    val triangles = wedges
      .join(und, col("dst") === col("a") && col("dst2") === col("b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val stats = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        // undirected wedge count Σ d·(d−1)/2 for the clustering coeff —
        // integer division AFTER the (even-termed) sum, no doubles
        expr("sum(d * (d - 1)) DIV 2").as("n_wedges")))
    triangles.crossJoin(stats)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
              Num.roundTo(lit(3.0) * col("n_triangles").cast("double") /
                col("n_wedges").cast("double"), 6).as("clustering_coeff"))
  }

  /** PER-NODE triangle counts + local clustering coefficient — n2's
    * global summary broken out per vertex: how clique-like is each
    * part's co-purchase neighborhood (the community-structure signal a
    * recommender reads per item). Same canonical-edge + degree-ordered
    * wedge machinery as [[partTriangles]], but the closure join keeps
    * the triangle TRIPLES, which explode to 3 (node, 1) rows each and
    * reduce with map-side combine; local cc = 2·tri / (d·(d−1)),
    * 6dp-rounded, null where degree < 2 (no wedge to close).
    * The per-node fan-out is 3 rows per triangle — O(triangles) total,
    * the same bound the count itself already pays.
    */
  def partLocalClustering(spark: SparkSession, dir: String,
                          maxPart: Long = 20000L): DataFrame = {
    val g = orientedCoPurchase(spark, dir, maxPart)
    val (und, deg, oriented) = (g.und, g.deg, g.oriented)
    val triangleNodes = oriented
      .join(oriented.select(col("src"), col("dst").as("dst2")), Seq("src"))
      .filter(col("dst") < col("dst2"))
      // same exact-superset bloom prefilter as partTriangles — the wedge
      // exchange carries only might-close survivors
      .filter(call_function("might_contain", lit(g.undPairBloom),
        xxhash64(col("dst"), col("dst2"))))
      .repartition(col("dst")) // position-0 co-partition with und (see partTriangles)
      .join(und, col("dst") === col("a") && col("dst2") === col("b"), "left_semi")
      .select(explode(array(col("src"), col("dst"), col("dst2"))).as("v"))
    val perNode = triangleNodes.groupBy("v").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("l_partkey"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          Num.roundTo(lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
            (col("d") * (col("d") - 1)).cast("double"), 6)).as("local_cc"))
      .orderBy("l_partkey")
  }

  /** K-CORE decomposition of the co-purchase graph — iterative peeling:
    * drop every node whose degree falls below `k`, recompute, repeat.
    * The survivors are the maximal subgraph where everyone keeps ≥ k
    * neighbors (the standard cohesion filter: "parts that co-sell with
    * at least k other heavily-co-sold parts"), with their within-core
    * degree.
    *
    * `maxPart` also BOUNDS the per-round broadcast: the alive set is
    * ≤ maxPart rows by construction, which is what licenses the explicit
    * broadcast() on both semi joins below (the partLabelProp label-table
    * bound) — a caller-supplied corpus-scale maxPart would broadcast
    * per-vertex state and should drop the hint (mirror the 200k
    * partPageRank guard).
    *
    * Runs a FIXED `rounds` count on both engines — peeling is monotone,
    * so once the fixpoint is reached every further round is a no-op and
    * a fixed bound ≥ the convergence round count is exact (the n1
    * fixed-iteration discipline; GraphSpec pins that the fixture
    * converges well inside the bound). Per round: one degree
    * aggregation + two semi joins, all keyed on node ids — 8-byte rows,
    * [[Iterate.materialize]] capping lineage. At 100 TB the edge set
    * shrinks monotonically, so rounds get cheaper as they go.
    */
  def partKCore(spark: SparkSession, dir: String, k: Long = 80L,
                rounds: Int = 10, maxPart: Long = 20000L): DataFrame =
    kCoreLoop(spark, dir, k, rounds, maxPart).table
      .groupBy("v").agg(count(lit(1)).as("core_degree"))
      .select(col("v").as("node"), col("core_degree"))
      .orderBy("node")

  /** [[partKCore]]'s peeling loop, with its round count for the
    * convergence spec. Early exit at the fixpoint is EXACT: peeling is
    * monotone, so the edge count stops changing exactly when the edge set
    * does, and the remaining bounded rounds are no-ops the oracle replays
    * literally. */
  private[graft] def kCoreLoop(spark: SparkSession, dir: String, k: Long,
                               rounds: Int, maxPart: Long): Iterate.Loop = {
    require(k >= 1 && rounds >= 1)
    val und = orientedCoPurchase(spark, dir, maxPart).und
    Iterate.fixpoint(und.select(col("a").as("v"), col("b").as("w"))
        .unionAll(und.select(col("b").as("v"), col("a").as("w"))), rounds) { edges =>
      // alive is capped by maxPart (catalog-sized) — broadcast both
      // semi joins explicitly: the rewrapped edge checkpoint carries
      // DEFAULT size stats, so the planner would otherwise plan two
      // sort-merge joins (4 exchanges + sorts) per peeling round
      val alive = broadcast(edges.groupBy("v").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("v"))
      edges.join(alive, Seq("v"), "left_semi")
        .join(alive.withColumnRenamed("v", "w"), Seq("w"), "left_semi")
        .select("v", "w")
    }
  }

  /** Label-propagation COMMUNITIES (n6, after Raghavan et al. 2007,
    * arXiv:0709.2938) over the part co-purchase graph — the
    * community-detection member of the n-family beside components
    * (which LPA refines: a community is a densely-linked region WITHIN
    * a component). SYNCHRONOUS majority rule, made deterministic: labels
    * start as node ids, and each round every node simultaneously adopts
    * the label most frequent among its neighbors, ties broken to the
    * SMALLEST label (the published async/random variant is
    * arrival-order-dependent — useless for a replayable engine).
    * Fixed `rounds` IS the operator contract ("labels after R
    * synchronous rounds"): sync LPA can 2-cycle on bipartite-ish
    * regions, so unlike k-core there is no monotone fixpoint to
    * early-exit on, and a convergence loop might never terminate.
    *
    * Per round ONE shuffle — the (node, neighbor-label) count groupBy;
    * the argmax is the same max(struct(count, −label)) partial-aggregate
    * trick as kCenterCoreset (no window), and the label state broadcasts
    * under the n-family node cap. Output: (l_partkey, community,
    * n_members), community = the final label, sizes by one more
    * aggregate on the catalog-sized label table.
    *
    * VERTEX-COUNT BOUND: the per-round broadcast of the label table is
    * valid ONLY while the vertex set is catalog-sized (maxPart-capped
    * here, ≤20k rows ≈ 320 KB). Reusing this form on a corpus-sized
    * graph (e.g. the x5 document pair graph) would broadcast per-vertex
    * state that cannot fit — use [[labelPropagation]], the shuffle-join
    * sibling with the identical contract, which n7 registers over the
    * document graph and GraphSpec pins equal to this one here.
    */
  def partLabelProp(spark: SparkSession, dir: String, rounds: Int = 4,
                    maxPart: Long = 20000L): DataFrame = {
    require(rounds >= 1)
    val und = orientedCoPurchase(spark, dir, maxPart).und
    val edges = Iterate.materialize(
      und.select(col("a").as("v"), col("b").as("w"))
        .unionAll(und.select(col("b").as("v"), col("a").as("w"))))
    var labels = Iterate.materialize(
      edges.select(col("v")).distinct().select(col("v"), col("v").as("lbl")))
    for (_ <- 1 to rounds) {
      // ONE exchange per round: hash(v) satisfies the (v, lbl) vote
      // count's clustering AND the argmax groupBy(v) — the bare
      // groupBy(v, lbl) would exchange on (v, lbl) and then AGAIN on v
      val votes = edges
        .join(broadcast(labels.withColumnRenamed("v", "w")), Seq("w"))
        .repartition(col("v"))
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
      labels = Iterate.materialize(
        votes.groupBy(col("v"))
          .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
          .select(col("v"), (-col("m.neg")).as("lbl")))
    }
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
    labels.join(broadcast(sizes), Seq("lbl"))
      .select(col("v").as("l_partkey"), col("lbl").as("community"), col("n_members"))
      .orderBy("l_partkey")
  }

  /** Multi-source BFS distances to the nearest HUB (n8) — the
    * shortest-path member of the graph family beside components,
    * PageRank, triangles, k-core, and LPA: hubs are the `nHubs`
    * highest-degree parts (ties to the smallest id — replayable), and
    * every vertex reports its hop distance to the closest hub
    * (catalog health: how far does any part sit from the co-purchase
    * backbone?). Unreachable vertices (components with no hub) report
    * NULL.
    *
    * Synchronous Bellman-Ford relaxation: dist'(v) = min(dist(v),
    * 1 + min over neighbors). Per-vertex distance is monotone
    * NON-INCREASING and newly-reached vertices only ever gain finite
    * values, so (reached count, reached-distance sum) changes iff any
    * distance changed — the exact two-scalar fixpoint probe (the
    * [[Dedup.connectedComponents]] discipline), making the operator
    * exact at any diameter while the round loop stays bounded by it.
    * One graph-sized shuffle per round (the neighbor-min join+groupBy);
    * the min-merge uses the NULL-explicit least(coalesce) form shared
    * verbatim with the oracle so engine NULL semantics can never
    * diverge.
    */
  def partHubDistances(spark: SparkSession, dir: String, nHubs: Int = 8,
                       maxPart: Long = 20000L, maxIter: Int = 64): DataFrame = {
    require(nHubs >= 1)
    val g = orientedCoPurchase(spark, dir, maxPart)
    val (und, deg) = (g.und, g.deg)
    val edges = Iterate.materialize(
      und.select(col("a").as("v"), col("b").as("w"))
        .unionAll(und.select(col("b").as("v"), col("a").as("w"))))
    val hubs = deg.orderBy(col("d").desc, col("v")).limit(nHubs)
      .select(col("v"), lit(0L).as("hd"))
    // the (reached count, reached-distance sum) fixpoint signature
    val loop = Iterate.fixpoint(
        edges.select(col("v")).distinct()
          .join(hubs, Seq("v"), "left")
          .select(col("v"), col("hd").as("dist")), maxIter,
        count(col("dist")).as("n"), sum(col("dist").cast("decimal(38,0)")).as("s")) { dist =>
      // both per-round joins are map-side: the distance table and the
      // relaxed-min table are O(nodes), maxPart-capped — the same bound
      // that lets partLabelProp broadcast its label table — and the
      // rewrapped checkpoint's default stats would otherwise force two
      // sort-merge joins per round
      val relaxed = edges
        .join(broadcast(dist.select(col("v").as("w"), col("dist").as("dw"))), "w")
        .filter(col("dw").isNotNull)
        .groupBy("v").agg(min(col("dw") + 1L).as("nd"))
      dist.join(broadcast(relaxed), Seq("v"), "left")
        .select(col("v"),
          least(coalesce(col("dist"), col("nd")),
                coalesce(col("nd"), col("dist"))).as("dist"))
    }
    // monotone labels mean a mid-iteration table is only an UPPER BOUND
    // on the true distances — hitting the cap is an error, not an answer
    // (BFS converges within the graph diameter; 64 is unreachable for a
    // catalog co-purchase graph)
    if (!loop.converged)
      throw new IllegalStateException(
        s"hub-distance relaxation did not converge in $maxIter rounds")
    loop.table.select(col("v").as("l_partkey"), col("dist").as("hub_dist"))
      .orderBy("l_partkey")
  }

  /** Label-propagation communities over an arbitrary PAIR graph with
    * label updates as SHUFFLE JOINS (n7) — the document-scale sibling of
    * [[partLabelProp]]. Identical synchronous majority-min contract
    * (labels start as vertex ids; each round every vertex adopts its
    * neighbors' most frequent label, ties to the SMALLEST; fixed
    * `rounds` IS the contract — sync LPA has no monotone fixpoint to
    * probe), but NOTHING broadcasts per-vertex state: labels move by
    * hash-partitioned joins keyed on the neighbor id, the
    * [[Dedup.connectedComponents]] pointer-jumping discipline. That is
    * the form that survives a corpus-sized vertex set — the natural
    * input is x4/x5's near-dup pair table, where communities split a
    * connected component into its densely-linked regions (template
    * families inside one giant mutual-near-dup component).
    *
    * Per round TWO graph-sized shuffles (the neighbor-label join + the
    * (v, lbl) vote count; the argmax is the max(struct) partial-agg
    * trick, no window) over the PAIR graph — which for dedup graphs is
    * orders of magnitude smaller than the corpus. Shuffle width is sized
    * to the graph, not the session (the connectedComponents finding:
    * 32-partition shuffles over a few hundred edges make the loop ~5×
    * slower than the data justifies); each round materializes via
    * [[Iterate.materialize]] so the plan DAG and stats stay constant.
    *
    * Output: (v, community, n_members) for every vertex in the pair
    * graph — callers alias v to their id column.
    */
  def labelPropagation(pairs: DataFrame, aCol: String = "doc_a",
                       bCol: String = "doc_b", rounds: Int = 4): DataFrame = {
    require(rounds >= 1)
    val und = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")) // a self-pair would double-count its own vote
      .distinct()
    // graph-sized shuffles; tiny graphs run the whole loop
    // single-job-per-round, big ones unchanged under AQE (Iterate.onGraph)
    val labels = Iterate.onGraph(und.select(col("a").as("v"), col("b").as("w"))
        .unionAll(und.select(col("b").as("v"), col("a").as("w")))) { (edgesAll, parts) =>
      val edges = Iterate.materialize(edgesAll.repartition(parts, col("w")))
      var labels = Iterate.materialize(
        edges.select(col("v")).distinct().select(col("v"), col("v").as("lbl"))
          .repartition(parts, col("v")))
      for (_ <- 1 to rounds) {
        // one graph-sized exchange per round: the explicit hash(v)
        // repartition serves BOTH the (v, lbl) vote count and the argmax
        // groupBy(v), and its output partitioning is already the hash(v)
        // the next round's label table needs
        val votes = edges
          .join(labels.select(col("v").as("w"), col("lbl")), Seq("w"))
          .repartition(parts, col("v"))
          .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
        labels = Iterate.materialize(
          votes.groupBy(col("v"))
            .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
            .select(col("v"), (-col("m.neg")).as("lbl")))
      }
      labels
    }
    // community sizes join WITHOUT a broadcast hint: the label table is
    // vertex-sized here (unlike partLabelProp's catalog-capped one), so
    // the engine must stay free to pick a shuffle join; AQE still
    // broadcasts when the size table turns out small at runtime.
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
    labels.join(sizes, Seq("lbl"))
      .select(col("v"), col("lbl").as("community"), col("n_members"))
  }
}
