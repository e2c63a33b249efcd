package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Integer PageRank over the co-purchase graph: exact-arithmetic
  * invariants and a closed-form fixture where the answer is known.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("ring graph: a symmetric 2-regular graph keeps the uniform rank exactly") {
    // order i = parts {i, (i+1) mod n} → co-purchase ring, every deg = 2.
    // Uniform start S splits as S = 0.15·S + 0.85·(2·floor(S/2)) exactly
    // (S even), so every iteration returns the uniform vector unchanged.
    val n = 12L
    val d = tmpDir("ring")
    (0L until n).flatMap(i => Seq((i, i), (i, (i + 1) % n)))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(d.resolve("lineitem.parquet").toString)
    val out = Graph.partPageRank(spark, d.toString, iters = 3, topN = 100).collect()
    assert(out.length == n)
    assert(out.forall(_.getAs[Long]("rank_scaled") == 1000000000000L))
    assert(out.forall(_.getAs[Long]("n_copurchase") == 2L))
  }

  test("partPprSelection with every node a seed == partPageRank (teleport degenerates to uniform)") {
    val n = 12L
    val d = tmpDir("ppr_uniform")
    (0L until n).flatMap(i => Seq((i, i), (i, (i + 1) % n)))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(d.resolve("lineitem.parquet").toString)
    val pr = Graph.partPageRank(spark, d.toString, iters = 3, topN = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ppr = Graph.partPprSelection(spark, d.toString, iters = 3, topN = 100, seedMod = 1L)
      .collect()
    assert(ppr.forall(_.getAs[Boolean]("is_seed")))
    assert(ppr.map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("rank_scaled"))).toSet == pr)
  }

  test("partPprSelection: single-seed ring — mass concentrates at the seed, decays symmetrically, zero beyond the walk horizon") {
    // ring 0..11, seeds = v % 50 == 0 → only node 0. After 3 sync
    // iterations mass has walked at most 3 hops: nodes 4..8 still 0.
    val n = 12L
    val d = tmpDir("ppr_ring")
    (0L until n).flatMap(i => Seq((i, i), (i, (i + 1) % n)))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(d.resolve("lineitem.parquet").toString)
    val out = Graph.partPprSelection(spark, d.toString, iters = 3, topN = 100).collect()
    assert(out.length == n)
    val rank = out.map(r => r.getLong(0) -> r.getAs[Long]("rank_scaled")).toMap
    assert(out.filter(_.getAs[Boolean]("is_seed")).map(_.getLong(0)).toSeq == Seq(0L))
    // the seed re-receives its full teleport share every iteration:
    // floor(0.15·S·12 / 1)
    assert(rank(0L) >= 3L * 1000000000000L * 12L / 20L)
    // exact left/right symmetry of the floor-division walk (a sync
    // walk travels as a PULSE, so distance-monotone decay does NOT
    // hold — symmetry and the horizon are the exact invariants)
    assert(rank(1L) == rank(11L) && rank(2L) == rank(10L) && rank(3L) == rank(9L))
    // 3 iterations move mass at most 3 hops: strictly zero beyond
    assert(Seq(1L, 2L, 3L).forall(rank(_) > 0L))
    assert(Seq(4L, 5L, 6L, 7L, 8L).forall(rank(_) == 0L))
  }

  test("star graph: the hub outranks the spokes and mass stays near N·S") {
    // orders {hub, spoke_i} → star. Hub collects 0.85·S·(n-1)/1 + base.
    val n = 9L // 8 spokes + hub 0
    val d = tmpDir("star")
    (1L until n).flatMap(i => Seq((i, 0L), (i, i)))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(d.resolve("lineitem.parquet").toString)
    val out = Graph.partPageRank(spark, d.toString, iters = 3, topN = 100).collect()
    val byId = out.map(r => r.getAs[Long]("l_partkey") -> r.getAs[Long]("rank_scaled")).toMap
    assert(out.head.getAs[Long]("l_partkey") == 0L, "hub ranks first")
    val spokes = (1L until n).map(byId)
    assert(spokes.distinct.size == 1, "spokes are symmetric → identical ranks")
    assert(byId(0L) > spokes.head * 3, "hub dominates")
    // floor-division leaks < 1 unit per node per iteration: total mass
    // stays within iters·(N+damping slack) of N·S
    val total = out.map(_.getAs[Long]("rank_scaled")).sum
    assert(math.abs(total - n * 1000000000000L) < 100L * n)
  }

  test("triangles: closed forms — K3, C4, K4 — and fixture determinism") {
    def graphOf(orders: Seq[Seq[Long]]): String = {
      val d = tmpDir("tri")
      orders.zipWithIndex
        .flatMap { case (parts, i) => parts.map(p => (i.toLong, p)) }
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(d.resolve("lineitem.parquet").toString)
      d.toString
    }
    // one order {0,1,2} → K3: 1 triangle, 3 wedges, coefficient 1
    val k3 = Graph.partTriangles(spark, graphOf(Seq(Seq(0L, 1L, 2L)))).collect().head
    assert(k3.getAs[Long]("n_nodes") == 3 && k3.getAs[Long]("n_edges") == 3)
    assert(k3.getAs[Long]("n_triangles") == 1L)
    assert(k3.getAs[Double]("clustering_coeff") == 1.0)
    // 4-cycle: no triangles
    val c4 = Graph.partTriangles(spark,
      graphOf(Seq(Seq(0L, 1L), Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 0L)))).collect().head
    assert(c4.getAs[Long]("n_triangles") == 0L && c4.getAs[Long]("n_edges") == 4)
    // K4: C(4,3) = 4 triangles, 12 wedges, coefficient 3·4/12 = 1
    val k4 = Graph.partTriangles(spark, graphOf(Seq(Seq(0L, 1L, 2L, 3L)))).collect().head
    assert(k4.getAs[Long]("n_triangles") == 4L && k4.getAs[Long]("n_edges") == 6)
    assert(k4.getAs[Double]("clustering_coeff") == 1.0)
    // fixture: rerun-stable exact integers
    val a = Graph.partTriangles(spark, sfDir).collect().head
    val b = Graph.partTriangles(spark, sfDir).collect().head
    assert(a.toSeq == b.toSeq)
    assert(a.getAs[Long]("n_triangles") >= 0L)
  }

  test("fixture graph: deterministic under repartition, ranks above the base share") {
    val a = Graph.partPageRank(spark, sfDir).collect()
    val b = Graph.partPageRank(spark, sfDir, iters = 3, topN = 20).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.nonEmpty && a.length <= 20)
    val ranks = a.map(_.getAs[Long]("rank_scaled")).toSeq
    assert(ranks == ranks.sorted.reverse, "sorted by rank desc")
    assert(ranks.forall(_ >= 150000000000L), "every rank ≥ floor(0.15·S)")
  }

  test("partPageRankShuffle == partPageRank (strategy switch, not a semantics switch); no broadcast of rank state") {
    // the big-graph DECIMAL(38,0) shuffle-join walk must reproduce the
    // guarded broadcast walk's integer ranks EXACTLY — floor divisions
    // via subtract-remainder keep decimal arithmetic rounding-free
    val viaShuffle = Graph.partPageRankShuffle(spark, sfDir)
      .withColumn("rank_scaled", col("rank_scaled").cast("long"))
      .collect().map(_.toSeq).toSeq
    val viaBroadcast = Graph.partPageRank(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaShuffle.nonEmpty && viaShuffle == viaBroadcast)
    // plan pin on the IN-LOOP step specifically (not the composed
    // query): the per-iteration rank join must never broadcast — a
    // rank table bigger than the 200k guard could not ship that way.
    // The setup and final top-N joins are O(nodes) coordination and MAY
    // legitimately broadcast under a future AQE/stats change, so they
    // are deliberately outside this assertion's blast radius.
    val (nodes, edges, _) =
      Graph.coPurchaseRankGraph(spark, sfDir, broadcastState = false)
    val ranks0 = nodes.select(col("v"),
      lit(Graph.S).cast("DECIMAL(38,0)").as("r"))
    val stepPlan = Graph.shuffleRankStep(nodes, edges, ranks0)
      .queryExecution.executedPlan.toString
    assert(!stepPlan.contains("BroadcastHashJoin"),
      s"n10's in-loop step must keep rank state shuffle-joined, got:\n$stepPlan")
  }

  test("partLocalClustering: per-node triangles sum to 3x the global count, cc bounded and null below degree 2") {
    val local = Graph.partLocalClustering(spark, sfDir).cache()
    try {
      val global = Graph.partTriangles(spark, sfDir).collect().head
      val triSum = local.agg(sum("n_triangles")).head.getLong(0)
      assert(triSum == 3L * global.getLong(2),
        s"per-node sum $triSum != 3 * ${global.getLong(2)}")
      assert(local.count() == global.getLong(0)) // one row per node
      val rows = local.collect()
      rows.foreach { r =>
        val (d, cc) = (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3)))
        if (d < 2) assert(cc.isEmpty) else assert(cc.exists(v => v >= 0.0 && v <= 1.0))
      }
    } finally local.unpersist()
  }

  test("partKCore: fixture converges inside the fixed bound; every survivor keeps >= k core neighbors; peeling is non-trivial") {
    // k = 65 peels 12 of 200 nodes over 4 rounds at this fixture scale
    // (the registered query's k = 80 does the same shape at sf0.01);
    // k = 70 collapses the whole uniform graph — the all-or-nothing
    // cascade — which the last assert also pins
    val loop = Graph.kCoreLoop(spark, sfDir, k = 65L, rounds = 10, maxPart = 20000L)
    assert(loop.converged && loop.rounds < 10,
      s"fixture must converge strictly inside the 10-round bound, got ${loop.rounds} rounds")
    val core = Graph.partKCore(spark, sfDir, k = 65L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.nonEmpty, "65-core empty - pick a smaller k for this fixture")
    assert(core.values.forall(_ >= 65L), "every survivor keeps >= k neighbors in the core")
    // vacuity: the peel must actually remove someone
    val allNodes = graft.ops.Tables.lineitem(spark, sfDir)
      .filter(col("l_partkey") < 20000).select("l_partkey").distinct().count()
    assert(core.size < allNodes, "nothing peeled - the k-core check is vacuous")
    // uniform-graph cascade: k just above the core threshold empties it
    assert(Graph.partKCore(spark, sfDir, k = 70L).count() == 0L)
  }

  test("assocRules: hand-computed support/confidence/lift; min-support prunes; duplicate lines collapse") {
    import spark.implicits._
    // baskets: 1={10,20,30}, 2={10,20}, 3={10,20}, 4={30}; line-level dup of (1,10)
    val items = Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L), (3L, 10L), (3L, 20L), (4L, 30L)).toDF("ok", "item")
    val out = Analytics.assocRulesFrom(items, minSupport = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))))
      .toMap
    // only {10,20} reaches support 3; both directions emitted
    assert(out.keySet == Set((10L, 20L), (20L, 10L)))
    val (nPair, nAnt, nCon, supp, conf, lift) = out((10L, 20L))
    assert(nPair == 3L && nAnt == 3L && nCon == 3L)
    assert(supp == 0.75 && conf == 1.0)
    assert(math.abs(lift - math.floor(4.0 / 3.0 * 1e9 + 0.5) / 1e9) < 1e-12)
    // min-support 2 admits the {10,30}/{20,30} pairs from basket 1
    val loose = Analytics.assocRulesFrom(items, minSupport = 1)
    assert(loose.count() == 6L)
  }

  test("partLabelProp: communities are label-constant-connected, sizes consistent, deterministic") {
    val out = Graph.partLabelProp(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // one row per node; n_members really is the community's row count
    assert(out.map(_._1).distinct.length == out.length)
    val sizes = out.groupBy(_._2).map { case (c, rs) => c -> rs.length.toLong }
    out.foreach { case (_, c, n) => assert(n == sizes(c), s"community $c size") }
    // every community label is one of its member ids' ancestors — at
    // minimum, a label that exists as a node (labels only ever copy ids)
    val nodes = out.map(_._1).toSet
    assert(out.forall { case (_, c, _) => nodes(c) })
    // the synchronous majority rule must actually merge something (the
    // co-purchase fixture is dense) AND not collapse to one community
    assert(sizes.size < out.length, "no labels propagated - vacuous")
    // deterministic across reruns (same fixed rounds, same tie-break)
    val again = Graph.partLabelProp(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
  }

  test("labelPropagation (shuffle-join LPA) == partLabelProp on the catalog graph") {
    // same synchronous majority-min contract, different movement plan
    // (shuffle joins vs broadcast labels) — outputs must be identical
    val und = Graph.orientedCoPurchase(spark, sfDir, 20000L).und
    val viaShuffle = Graph.labelPropagation(und, "a", "b", rounds = 4)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaBroadcast = Graph.partLabelProp(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaShuffle == viaBroadcast)
  }

  test("partHubDistances == driver-side multi-source BFS reference") {
    val out = Graph.partHubDistances(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val g0 = Graph.orientedCoPurchase(spark, sfDir, 20000L)
    val (und, deg) = (g0.und, g0.deg)
    val edges = und.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSeq }
    val hubs = deg.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (v, d) => (-d, v) }.take(8).map(_._1)
    // reference BFS from all hubs at once
    val ref = scala.collection.mutable.Map[Long, Long](hubs.map(_ -> 0L): _*)
    var frontier = hubs.toSet
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Seq.empty))
        .filterNot(ref.contains)
      frontier.foreach(ref(_) = d)
    }
    val expected = adj.keys.map(v => v -> ref.getOrElse(v, -1L)).toMap
    assert(out == expected)
    assert(out.values.count(_ == 0L) == 8)
    assert(out.values.exists(_ > 0L), "some vertex must sit off the hub set")
  }

  test("labelPropagation: known communities on two triangles joined by a bridge") {
    import spark.implicits._
    // triangles {1,2,3} and {10,11,12} bridged by 3-10. Hand-traced
    // sync majority-min: round 1 seeds (1→2, 2→1, 3→1, 10→3, 11→10,
    // 12→10); v10's min-tie pick of bridge label 3 then wins its
    // triangle's majority, so the right community stabilizes on label 3
    // (carried over the bridge) and the left on 1 — two communities of
    // 3, split exactly at the bridge
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
                    (10L, 11L), (10L, 12L), (11L, 12L),
                    (3L, 10L)).toDF("doc_a", "doc_b")
    val out = Graph.labelPropagation(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(Seq(1L, 2L, 3L).forall(v => out(v)._1 == 1L))
    assert(Seq(10L, 11L, 12L).forall(v => out(v)._1 == 3L))
    assert(out(1L)._2 == 3L && out(10L)._2 == 3L)
    // no per-vertex broadcast hint anywhere in the loop's output plan
    val analyzed = Graph.labelPropagation(pairs).queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), s"no broadcast hints allowed:\n$analyzed")
  }
}
