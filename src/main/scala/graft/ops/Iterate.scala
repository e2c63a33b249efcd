package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

/** Materialization and convergence for iterative DataFrame loops
  * (connected components, k-core, BFS, Lloyd's codebook training).
  *
  * `localCheckpoint(eager = true)` alone is NOT enough to make a loop
  * scale-safe on Spark 4: `LogicalRDD.fromDataset` rewrites the SOURCE
  * plan's statistics onto the checkpoint node, and the size-only stats
  * visitor estimates a join as the PRODUCT of its children's sizes. In a
  * loop, round k's checkpointed estimate therefore multiplies round
  * k-1's — double-exponential growth. Past ~12 rounds the BigInt
  * estimate has millions of digits: stats computation (driver-side, per
  * checkpoint) takes minutes of Toom-Cook BigInteger multiplication and
  * finally throws "BigInteger would overflow supported range". Observed
  * on the sf1 scale run, where the dup-pair graph's diameter pushed the
  * CC loop past the cliff; fixture scales converge in fewer rounds and
  * never showed it.
  *
  * The fix: after materializing, re-wrap the checkpointed RDD in a fresh
  * DataFrame. The new LogicalRDD carries NO inherited estimate (it
  * reports the session default), so per-round stats stay constant. The
  * row conversion this adds is per-loop-table row — the pair graph /
  * centroid tables, orders of magnitude smaller than the corpus.
  */
object Iterate {
  /** Storage level for every loop checkpoint: SERIALIZED bytes, not
    * deserialized rows. The default MEMORY_AND_DISK(deserialized) level
    * sizes each cached block by walking the stored objects' graphs with
    * `SizeEstimator` — measured as a top-3 task-thread hotspot across
    * the iterative families (thread dumps: up to 17/32 executor threads
    * inside `SizeEstimator.estimate` during a k-core round). Serialized
    * blocks know their exact byte size, UnsafeRow payloads serialize as
    * flat byte copies, and the loop tables are re-read at most a few
    * times each — the cheap-to-store side of the trade is the right one.
    */
  private[graft] val CheckpointLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  def materialize(df: DataFrame): DataFrame = wrapCheckpoint(
    df.localCheckpoint(eager = true, storageLevel = CheckpointLevel))

  /** Where a [[fixpoint]] loop stopped: its last table, how many steps
    * ran (the round that detected the fixpoint included), and whether it
    * stopped at a fixpoint rather than at the round cap. */
  final case class Loop(table: DataFrame, rounds: Int, converged: Boolean)

  /** The one convergence loop: materialize `init`, then `step(prev)`
    * round after round, each through its own checkpoint job with
    * `count(1) +: signature` observed on it. Stops at a fixpoint — an
    * empty table (every caller's step maps empty to empty) or a signature row
    * equal to the previous round's, decimals by value — or after
    * `maxRounds` steps with `converged = false`. The signature must
    * change whenever the table does; each caller's scaladoc argues why
    * its one does.
    *
    * The probe rides each round's checkpoint job (`Dataset.observe`,
    * read back from the plan's CollectMetrics node once the eager
    * checkpoint ran): a probe per round as its own action costs a full
    * job submission, ~50 ms of driver latency at fixture scale and the
    * dominant cost of these loops once per-task work is sized right.
    */
  def fixpoint(init: DataFrame, maxRounds: Int, signature: Column*)
              (step: DataFrame => DataFrame): Loop = {
    val probe = count(lit(1)).as("__rows") +: signature
    def same(a: Row, b: Row): Boolean = (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        // compareTo, not equals: BigDecimal.equals is scale-sensitive
        case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
        case (x, y) => x == y
      }
    }
    @annotation.tailrec
    def go(table: DataFrame, sig: Row, rounds: Int): Loop =
      if (sig.getLong(0) == 0L) Loop(table, rounds, converged = true)
      else if (rounds >= maxRounds) Loop(table, rounds, converged = false)
      else {
        val (next, s) = materializeObserved(step(table), probe)
        if (same(s, sig)) Loop(next, rounds + 1, converged = true) else go(next, s, rounds + 1)
      }
    val (t0, s0) = materializeObserved(init, probe)
    go(t0, s0, 0)
  }

  /** The graph loops' prologue: checkpoint `edges` with its row count
    * observed on the same job, size the loop's shuffles to the graph
    * ([[graft.Sizing.LoopEdges]] per partition — the dup-pair graph is
    * orders of magnitude smaller than the corpus, and 32-partition
    * shuffles over a few hundred edges made the CC loop ~5x slower than
    * the data justifies), and run `body(checkpointed edges, width)`
    * under [[withTinyLoopConf]]. */
  def onGraph[T](edges: DataFrame)(body: (DataFrame, Int) => T): T = {
    val (cp, n) = materializeObserved(edges, Seq(count(lit(1)).as("n")))
    val parts = graft.Sizing.width(cp.sparkSession, n.getLong(0), graft.Sizing.LoopEdges)
    withTinyLoopConf(cp.sparkSession, parts)(body(cp, parts))
  }

  /** [[materialize]] that also evaluates the aggregate `exprs` over the
    * materialized rows inside the SAME job. */
  private def materializeObserved(df: DataFrame, exprs: Seq[Column]): (DataFrame, Row) = {
    val obs = df.observe("graft_probe", exprs.head, exprs.tail: _*)
    val cp = obs.localCheckpoint(eager = true, storageLevel = CheckpointLevel)
    (wrapCheckpoint(cp), obs.queryExecution.observedMetrics("graft_probe"))
  }

  /** Run `body` (an iterative loop over a SMALL graph/table) with AQE
    * off and the shuffle width pinned to the data-derived `parts`.
    * Rationale: AQE turns every round's query into several stage-jobs
    * (plus broadcast jobs), and on a fixture-scale pair graph the loop's
    * cost is pure driver job-submission latency — m7's resolve measured
    * 148 jobs of < 0.3 s stages. With AQE off and the width pinned to
    * the graph, each round is ONE job over `parts`-wide exchanges.
    * GATED BY SCALE: when `parts` reaches the session's cores (graph ≥
    * ~100k rows × cores), the body runs UNCHANGED under AQE — big-graph
    * loops keep coalescing and skew-join handling; this fast path exists
    * only where the data is too small for those to matter.
    * The toggles are session-global, scoped by [[graft.Sessions.withConf]].
    */
  private def withTinyLoopConf[T](spark: org.apache.spark.sql.SparkSession, parts: Int)
                                 (body: => T): T =
    if (parts >= graft.Sizing.cores(spark)) body
    else graft.Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> parts.toString)(body)

  private def wrapCheckpoint(cp: DataFrame): DataFrame = {
    val spark = cp.sparkSession
    val rdd = cp.rdd
    // Data-adaptive width for every loop table, with ZERO extra compute:
    // the eager checkpoint just cached its blocks SERIALIZED, so their
    // exact byte size is already on the driver (block-manager storage
    // info — no job, no estimate). Narrow the wrapped RDD to ~8 MB per
    // partition via coalesce (a narrow dependency, no shuffle): map-side
    // task counts of every consumer stage now track the table's SIZE
    // instead of inheriting the session's core-count width — the
    // iterative families' per-round stages stop paying 32-64 tiny-task
    // convoys at fixture scale (AQE's coalescing cannot fix these: a
    // cached RDD scan or a union has no Exchange to coalesce). Never
    // widens, and a table that fills the cores keeps its own partitions,
    // so a 100 TB loop table is never narrowed to the core count.
    // cp.rdd is a row-conversion WRAPPER over the cached internal RDD —
    // walk the (narrow) dependency chain to the ancestor that actually
    // holds the blocks, then read its exact byte size off the block
    // manager. If anything about the chain is unexpected, fall back to
    // "don't narrow" (bytes = Long.MaxValue), never to width 1.
    @annotation.tailrec
    def cachedAncestor(r: org.apache.spark.rdd.RDD[_]): Option[org.apache.spark.rdd.RDD[_]] =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Some(r)
      else r.dependencies match {
        case Seq(d) => cachedAncestor(d.rdd)
        case _ => None
      }
    val bytes = cachedAncestor(rdd).flatMap(c =>
      spark.sparkContext.getRDDStorageInfo.find(_.id == c.id)
        .map(i => i.memSize + i.diskSize)).getOrElse(Long.MaxValue)
    val target = graft.Sizing.width(spark, bytes, graft.Sizing.CheckpointBytes)
    val narrowed =
      if (target < rdd.getNumPartitions && target < graft.Sizing.cores(spark)) rdd.coalesce(target)
      else rdd
    spark.createDataFrame(narrowed, cp.schema)
  }

  /** [[materialize]] that PRESERVES the physical partitioning (and pays
    * the stats caveat above by NOT re-wrapping — use only OUTSIDE
    * unbounded loops, for tables checkpointed ONCE and re-joined many
    * times). `localCheckpoint` propagates the source plan's
    * outputPartitioning onto the LogicalRDD, so a table shuffled onto
    * its join key before this call joins WITHOUT re-exchange in every
    * later iteration — the n10 edge table's shape: exchange edges once,
    * then only the O(nodes) rank side moves per round. The createDataFrame
    * re-wrap in [[materialize]] would erase exactly that property.
    *
    * The AQE toggle below is session-global conf, scoped by
    * [[graft.Sessions.withConf]]: its JVM-wide lock keeps a concurrent
    * scope (another loop's [[withTinyLoopConf]], a stream's width) from
    * racing the restore. A query planned concurrently on another thread
    * may still plan without AQE during the checkpoint; that changes its
    * plan shape, not its rows.
    *
    * AQE must be OFF while the checkpoint plans: under an
    * AdaptiveSparkPlan the LogicalRDD records UnknownPartitioning(0)
    * (measured on the n2/n10 plans — every "partition-preserving"
    * checkpoint was silently re-exchanged by its consumers), because the
    * adaptive wrapper cannot expose a concrete partitioning at the time
    * the RDD is captured. Disabling AQE for just this plan pins the
    * explicit repartition width (spark.sql.shuffle.partitions — already
    * sized to the session's cores) and the downstream queries still run
    * WITH AQE, now seeing the real hashpartitioning and planning
    * exchange-free joins against it.
    */
  def materializePartitioned(df: DataFrame): DataFrame =
    graft.Sessions.withConf(df.sparkSession, "spark.sql.adaptive.enabled" -> "false")(
      df.localCheckpoint(eager = true, storageLevel = CheckpointLevel))
}
