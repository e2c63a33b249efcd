package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning

/** The one partition-width rule. A width is the number of whole
  * `perPartition` units the data holds, clamped to [1, the session's
  * cores]: fixture-scale inputs run a task or two, and the width grows
  * with the data until it fills the cluster. Per-task fixed cost
  * (scheduling, shuffle-file create and merge, block registration) is
  * what a core-count width pays on kilobyte data — measured in round 18
  * as 32-core runs slower than 8-core ones — so every site that picks a
  * width picks it here, from its own unit below.
  */
object Sizing {
  /** Rows per task for the unsplittable fixture scans (`Tables.documents`,
    * `Tables.embeddings`), whose consumers are CPU-dense per row. */
  val ScanRows = 512L
  /** Rows per task for the multimodal synth + codec map (~0.1-1 ms/row). */
  val SynthRows = 256L
  /** lineitem rows per partition for the co-purchase graph setup. */
  val GraphRows = 50000L
  /** Edges per partition for the iterative graph loops. */
  val LoopEdges = 100000L
  /** Staged input bytes per streaming shuffle/state partition. */
  val StreamBytes = 1L << 20
  /** Cached bytes per loop-checkpoint partition. */
  val CheckpointBytes = 8L << 20

  /** The clamp: the session's default parallelism (cores in local mode). */
  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  def width(spark: SparkSession, units: Long, perPartition: Long): Int =
    math.max(1L, math.min(cores(spark).toLong, units / perPartition)).toInt

  /** Repartition to `target` only when `df` has fewer partitions: a frame
    * that is already wide keeps its partitioning and pays no exchange.
    * The current width is read off the physical plan (an exchange
    * reports its own), so an adaptive plan is never run to count its
    * partitions; only a plan of unknown partitioning, such as a file
    * scan, asks its RDD, which for a scan lists the splits without a job.
    */
  def widen(df: DataFrame, target: Int): DataFrame = {
    val qe = df.queryExecution
    val have = qe.sparkPlan.outputPartitioning match {
      case UnknownPartitioning(_) => qe.toRdd.getNumPartitions
      case p => p.numPartitions
    }
    if (have < target) df.repartition(target) else df
  }
}
