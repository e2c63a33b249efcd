package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.slf4j.LoggerFactory

/** C1-C4: the reference's 3-stage linear flow, ingest → clean → load
  * (`/root/reference/flows/pipeline.py:16-43`), with its per-stage row-count
  * telemetry (`api.py:79-91`).
  *
  * In Spark the three stages are ONE lazy Catalyst plan until the write:
  * scan + null-filter fuse into a single WholeStageCodegen stage of the
  * write job — no intermediate materialization (unlike the reference's
  * stage-at-a-time pandas copies). The row counts the reference reports are
  * extra actions; we cache the cleaned frame once so count + write share
  * the scan instead of reading the input twice.
  */
object Pipeline {
  private val log = LoggerFactory.getLogger(getClass)

  final case class PipelineConfig(
      csvPath: String = "data/raw/products.csv",
      outputPath: String = "data/processed/products",
      tableName: String = "products",
      strict: Boolean = false,
      dropNullSubset: Seq[String] = Seq.empty)

  final case class PipelineResult(
      rowsIngested: Long, rowsCleaned: Long, recordsProcessed: Long)

  /** Run with telemetry (counts). For fire-and-forget loads where the
    * counts don't matter, use [[runNoCount]] — single job, single pass. */
  def run(spark: SparkSession, config: PipelineConfig): PipelineResult = {
    // the job group is a thread-local property: label this run's jobs,
    // then hand the caller's thread back with its own group
    val sc = spark.sparkContext
    val groupProps = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val callerGroup = groupProps.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup("graft-pipeline", s"ingest ${config.csvPath}")
    try runLabelled(spark, config)
    finally callerGroup.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  private def runLabelled(spark: SparkSession, config: PipelineConfig): PipelineResult = {
    val raw = Ingest.ingest(spark, config.csvPath, config.strict)
    val cleaned = Clean.dropAnyNull(raw, config.dropNullSubset)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nClean = cleaned.count()
      log.info(s"Cleaned data: $nClean records remain")
      Load.replaceParquet(cleaned, config.outputPath)
      // The raw count is a second input scan — the price of the
      // reference's per-stage row telemetry (api.py:79-91); callers that
      // don't need it use runNoCount (single pass).
      val nRaw = raw.count()
      log.info(s"Loaded $nRaw records from ${config.csvPath}")
      PipelineResult(nRaw, nClean, nClean)
    } finally cleaned.unpersist()
  }

  /** Single-pass variant: ingest+clean+load as one write job. */
  def runNoCount(spark: SparkSession, config: PipelineConfig): Unit = {
    val raw = Ingest.ingest(spark, config.csvPath, config.strict)
    Load.replaceParquet(Clean.dropAnyNull(raw, config.dropNullSubset), config.outputPath)
  }
}
