package graft.etl

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.slf4j.LoggerFactory

/** C1-C4: the reference's 3-stage linear flow, ingest → clean → load
  * (`/root/reference/flows/pipeline.py:16-43`), with its per-stage row-count
  * telemetry (`api.py:79-91`).
  *
  * In Spark the three stages are ONE lazy Catalyst plan until the write:
  * scan + null-filter fuse into a single WholeStageCodegen stage of the
  * write job — no intermediate materialization (unlike the reference's
  * stage-at-a-time pandas copies). The row counts the reference reports
  * ride that same job as observed metrics, so a run is two jobs: ingest's
  * schema inference and the write.
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

  /** Run with telemetry (per-stage row counts). */
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
    // Both counts are observed by the write job itself. It is one result
    // stage with no exchange, and Spark merges a result stage's
    // accumulators once per partition, so a retried task cannot count
    // its rows twice. The observations are read only once the write has
    // returned: a failed write throws before anything waits on them.
    val (ingested, cleaned) = (Observation(), Observation())
    val raw = Ingest.ingest(spark, config.csvPath, config.strict)
      .observe(ingested, count(lit(1)).as("rows"))
    val clean = Clean.dropAnyNull(raw, config.dropNullSubset)
      .observe(cleaned, count(lit(1)).as("rows"))
    Load.replaceParquet(clean, config.outputPath)
    val nRaw = ingested.get("rows").asInstanceOf[Long]
    val nClean = cleaned.get("rows").asInstanceOf[Long]
    log.info(s"Loaded $nRaw records from ${config.csvPath}; $nClean remain after cleaning")
    PipelineResult(nRaw, nClean, nClean)
  }
}
