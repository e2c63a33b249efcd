package graft.serve

import graft.etl.Pipeline
import graft.etl.Pipeline.PipelineConfig
import org.apache.spark.sql.SparkSession

import java.time.Instant
import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.concurrent.{ExecutionContext, Future}
import scala.util.{Failure, Success}

/** C3-C4: the run registry + background-execution state machine of
  * `/root/reference/api.py:16,69-163`. pending → running → completed|failed,
  * with per-run messages, records_processed, start/end stamps, and the
  * list/sort/get/clear operations the API exposes.
  *
  * App-layer concern (not a Spark plan): a TrieMap registry + Futures
  * replace the reference's event-loop coroutines; the Spark job submitted
  * inside the Future is what actually distributes.
  */
object Runs {
  final case class RunRecord(
      runId: String,
      status: String, // pending | running | completed | failed
      startTime: Instant,
      endTime: Option[Instant],
      errorMessage: Option[String],
      message: String,
      config: PipelineConfig,
      runName: Option[String],
      recordsProcessed: Option[Long])

  final class Registry(spark: SparkSession)(implicit ec: ExecutionContext) {
    private val runs = TrieMap.empty[String, RunRecord]

    /** POST /api/pipeline/run: 400-equivalent if csv_path missing
      * (api.py:112-116); registers pending, schedules async execution. */
    def start(config: PipelineConfig, runName: Option[String] = None): RunRecord = {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(config.csvPath)))
        throw new IllegalArgumentException(s"Source file not found: ${config.csvPath}")
      val id = UUID.randomUUID().toString
      val rec = RunRecord(id, "pending", Instant.now(), None, None,
        "Pipeline run created", config, runName, None)
      runs.put(id, rec)
      Future {
        update(id)(_.copy(status = "running", message = "Ingesting data..."))
        Pipeline.run(spark, config)
      }.onComplete {
        case Success(res) =>
          update(id)(_.copy(status = "completed", endTime = Some(Instant.now()),
            message = s"Pipeline completed: ${res.recordsProcessed} records processed",
            recordsProcessed = Some(res.recordsProcessed)))
        case Failure(e) =>
          update(id)(_.copy(status = "failed", endTime = Some(Instant.now()),
            errorMessage = Some(e.getMessage), message = "Pipeline failed"))
      }
      rec
    }

    private def update(id: String)(f: RunRecord => RunRecord): Unit =
      runs.updateWith(id)(_.map(f))

    /** GET /api/pipeline/status/{id}: None ≙ 404 (api.py:139-145). */
    def get(id: String): Option[RunRecord] = runs.get(id)

    /** GET /api/pipeline/runs: newest first (api.py:148-155). */
    def list(): Seq[RunRecord] =
      runs.values.toSeq.sortBy(_.startTime)(Ordering[Instant].reverse)

    /** DELETE /api/pipeline/runs (api.py:158-163). */
    def clear(): Int = { val n = runs.size; runs.clear(); n }
  }
}
