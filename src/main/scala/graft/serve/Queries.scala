package graft.serve

import graft.etl.Pipeline.PipelineConfig
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.file.{Files, Paths}
import scala.util.{Try, Using}

/** The serving queries of the reference's `api.py`: preview (L1) and
  * stats (A1+A3) of the table a pipeline run wrote, found by table name or
  * `db_path` (M1). The library and [[HttpApi]] serve through these same
  * calls; their defaults are [[PipelineConfig]]'s.
  *
  * Preview compiles to CollectLimitExec — Spark fetches at most `limit`
  * rows from the first non-empty partitions, never a full scan; count is
  * read from parquet footers on the driver ([[rowCount]]), else a
  * partial/final count aggregate with no row movement beyond one long per
  * partition. Both shapes are cluster-safe at any data size.
  */
object Queries {
  final class TableNotFound(dbPath: String)
      extends RuntimeException(s"Database not found: $dbPath")

  /** The serving table, found as api.py:174-187 finds it: a catalog table
    * or view named `table` first (managed-table loads), else the parquet
    * directory at `dbPath` (the analog of the reference's SQLite file).
    * Neither → [[TableNotFound]], the API's 404. The directory is read
    * under the schema [[footerSchema]] finds, so that no schema-read job
    * runs; where it finds none, Spark reads the schema, which is a job. */
  private def resolve(spark: SparkSession, table: String, dbPath: String): DataFrame =
    if (spark.catalog.tableExists(table)) spark.table(table)
    else if (Files.exists(Paths.get(dbPath)))
      footerSchema(spark, dbPath).fold(spark.read.parquet(dbPath))(spark.read.schema(_).parquet(dbPath))
    else throw new TableNotFound(dbPath)

  /** The schema Spark would infer for the parquet directory `dir`, read
    * from one footer on the driver, when `dir` is what `Pipeline.run`
    * writes: a plain directory of 1 to
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` data files
    * (names starting with `_` or `.` are not data, as for Spark) and no
    * subdirectory that could hold partitions, whose first file's footer
    * holds the schema Spark wrote it with. Spark's own read of that
    * schema (`mergeSchemasInParallel`) is a job even for one footer, and
    * it waits for a task slot behind a pipeline run. Anything else is
    * None, and Spark reads the schema itself. */
  private[serve] def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val state = spark.asInstanceOf[ClassicSession].sessionState
    val conf = state.newHadoopConf()
    val path = new Path(dir)
    val entries = path.getFileSystem(conf).listStatus(path).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
    if (entries.isEmpty || entries.exists(_.isDirectory) ||
        entries.size > state.conf.parallelPartitionDiscoveryThreshold) None
    else {
      val first = entries.minBy(_.getPath.getName).getPath
      val footer = Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(first, conf)))(_.getFileMetaData)
      Option(footer.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .flatMap(json => Try(DataType.fromJson(json)).toOption)
        .collect { case s: StructType => s }
    }
  }

  /** L1: SELECT * FROM t LIMIT n (api.py:189-198), default 10.
    *
    * A non-positive limit is rejected before any Spark work — deliberate
    * HARDENING over the reference, not parity: api.py:170's plain
    * `limit: int = 10` has no ge=1 constraint, so the reference returns
    * 200/empty for limit=0, ALL rows for negative limits (SQLite
    * `LIMIT -1`), and 422 for non-integers. Here such a limit is an
    * `IllegalArgumentException` (→ HTTP 400 via HttpApi). */
  def preview(spark: SparkSession, table: String, limit: Int = 10,
              dbPath: String = PipelineConfig().outputPath): DataFrame = {
    require(limit >= 1, s"limit must be >= 1, got $limit")
    resolve(spark, table, dbPath).limit(limit)
  }

  /** A1+A3: {total_records, columns_count, columns} (api.py:227-242). */
  final case class TableStats(totalRecords: Long, columnsCount: Int,
                              columns: Seq[String], tableName: String)
  def stats(spark: SparkSession, table: String,
            dbPath: String = PipelineConfig().outputPath): TableStats = {
    val df = resolve(spark, table, dbPath)
    TableStats(rowCount(df), df.schema.size, df.schema.fieldNames.toSeq, table)
  }

  /** `df.count()`, except that a bare scan of parquet files is counted from
    * the files' footers on the driver. A footer holds its file's row count,
    * so no Spark job runs: a stats read then never waits for task slots,
    * which a pipeline run beside it (`Runs`) can hold all of. Past Spark's
    * own limit for driver-side file work
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, 32 files)
    * the count stays a distributed job. */
  def rowCount(df: DataFrame): Long = {
    val state = df.asInstanceOf[ClassicDataset[_]].sparkSession.sessionState
    df.queryExecution.optimizedPlan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.location.inputFiles.length <= state.conf.parallelPartitionDiscoveryThreshold =>
        val conf = state.newHadoopConf()
        fs.location.inputFiles.iterator.map { f =>
          Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf)))(_.getRecordCount)
        }.sum
      case _ => df.count()
    }
  }

  /** Stats as a one-row DataFrame (oracle-friendly shape). */
  def statsDf(spark: SparkSession, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("total_records"),
           lit(df.schema.size).cast("long").as("columns_count"))
}
