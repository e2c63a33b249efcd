package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** CSV ingestion with the reference's file/dir semantics.
  *
  * Reproduces `/root/reference/src/ingest.py:9-40` (tolerant directory scan:
  * hidden files skipped, unreadable files warned + skipped) and
  * `/root/reference/api.py:34-51` (strict variant: no hidden-file filter,
  * any bad file aborts). Multi-file ingestion unions **by column name** with
  * missing-column null fill, matching `pd.concat(..., ignore_index=True)`
  * (`/root/reference/src/ingest.py:36`).
  *
  * Scale notes: schema inference costs an extra pass over the data; callers
  * on large inputs should pass `schema` to skip it. The per-file driver loop
  * exists only to reproduce the reference's per-file fault tolerance and
  * union-by-name; each file is still read as a distributed scan. For a
  * homogeneous 100 TB directory use [[readCsvDirFast]], which issues ONE
  * multi-file scan (single source relation, partition-parallel, no
  * per-file plan nodes).
  */
object Ingest {
  private val log = LoggerFactory.getLogger(getClass)

  final class IngestException(msg: String) extends RuntimeException(msg)

  private def isCsv(name: String): Boolean = name.toLowerCase.endsWith(".csv")
  private def isHidden(name: String): Boolean = name.startsWith(".")

  private def readOne(spark: SparkSession, file: String,
                      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val base = spark.read.option("header", "true")
    val withSchema = schema match {
      case Some(s) => base.schema(s)
      case None    => base.option("inferSchema", "true")
    }
    // mode=FAILFAST surfaces malformed rows as errors, matching pandas'
    // ParserError behavior that the tolerant dir scan catches per file.
    withSchema.option("mode", "FAILFAST").csv(visible(file))
  }

  /** `file`, or for a hidden one a visible-name symlink to it in a temp
    * dir: Spark's FileIndex silently drops `.`/`_`-prefixed files even
    * when named explicitly, and the reference's strict variant (api.py:44)
    * reads them. Both go at JVM exit — the link is registered after its
    * dir because deleteOnExit runs last-registered first, and a dir that
    * still holds the link cannot be deleted. */
  private[etl] def visible(file: String): String = {
    val p = Paths.get(file)
    if (!isHidden(p.getFileName.toString)) file
    else {
      val d = Files.createTempDirectory("graft_hidden_csv")
      d.toFile.deleteOnExit()
      val link = Files.createSymbolicLink(d.resolve("unhidden.csv"), p.toAbsolutePath)
      link.toFile.deleteOnExit()
      link.toString
    }
  }

  /** Single-file read (ingest.py:12-21): non-CSV suffix is an error. */
  def readCsvFile(spark: SparkSession, path: String,
                  schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    if (!isCsv(path))
      throw new IngestException(s"Unsupported file type (expected .csv): $path")
    readOne(spark, path, schema)
  }

  /** Directory read. `strict=false` = tolerant (src/ingest.py:23-36):
    * skip hidden files, warn+skip unreadable files, error when none read.
    * `strict=true` = API variant (api.py:41-51): hidden files included,
    * first bad file aborts.
    *
    * Validation depth: by default each file is checked eagerly via header/
    * schema inference plus a one-row sample parse — a malformed row DEEPER
    * in a file surfaces at action time and fails the whole job, unlike the
    * reference's eager pandas parse which skips exactly that file. Pass
    * `fullValidation=true` for faithful per-file skip semantics (full
    * FAILFAST parse per file up front — one extra scan per file, the same
    * work pandas does anyway).
    */
  def readCsvDir(spark: SparkSession, dir: String, strict: Boolean = false,
                 schema: Option[org.apache.spark.sql.types.StructType] = None,
                 fullValidation: Boolean = false): DataFrame = {
    val p = Paths.get(dir)
    val entries = Files.list(p).iterator().asScala.toSeq
      .filter(Files.isRegularFile(_))
      .map(_.getFileName.toString)
      .filter(n => isCsv(n) && (strict || !isHidden(n)))
      .sorted
    if (entries.isEmpty)
      throw new IngestException(s"No CSV files found in directory: $dir")

    val frames = entries.flatMap { name =>
      val full = p.resolve(name).toString
      // Validate eagerly (schema + a bounded sample parse) so a corrupt
      // file is caught here, per file, instead of failing the whole job
      // mid-scan later. The returned frame stays lazy/distributed.
      Try {
        val df = readOne(spark, full, schema)
        df.schema // forces header/inference read
        // full FAILFAST parse: foreach materializes every column — a bare
        // count() would let column pruning skip parsing entirely
        if (fullValidation) df.foreach(_ => ())
        else if (schema.isEmpty) df.limit(1).collect() // bounded sanity parse
        df
      } match {
        case Success(df) => Some(df)
        case Failure(e) if !strict =>
          log.warn(s"Skipping unreadable CSV $full: ${e.getMessage}")
          None
        case Failure(e) =>
          throw new IngestException(s"Failed to read $full: ${e.getMessage}")
      }
    }
    if (frames.isEmpty)
      throw new IngestException(s"No readable CSV files in directory: $dir")
    unionByName(frames)
  }

  /** pd.concat(ignore_index=True) equivalence: align by column name, outer
    * union of columns, missing cells null (src/ingest.py:36).
    */
  def unionByName(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Path-kind dispatch (ingest.py:9-40): file vs dir vs missing. */
  def ingest(spark: SparkSession, path: String, strict: Boolean = false,
             schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val p = Paths.get(path)
    if (Files.isRegularFile(p)) readCsvFile(spark, path, schema)
    else if (Files.isDirectory(p)) readCsvDir(spark, path, strict, schema)
    else throw new IngestException(s"Path not found: $path")
  }

  /** Scale path: one multi-file scan for a homogeneous CSV directory.
    * Catalyst plans a single FileSourceScanExec over all matching files
    * (splits parallelized across executors); hidden files are excluded by
    * Spark's own `_`/`.` filter, and `pathGlobFilter` keeps only CSVs.
    */
  def readCsvDirFast(spark: SparkSession, dir: String,
                     schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("pathGlobFilter", "*.{csv,CSV}")
    (schema match {
      case Some(s) => base.schema(s)
      case None    => base.option("inferSchema", "true")
    }).csv(dir)
  }

  /** CSV file listing with sizes (api.py:249-272): name, path, size_bytes,
    * size_mb (2dp). Missing directory → empty list (no error).
    */
  def listCsvFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Paths.get(dir)
    val rows: Seq[(String, String, Long, Double)] =
      if (!Files.isDirectory(p)) Seq.empty
      else Files.list(p).iterator().asScala.toSeq
        .filter(Files.isRegularFile(_))
        .filter(f => isCsv(f.getFileName.toString))
        .sortBy(_.getFileName.toString)
        .map { f =>
          val sz = Files.size(f)
          (f.getFileName.toString, f.toString, sz,
           math.round(sz / 1048576.0 * 100) / 100.0)
        }
    rows.toDF("filename", "path", "size_bytes", "size_mb")
  }

  /** SCHEMA-EVOLUTION read: a parquet directory whose files were written
    * by different pipeline versions (columns added/dropped over time)
    * reads back under the UNION schema, absent columns null-padded —
    * `mergeSchema` makes Spark reconcile per-file footers instead of
    * trusting the first one. The option costs a footer read per file at
    * planning time (why it's off by default); turning it on here is the
    * correct trade for evolving landing zones, and column pruning /
    * predicate pushdown still apply per file.
    */
  def parquetMerged(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)
}
