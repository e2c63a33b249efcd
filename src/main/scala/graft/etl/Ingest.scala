package graft.etl

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{DataType, NullType, StructType}
import org.slf4j.LoggerFactory

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

/** CSV ingestion with the reference's file/dir semantics.
  *
  * Reproduces `/root/reference/src/ingest.py:9-40` (tolerant directory scan:
  * hidden files skipped, unreadable files warned + skipped) and
  * `/root/reference/api.py:34-51` (strict variant: no hidden-file filter,
  * any bad file aborts). Multi-file ingestion unions **by column name** with
  * missing-column null fill, matching `pd.concat(..., ignore_index=True)`
  * (`/root/reference/src/ingest.py:36`).
  *
  * Scale notes: schema inference and the per-file checks share ONE job over
  * every file's lines (see [[inferAndCheck]]). Each file is then read as
  * its own distributed scan under its own inferred schema, only to
  * reproduce the reference's per-file dtypes, fault tolerance and
  * union-by-name: a directory of many files plans one scan node per file.
  */
object Ingest {
  private val log = LoggerFactory.getLogger(getClass)

  final class IngestException(msg: String) extends RuntimeException(msg)

  private def isCsv(name: String): Boolean = name.toLowerCase.endsWith(".csv")
  private def isHidden(name: String): Boolean = name.startsWith(".")

  private val ReadOptions = Map("header" -> "true", "inferSchema" -> "true", "mode" -> "FAILFAST")

  /** A read of `path` (already [[visible]]) under `schema`. */
  private def readOne(spark: SparkSession, path: String, schema: StructType): DataFrame =
    // mode=FAILFAST surfaces malformed rows as errors, matching pandas'
    // ParserError behavior that the tolerant dir scan catches per file.
    spark.read.options(ReadOptions).schema(schema).csv(path)

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

  /** Single-file read (ingest.py:12-21): non-CSV suffix is an error, and
    * so is a file that fails the checks of [[readCsvDir]]. */
  def readCsvFile(spark: SparkSession, path: String): DataFrame = {
    if (!isCsv(path))
      throw new IngestException(s"Unsupported file type (expected .csv): $path")
    readFiles(spark, Seq(path), strict = true).head
  }

  /** Directory read. `strict=false` = tolerant (src/ingest.py:23-36):
    * skip hidden files, warn+skip unreadable files, error when none read.
    * `strict=true` = API variant (api.py:41-51): hidden files included,
    * first bad file aborts.
    *
    * Validation: a file is rejected when it cannot be read or when any
    * data row's field count differs from its header's: the row a FAILFAST
    * parse would reject when the frame is read. The reference's eager
    * pandas parse likewise skips a file with an over-long row (a short one
    * it pads with NaN). The check reads every row, in the same single job
    * as schema inference.
    */
  def readCsvDir(spark: SparkSession, dir: String, strict: Boolean = false): DataFrame = {
    val p = Paths.get(dir)
    val entries = Files.list(p).iterator().asScala.toSeq
      .filter(Files.isRegularFile(_))
      .map(_.getFileName.toString)
      .filter(n => isCsv(n) && (strict || !isHidden(n)))
      .sorted
    if (entries.isEmpty)
      throw new IngestException(s"No CSV files found in directory: $dir")
    val frames = readFiles(spark, entries.map(p.resolve(_).toString), strict)
    if (frames.isEmpty)
      throw new IngestException(s"No readable CSV files in directory: $dir")
    unionByName(frames)
  }

  /** One lazy frame per readable file, in order. A file that fails
    * [[inferAndCheck]] is warned about and skipped, or with `strict`
    * aborts the read naming it. */
  private def readFiles(spark: SparkSession, files: Seq[String], strict: Boolean): Seq[DataFrame] = {
    val paths = files.map(visible)
    files.zip(paths).zip(inferAndCheck(spark, paths)).flatMap {
      case ((_, path), Right(s)) => Some(readOne(spark, path, s))
      case ((file, _), Left(why)) if !strict =>
        log.warn(s"Skipping unreadable CSV $file: $why")
        None
      case ((file, _), Left(why)) =>
        throw new IngestException(s"Failed to read $file: $why")
    }
  }

  /** What one task of the inference job saw of its slice of one file:
    * the types its rows infer, why its first rejected row is rejected
    * (if one is), and any read error. */
  private final case class Slice(file: Int, types: Array[DataType],
                                 badRow: Option[String], error: Option[String])

  /** Every file's schema, inferred per file exactly as Spark's
    * `TextInputCSVDataSource.inferFromDataset` infers it, with the same
    * `CSVUtils`/`CSVInferSchema` functions — Spark internals, not a stable
    * API; IngestSpec pins the result against Spark's own inference — or
    * why the file is rejected: a read error, or a data row whose field
    * count differs from the header's. The header lines are
    * read on the driver; everything else is ONE job over the union of the
    * files' lines, where Spark's own inference runs two jobs per file. */
  private def inferAndCheck(spark: SparkSession, paths: Seq[String]): Seq[Either[String, StructType]] = {
    val session = spark.asInstanceOf[ClassicSession]
    val conf = session.sessionState.conf
    val opts = new CSVOptions(ReadOptions, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val hadoopConf = session.sessionState.newHadoopConf()
    // each file's header line and the column names Spark makes of it
    val headers: Seq[Either[String, Option[(String, Array[String])]]] = paths.map { p =>
      Try(CSVUtils.readHeaderLine(new HadoopPath(p), opts, hadoopConf).map { line =>
        line -> CSVUtils.makeSafeHeader(new CsvParser(opts.asParserSettings).parseLine(line),
          conf.caseSensitiveAnalysis, opts)
      }).toEither.left.map(_.toString)
    }
    val lines = headers.zipWithIndex.collect { case (Right(Some((line, names))), i) =>
      sliceJob(spark, paths(i), i, line, names.length, opts)
    }
    val slices = if (lines.isEmpty) Map.empty[Int, Seq[Slice]] else
      SQLExecution.withSQLConfPropagated(session)(spark.sparkContext.union(lines).collect()).toSeq.groupBy(_.file)
    val infer = new CSVInferSchema(opts)
    headers.zipWithIndex.map {
      case (Left(error), _) => Left(error)
      case (Right(None), _) => Right(new StructType()) // no header: no columns
      case (Right(Some((_, header))), i) =>
        val seen = slices.getOrElse(i, Nil)
        seen.flatMap(s => s.error.orElse(s.badRow)).headOption.map(Left(_))
          .getOrElse(Right(StructType(infer.toStructFields(
            seen.map(_.types).foldLeft(Array.fill[DataType](header.length)(NullType))(infer.mergeRowTypes),
            header))))
    }
  }

  /** The tasks of [[inferAndCheck]] for file `file` at `path`, one [[Slice]]
    * per split. A method of its own, so the task closure captures only its
    * arguments (a closure inside a pattern-matching function would capture
    * the session along with it). */
  private def sliceJob(spark: SparkSession, path: String, file: Int, header: String, width: Int,
                       opts: CSVOptions): RDD[Slice] =
    spark.read.text(path).rdd
      .mapPartitions(rows => Iterator(scanSlice(file, header, width, rows.map(_.getString(0)), opts)))

  /** One task of [[inferAndCheck]]: `lines` are one split of file `file`.
    * Every data row's field count is checked against the header's `width`
    * (a mismatch is what a FAILFAST parse rejects) and its types are
    * inferred. Errors are caught here so they stay tied to their file
    * instead of failing the job. */
  private def scanSlice(file: Int, header: String, width: Int, lines: Iterator[String],
                        opts: CSVOptions): Slice = {
    val tokenizer = new CsvParser(opts.asParserSettings)
    val infer = new CSVInferSchema(opts)
    var types = Array.fill[DataType](width)(NullType)
    var badRow = Option.empty[String]
    val error = try {
      CSVUtils.filterHeaderLine(CSVUtils.filterCommentAndEmpty(lines, opts), header, opts).foreach { line =>
        val tokens = tokenizer.parseLine(line)
        if (badRow.isEmpty && tokens.length != width)
          badRow = Some(s"a data row has ${tokens.length} fields, header has $width")
        types = infer.inferRowType(types, tokens)
      }
      None
    } catch { case NonFatal(e) => Some(e.toString) }
    Slice(file, types, badRow, error)
  }

  /** pd.concat(ignore_index=True) equivalence: align by column name, outer
    * union of columns, missing cells null (src/ingest.py:36).
    */
  def unionByName(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Path-kind dispatch (ingest.py:9-40): file vs dir vs missing. */
  def ingest(spark: SparkSession, path: String, strict: Boolean = false): DataFrame = {
    val p = Paths.get(path)
    if (Files.isRegularFile(p)) readCsvFile(spark, path)
    else if (Files.isDirectory(p)) readCsvDir(spark, path, strict)
    else throw new IngestException(s"Path not found: $path")
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
