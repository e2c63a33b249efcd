package graft.etl

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructType}
import org.slf4j.LoggerFactory

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.Locale
import scala.collection.mutable.ArrayBuffer
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
  * Scale notes: schema inference and the per-file checks are ONE job over
  * ONE text scan of every file (see [[inferAndCheck]]), so the driver plans
  * one scan however many files there are, and Spark packs small files into
  * shared tasks and splits large ones. The frame itself is still one
  * distributed scan per file under that file's own schema, which keeps the
  * reference's per-file dtypes, fault tolerance, union-by-name and file
  * order: a directory of many files plans one scan node per file in the
  * job that reads the frame.
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
    * aborts the read naming it.
    *
    * A column that holds words in one file and infers another type in
    * another is read as string in every file: pandas' concat makes such a
    * column an object column, where Spark's union would widen it to a
    * number and fail on the words. A file with no values in the column
    * does not count, as pandas leaves an empty frame out of the dtype. */
  private[etl] def readFiles(spark: SparkSession, files: Seq[String], strict: Boolean): Seq[DataFrame] = {
    val paths = files.map(visible)
    val inferred = inferAndCheck(spark, paths)
    val name: String => String =
      if (spark.asInstanceOf[ClassicSession].sessionState.conf.caseSensitiveAnalysis) identity else _.toLowerCase(Locale.ROOT)
    val words = inferred.flatMap(_.toOption).flatMap(_.words).map(name).toSet
    files.zip(paths).zip(inferred).flatMap {
      case ((_, path), Right(i)) =>
        val schema = StructType(i.schema.map(f => if (words(name(f.name))) f.copy(dataType = StringType) else f))
        Some(readOne(spark, path, schema))
      case ((file, _), Left(why)) if !strict =>
        log.warn(s"Skipping unreadable CSV $file: $why")
        None
      case ((file, _), Left(why)) =>
        throw new IngestException(s"Failed to read $file: $why")
    }
  }

  /** A file's inferred schema, and the columns whose values inferred as
    * string (a column with no values reads as string too, but holds none). */
  private final case class Inferred(schema: StructType, words: Seq[String])

  /** What the inference job needs of one file: its index among the files,
    * its header line and the header's field count. */
  private final case class Head(file: Int, line: String, width: Int)

  /** What the inference job saw of one run of a file's lines (one split,
    * starting at byte `start`): the types its rows infer, why its first
    * rejected row is rejected (if one is), and any parse error. An
    * `aborted` slice names no file: its task's scan failed, and the task
    * read nothing after the failure. */
  private final case class Slice(file: Int, start: Long, types: Array[DataType],
                                 badRow: Option[String], error: Option[String], aborted: Boolean = false)

  /** Every file's schema, inferred per file exactly as Spark's
    * `TextInputCSVDataSource.inferFromDataset` infers it, with the same
    * `CSVUtils`/`CSVInferSchema` functions — Spark internals, not a stable
    * API; IngestSpec pins the result against Spark's own inference — or
    * why the file is rejected: a read error, or a data row whose field
    * count differs from the header's.
    *
    * The header lines are read on the driver. Everything else is ONE job
    * over ONE text scan of every file that has a header, where Spark's own
    * inference runs two jobs per file. A scan partition may hold several
    * small files or one split of a large one; each row carries its file's
    * path and split start, and each task checks and infers every run of
    * one split under that file's own header (`scanRuns`). The driver
    * folds each file's slices in split order, so the types and the first
    * rejected row are those of a per-file read. An error of the scan
    * itself (not of a row) cannot be tied to a file inside a task, so
    * the files are then inferred again one scan each, which ties it to
    * its file. */
  private def inferAndCheck(spark: SparkSession, paths: Seq[String]): Seq[Either[String, Inferred]] = {
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
    // keyed by qualified path, as the scan names its files
    val heads = headers.zipWithIndex.collect { case (Right(Some((line, names))), i) =>
      val p = new HadoopPath(paths(i))
      p.getFileSystem(hadoopConf).makeQualified(p) -> Head(i, line, names.length)
    }.toMap
    val scanned = if (heads.isEmpty) Array.empty[Slice] else
      SQLExecution.withSQLConfPropagated(session)(scanJob(spark, heads, paths, opts).collect())
    scanned.find(_.aborted) match {
      case Some(failed) if paths.size == 1 => Seq(Left(failed.error.get))
      case Some(_) => paths.flatMap(p => inferAndCheck(spark, Seq(p)))
      case None =>
        val slices = scanned.toSeq.groupBy(_.file).map { case (f, s) => f -> s.sortBy(_.start) }
        val infer = new CSVInferSchema(opts)
        headers.zipWithIndex.map {
          case (Left(error), _) => Left(error)
          case (Right(None), _) => Right(Inferred(new StructType(), Nil)) // no header: no columns
          case (Right(Some((_, header))), i) =>
            val seen = slices.getOrElse(i, Nil)
            seen.flatMap(s => s.error.orElse(s.badRow)).headOption.map(Left(_)).getOrElse {
              val types = seen.map(_.types).foldLeft(Array.fill[DataType](header.length)(NullType))(infer.mergeRowTypes)
              Right(Inferred(StructType(infer.toStructFields(types, header)),
                header.zip(types).collect { case (n, StringType) => n }.toSeq))
            }
        }
    }
  }

  /** The tasks of [[inferAndCheck]]: one text scan of the files `heads`
    * names (keyed by qualified path), one [[Slice]] per run of a split. A
    * method of its own, so the task closure captures only its arguments (a
    * closure inside a pattern-matching function would capture the session
    * along with it). */
  private def scanJob(spark: SparkSession, heads: Map[HadoopPath, Head], paths: Seq[String],
                      opts: CSVOptions): RDD[Slice] = {
    // Past the discovery threshold Spark would list the files in a job of
    // its own; the frame's per-file reads list each of them on the driver
    // anyway, so the scan lists them there too.
    val text = graft.Sessions.withConf(spark, SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key -> Int.MaxValue.toString)(
      spark.read.text(heads.values.toSeq.sortBy(_.file).map(h => paths(h.file)): _*))
    text.select(col("value"), col("_metadata.file_path"), col("_metadata.file_block_start"))
      .rdd.mapPartitions(rows => scanRuns(rows, heads, opts))
  }

  /** One task of [[inferAndCheck]]: `rows` are (line, file path, split
    * start), each split's lines together and in order. Each run of one
    * split is scanned under its file's header. An error of the scan itself
    * ends the task with an aborted [[Slice]]: the task cannot tell which
    * file failed, nor read the files after it. */
  private def scanRuns(rows: Iterator[Row], heads: Map[HadoopPath, Head], opts: CSVOptions): Iterator[Slice] = {
    var failure = Option.empty[Throwable]
    var ahead = Option.empty[Row] // the next row; None at the end, or once the scan failed
    def advance(): Unit =
      ahead = try if (rows.hasNext) Some(rows.next()) else None
              catch { case NonFatal(e) => failure = Some(e); None }
    advance()
    val out = ArrayBuffer.empty[Slice]
    while (ahead.isDefined) {
      val (path, start) = (ahead.get.getString(1), ahead.get.getLong(2))
      val run = new Iterator[String] {
        def hasNext: Boolean = ahead.exists(r => r.getLong(2) == start && r.getString(1) == path)
        def next(): String = { val line = ahead.get.getString(0); advance(); line }
      }
      out += scanSlice(heads(new HadoopPath(new URI(path))), start, run, opts)
    }
    failure.foreach(e => out += Slice(-1, -1, Array.empty, None, Some(e.toString), aborted = true))
    out.iterator
  }

  /** Every data row of `lines`, one split of `head`'s file, is checked
    * against the header's width (a mismatch is what a FAILFAST parse
    * rejects) and its types are inferred. A parse error is caught here so
    * it stays tied to its file; `lines` is read to its end either way. */
  private def scanSlice(head: Head, start: Long, lines: Iterator[String], opts: CSVOptions): Slice = {
    val tokenizer = new CsvParser(opts.asParserSettings)
    val infer = new CSVInferSchema(opts)
    var types = Array.fill[DataType](head.width)(NullType)
    var badRow = Option.empty[String]
    var error = Option.empty[String]
    CSVUtils.filterHeaderLine(CSVUtils.filterCommentAndEmpty(lines, opts), head.line, opts).foreach { line =>
      if (error.isEmpty) try {
        val tokens = tokenizer.parseLine(line)
        if (badRow.isEmpty && tokens.length != head.width)
          badRow = Some(s"a data row has ${tokens.length} fields, header has ${head.width}")
        types = infer.inferRowType(types, tokens)
      } catch { case NonFatal(e) => error = Some(e.toString) }
    }
    Slice(head.file, start, types, badRow, error)
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
