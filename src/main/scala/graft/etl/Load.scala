package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import java.io.IOException
import java.util.UUID
import scala.util.Try
import scala.util.control.NonFatal

/** Sinks. The reference's load is a SQLite full-replace
  * (`/root/reference/src/load.py:5-8`): drop+recreate table, schema from
  * dtypes, no index column, column names (incl. spaces) preserved.
  *
  * No sqlite JDBC driver ships with Spark, so the sink is a parquet
  * directory ([[replaceParquet]]) with the same contract: replace
  * semantics, typed columns, verbatim column names. The serving queries
  * find it by that path (`serve.Queries`).
  *
  * Scale: the parquet writer emits one file per partition in parallel — at
  * 100 TB this is the only sink shape that works; the reference's
  * row-by-row INSERT loop (`pandas.to_sql`) is replaced by distributed
  * columnar parquet with stats for downstream scan pruning.
  */
object Load {
  /** K1: replace a parquet directory "table" (load.py:7
    * `if_exists='replace'`). The frame is written to a hidden sibling
    * first and swapped in by rename only once the write has succeeded, so
    * a write that fails (a row that fails its cast, a full disk) leaves
    * the old table as it was — like the reference, whose eager parse
    * raises before `to_sql(replace)` drops anything. A plain Overwrite
    * deletes the old files before its job runs. */
  def replaceParquet(df: DataFrame, path: String): Unit =
    replaceDir(df, path)(df.write.parquet(_))

  /** The staged swap behind every directory replace here: `write` fills a
    * hidden sibling of `path`, which is renamed over `path` only after
    * `write` returns. */
  private def replaceDir(df: DataFrame, path: String)(write: String => Unit): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val dest = fs.makeQualified(target)
    def sibling(kind: String) = new Path(dest.getParent, s".${dest.getName}.$kind-${UUID.randomUUID()}")
    val staged = sibling("staged")
    try write(staged.toString)
    catch { case NonFatal(e) => Try(fs.delete(staged, true)); throw e }
    SwapLock.synchronized {
      val old = sibling("replaced")
      if (fs.exists(dest) && !fs.rename(dest, old))
        throw new IOException(s"could not move $dest aside to replace it")
      if (!fs.rename(staged, dest)) {
        if (fs.exists(old)) fs.rename(old, dest)
        Try(fs.delete(staged, true))
        throw new IOException(s"could not move the new table into $dest")
      }
      fs.delete(old, true)
    }
  }

  /** Serializes the renames of [[replaceDir]]s in this JVM, so two
    * loads of the same path cannot interleave them. */
  private object SwapLock

  /** Keyed upsert (MERGE): rows of `updates` replace same-key rows of
    * `base`; unmatched base rows survive; new keys insert. Both sides
    * must share a schema (column set of `base`). One anti-join shuffle on
    * the key — when the update batch is small (the daily-delta shape)
    * AQE broadcasts it and base never shuffles; with a partitioned base
    * table, pair with dynamic partition overwrite so only touched
    * partitions rewrite.
    *
    * Preconditions (the SQL MERGE contract this mirrors): `updates` must
    * carry at most ONE row per key — multiple rows for the same key all
    * survive here, where MERGE would raise a cardinality error; dedupe
    * upstream if the batch can contain key repeats. Null keys never
    * match (the anti-join uses null-rejecting equality), so a null-key
    * base row always survives alongside any null-key update rows; treat
    * null keys as insert-only or filter them before calling.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    base.join(updates.select(keys.map(org.apache.spark.sql.functions.col): _*),
        keys, "left_anti")
      .unionByName(updates.select(base.columns.map(org.apache.spark.sql.functions.col): _*))
  }

  /** Partitioned replace-load: directory-partitioned parquet so filters on
    * the partition columns prune whole directories at planning time —
    * `WHERE event_type = 'click'` reads 1/n of a 100 TB table without
    * touching the rest (shows as PartitionFilters in the scan).
    */
  def replaceParquetPartitioned(df: DataFrame, path: String,
                                partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty)
    replaceDir(df, path)(df.write.partitionBy(partitionCols: _*).parquet(_))
  }

  /** Z-ordered replace-load: multi-dimensional clustering (`OPTIMIZE
    * ZORDER BY` semantics) for fact tables scanned on MORE THAN ONE key.
    * Each key is rescaled to a 16-bit bin against its broadcast global
    * min/max, the bins bit-interleave into a morton z-value
    * ([[graft.functions.ZOrder64]]), and the table is range-partitioned
    * and sorted by that z-value into `nFiles` files. Per-file parquet
    * min/max footers then stay tight on BOTH columns — a two-sided
    * range predicate skips most files, where a single-column sort keeps
    * the second dimension's footer spanning the full domain (the
    * difference `ZOrderSpec` asserts). One extents aggregation + one
    * range shuffle; no all-pairs, no driver data.
    */
  def replaceZOrdered(df: DataFrame, path: String, c1: String, c2: String,
                      nFiles: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    require(nFiles > 0, "nFiles must be positive")
    val mm = df.agg(
      min(col(c1)).cast("double").as("__min1"), max(col(c1)).cast("double").as("__max1"),
      min(col(c2)).cast("double").as("__min2"), max(col(c2)).cast("double").as("__max2"))
    def bin16(v: String, mn: String, mx: String) =
      when(col(mx) > col(mn),
        least(floor((col(v).cast("double") - col(mn)) * 65535.0 / (col(mx) - col(mn))), lit(65535.0)))
        .otherwise(lit(0.0)).cast("long")
    val zordered = df.crossJoin(broadcast(mm))
      .withColumn("__z", call_function("zorder64",
        bin16(c1, "__min1", "__max1"), bin16(c2, "__min2", "__max2")))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__min1", "__max1", "__min2", "__max2", "__z")
    replaceDir(df, path)(zordered.write.parquet(_))
  }

  /** Bucketed replace-load: pre-shuffles the table into `buckets` hash
    * buckets on `keys` so subsequent equi-joins/aggregations on those keys
    * read co-located data with NO shuffle — the write-once-join-many
    * layout for 100 TB fact tables. (Bucketing requires a managed table;
    * plain parquet paths cannot carry the bucket spec.)
    */
  def replaceTableBucketed(df: DataFrame, table: String,
                           buckets: Int, keys: Seq[String]): Unit = {
    require(keys.nonEmpty && buckets > 0)
    // qualified names (db.tbl) would make the fallback path below wrong
    // (<warehouse>/<db.tbl> instead of <warehouse>/<db>.db/<tbl>) and the
    // blind delete dangerous — restrict to the default-database case
    require(!table.contains("."),
      s"replaceTableBucketed takes an unqualified default-database name, got '$table'")
    val spark = df.sparkSession
    // resolve the REAL location from the catalog while the entry exists —
    // a table created with a custom LOCATION does not live under the
    // warehouse dir, and deleting <warehouse>/<name> could hit an
    // unrelated directory of the same name
    val catalogLoc =
      if (spark.catalog.tableExists(table))
        Some(new org.apache.hadoop.fs.Path(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table)).location))
      else None
    spark.sql(s"DROP TABLE IF EXISTS ${quote(table)}")
    // the session catalog is in-memory: a previous JVM's warehouse dir
    // survives while its table entry doesn't, and a stale location blocks
    // CREATE — clear it through the table's filesystem (warehouse may be
    // object storage, not the local disk). When the catalog had no entry,
    // the default-database warehouse path is the only possible leftover.
    val loc = catalogLoc.getOrElse(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase))
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    // Align the write partitioning with the bucket function BEFORE the
    // write: repartition(buckets, keys) is the same murmur3-pmod
    // assignment the bucketed writer applies per row, so each write task
    // holds exactly one bucket — `buckets`-way parallel sort+encode and
    // one file per bucket, instead of every input task sorting the whole
    // key range and emitting a file per (task, bucket) pair. Table
    // content and bucket spec are unchanged.
    df.repartition(buckets, keys.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(quote(table))
  }

  /** Size-targeted compaction write — the small-files killer: a pipeline
    * stage that ends in thousands of KB-scale parquet parts poisons every
    * downstream scan (one task + one footer read per file). Sizes the
    * output file count from Catalyst plan statistics (driver-side, no
    * job: `sizeInBytes` of the optimized plan ≈ uncompressed bytes),
    * targets `targetBytes` of INPUT data per file, and repartitions —
    * round-robin when no keys are given (even files), hash on `keys`
    * when downstream reads filter/join on them. Returns the file count
    * chosen. Parquet compression means actual files land under the
    * target; the knob controls task granularity, which is what matters.
    */
  def compactTo(df: DataFrame, path: String,
                targetBytes: Long = 128L << 20,
                keys: Seq[String] = Seq.empty): Int = {
    require(targetBytes > 0)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = ((bytes + targetBytes - 1) / BigInt(targetBytes)).toInt.max(1)
    val shaped =
      if (keys.isEmpty) df.repartition(files)
      else df.repartition(files, keys.map(org.apache.spark.sql.functions.col): _*)
    replaceDir(df, path)(shaped.write.parquet(_))
    files
  }

  /** K3: header CSV write. `singleFile=true` produces ONE plain `.csv`
    * FILE at `path` like `to_csv(index=False)` (api.py:606) — Spark's csv
    * writer always emits a directory of part files, so the single part is
    * staged and moved; only for small outputs. Large frames keep their
    * partitioning (omit singleFile → directory of parts).
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    if (!singleFile) {
      replaceDir(df, path)(df.write.option("header", "true").csv(_))
    } else {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import scala.jdk.CollectionConverters._
      val stage = Paths.get(path + "__stage")
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".csv"))
        .getOrElse(sys.error(s"no csv part written under $stage"))
      Files.move(part, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
      val walk = Files.walk(stage)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  private def quote(t: String): String =
    if (t.matches("[A-Za-z0-9_.]+")) t else s"`$t`"
}
