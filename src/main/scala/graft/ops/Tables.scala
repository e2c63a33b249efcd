package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, TimestampNTZType}

/** Loader for the driver testdata tables (`/root/repo/TESTDATA.md`).
  *
  * The parquet files carry nanosecond-precision INT64 timestamps (pandas
  * origin). Spark has no nanosecond TimestampType; sessions set
  * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[graft.Sessions]]) so
  * the scan yields LongType nanos, and this loader converts to micros
  * (`timestamp_micros(ns div 1000)`) — identical to the truncation DuckDB
  * applies when reading the same files, keeping oracle parity.
  */
object Tables {
  /** Columns that are nano-timestamps in the source data, per table. */
  private val tsColumns: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events" -> Seq("ts"))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    tsColumns.getOrElse(name, Seq.empty).foldLeft(df) { (d, c) =>
      d.schema.find(_.name == c) match {
        case Some(StructField(_, LongType, _, _)) =>
          // integer `div`, NOT `/`: double division would lose precision
          // above 2^53 (ns epochs are ~1.7e18)
          d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
        case Some(StructField(_, TimestampNTZType, _, _)) =>
          // micros NTZ (pandas origin): reinterpret as UTC instant —
          // session TZ is UTC so the wall-clock fields are preserved
          d.withColumn(c, col(c).cast("timestamp"))
        case _ => d // already a timestamp (or absent) — leave as is
      }
    }
  }

  /** Widen an unsplittable fixture scan to the session's cores. The
    * testdata parquet is ONE file with ONE row group, so every scan is a
    * single task — and for `documents`/`embeddings` the downstream work
    * is CPU-dense PER ROW (tokenization, shingle hashing, vector math),
    * which left the whole text/vector family serial on its map side
    * (t16's pass 2 measured as one 5.9 s single-task stage). This is the
    * published remedy for an unsplittable input (repartition immediately
    * after the read); the exchange moves the fixture's few MB once. At
    * scale a real corpus scans wide already (partitions >= cores), so
    * this is a no-op by construction — width tracks the data, not a
    * local constant. The relational tables (lineitem &c.) stay unwidened:
    * their consumers are IO-light aggregations where an always-on
    * exchange would cost more than the serial scan.
    */
  private def widen(spark: SparkSession, df: DataFrame,
                    dir: String, name: String): DataFrame =
    // width from ROW COUNT, not core count: widening 2,000 embedding
    // rows to 32 tasks puts ~60 rows per task and the per-task fixed
    // cost × 32 made the whole v-family SLOWER at 32 cores than at 8
    // (measured: the first widen cut of this round used the core count
    // and re-created exactly the anti-scaling it was fixing).
    graft.Sizing.widen(df, graft.Sizing.width(spark, rowsOf(spark, dir, name), graft.Sizing.ScanRows))

  /** Row count per (dir, table), memoized per JVM keyed by the parquet
    * file's (path, size, mtime) — one tiny count job on first touch,
    * driver-side metadata after (the nSuppCache discipline: path alone
    * is not a safe key across regenerated tmp fixtures).
    */
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[ops] def rowsOf(spark: SparkSession, dir: String, name: String): Long = {
    val p = java.nio.file.Paths.get(dir, s"$name.parquet")
    val fp = try {
      val a = java.nio.file.Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      s"$p#${a.size}#${a.lastModifiedTime.toMillis}"
    } catch { case _: Throwable => p.toString }
    rowCountCache.computeIfAbsent(fp, _ => load(spark, dir, name).count()).longValue()
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame =
    widen(spark, load(spark, dir, "documents"), dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    widen(spark, load(spark, dir, "embeddings"), dir, "embeddings")
}
