package graft
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1 when
  * any query failed, after oracle_sql.json is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local dev only): comma-separated query names to run
    val only = args.lift(2).map(_.split(',').toSet)
    def keep(name: String) = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-verify"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // sorted-name order, matching Bench: stable under surface growth
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => keep(kv._1)))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The subset arg narrows which queries RUN; the oracle dump is always
    // the FULL map, so a local subset re-run into an existing out dir
    // never clobbers the complete oracle_sql.json the selfcheck reads.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Write each query's result as parquet under `outDir/<name>`, in the
    * given order; returns the names of the queries that threw. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
                          queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      // Remove any previous run's output FIRST: a failed query must leave
      // no parquet behind, or the oracle compare would silently certify
      // stale results from an earlier (passing) run.
      FileUtils.deleteQuietly(Paths.get(outDir, name).toFile)
      val failure =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // drop the query's leaked loop-checkpoint blocks (same hygiene as
      // graft.Bench): the result is fully written, so nothing downstream
      // reads them, and the sweep stops accumulating block-manager state
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
      failure
    }
  }
}
