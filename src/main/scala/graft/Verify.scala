package graft
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. SPARK_GRAFT_ONLY
  * narrows the queries run. Exits 1 when any query failed, after
  * oracle_sql.json is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Sessions.local("graft-verify")
    val failed = dump(spark, sfDir, outDir, Harness.selected())
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
    // SPARK_GRAFT_ONLY narrows which queries RUN; the oracle dump is always
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
                          queries: Seq[(String, Harness.Query)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    Harness.each("verify", spark, queries) { (name, fn) =>
      // Remove any previous run's output FIRST: a failed query must leave
      // no parquet behind, or the oracle compare would silently certify
      // stale results from an earlier (passing) run.
      FileUtils.deleteQuietly(Paths.get(outDir, name).toFile)
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.collect { case (name, None) => name }.toList
  }
}
