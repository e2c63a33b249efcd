package graft.tools

import graft.{Harness, Sessions}
import java.nio.file.{Files, Paths}

/** Dump the formatted physical plans of the registry queries (every one,
  * or SPARK_GRAFT_ONLY's names) to one markdown file, `args(0)` (default
  * PLANS.md) — the artifact behind the scale claims (broadcasts, pushed
  * filters, partial aggregation, exchange counts) so plan shapes can be
  * reviewed without running anything. Exits 1 when any query failed to
  * plan, after the file is written.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val out = args.headOption.getOrElse("PLANS.md")
    val spark = Sessions.local("graft-plans")
    val plans = Harness.each("plans", spark) { (_, fn) =>
      fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        // bloom-filter literals print as megabytes of hex — squash runs
        // (the plan SHAPE is the evidence)
        .replaceAll("0x[0-9A-Fa-f]{64}[0-9A-Fa-f]*", "0x<bloom-literal-squashed>")
    }.toList
    val sections = plans.collect { case (name, Some(plan)) => s"\n## $name\n\n```\n$plan```\n" }
    Files.writeString(Paths.get(out),
      "# PLANS — formatted physical plans of the registry queries\n\n" +
      s"Generated by `graft.tools.DumpPlans` against `$sfDir`.\n" + sections.mkString)
    println(s"PLANS written to $out")
    spark.stop()
    val failed = plans.collect { case (name, None) => name }
    if (failed.nonEmpty) {
      System.err.println(s"[plans] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
