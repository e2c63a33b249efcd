package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** A query that throws is never timed by [[Bench]] and never certified by
  * [[Verify]]: it is listed as failed, kept out of the times and the
  * total, and leaves no result behind. */
class HonestHarnessSpec extends SparkSpec {

  test("Bench: a failed query has no time, no place in queries or total, and is listed as failed") {
    assert(Bench.time("boom")(throw new RuntimeException("boom")).isEmpty)
    assert(Bench.time("ok")(spark.range(10).count()).exists(_ >= 0.0))
    val (json, total) = Bench.queriesJson(Seq("a" -> Some(1.5), "b" -> None, "c" -> Some(0.25)))
    assert(json == """"queries":{"a":1.500,"c":0.250},"failed":["b"]""")
    assert(total == 1.75)
    assert(Bench.queriesJson(Seq("a" -> Some(1.0)))._1.endsWith(""""failed":[]"""))
  }

  test("Verify: a failed query is reported and leaves no stale result behind") {
    val out = tmpDir("verify_dump").toString
    val stale = Paths.get(out, "bad", "part-0.parquet")
    Files.createDirectories(stale.getParent)
    Files.writeString(stale, "from an earlier passing run")
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "bad" -> ((_, _) => throw new RuntimeException("boom")),
      "good" -> ((s, _) => s.range(3).toDF()))
    assert(Verify.dump(spark, sfDir, out, queries) == Seq("bad"))
    assert(!Files.exists(Paths.get(out, "bad")))
    assert(spark.read.parquet(s"$out/good").count() == 3)
  }

  test("the run loop drops a query's loop checkpoints and leaves the log level as it was") {
    val loggers = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    def rddLevel = loggers.getLogger("org.apache.spark.rdd.MapPartitionsRDD").getLevel
    val levelBefore = rddLevel
    var during = 0
    val queries: Seq[(String, Harness.Query)] = Seq("loop" -> { (s, _) =>
      val df = graft.ops.Iterate.materialize(s.range(100).toDF())
      during = s.sparkContext.getPersistentRDDs.size
      df
    })
    val results = Harness.each("test", spark, queries)((_, fn) => fn(spark, sfDir).count()).toList
    assert(results == List("loop" -> Some(100L)))
    assert(during > 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(rddLevel == levelBefore)
  }

  test("the run loop's query set: all in name order, a subset, or an error for an unknown name") {
    val all = Harness.selected(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(Harness.selected(Some("w1_top_orders,q1_pricing")).map(_._1) == Seq("q1_pricing", "w1_top_orders"))
    val e = intercept[IllegalArgumentException](Harness.selected(Some("q1_pricing,q1_pricnig")))
    assert(e.getMessage.contains("q1_pricnig"))
  }
}
