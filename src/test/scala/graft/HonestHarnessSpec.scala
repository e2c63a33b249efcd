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
}
