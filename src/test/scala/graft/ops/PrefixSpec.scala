package graft.ops

import graft.{Sessions, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** [[Prefix.sums]] against a driver-side `scanLeft` over the same rows. */
class PrefixSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** (id, grp, a, b) rows; ids unique, so (grp, id) is a total order. */
  private val base = (1L to 200L).map(i => (i, s"g${i % 3}", 10L + i % 7, i % 5))

  /** Per row id: (a_cum, a_total, b_cum, b_total) by a scan in (grp, id) order. */
  private def expected(rows: Seq[(Long, String, Long, Long)], byGroup: Boolean) =
    rows.groupBy(r => if (byGroup) r._2 else "").values.flatMap { g =>
      val s = g.sortBy(_._1)
      val ca = s.map(_._3).scanLeft(0L)(_ + _).tail
      val cb = s.map(_._4).scanLeft(0L)(_ + _).tail
      s.indices.map(i => s(i)._1 -> (ca(i), s.map(_._3).sum, cb(i), s.map(_._4).sum))
    }.toMap

  private def got(out: DataFrame) =
    out.select("id", "a_cum", "a_total", "b_cum", "b_total").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  private def sums(df: DataFrame, byGroup: Boolean) =
    Prefix.sums(df, if (byGroup) Seq("grp") else Nil, Seq(col("id")),
      "a" -> col("a"), "b" -> col("b"))

  test("running sums and totals match a driver-side scan for any input layout") {
    for (np <- Seq(1, 3, 13); byGroup <- Seq(false, true)) {
      val df = base.toDF("id", "grp", "a", "b").repartition(np)
      assert(got(sums(df, byGroup)) == expected(base, byGroup), s"np=$np byGroup=$byGroup")
    }
  }

  test("no row is lost when shuffle partitions exceed rows (AQE coalesce)") {
    val few = base.take(40)
    Sessions.withConf(spark, "spark.sql.shuffle.partitions" -> "128") {
      for (byGroup <- Seq(false, true)) {
        val out = sums(few.toDF("id", "grp", "a", "b").repartition(7), byGroup)
        assert(got(out) == expected(few, byGroup), s"byGroup=$byGroup")
      }
    }
  }

  test("the input's columns come back in order; a rank is rows_cum - 1") {
    val df = base.toDF("id", "grp", "a", "b")
    val out = Prefix.sums(df, Seq("grp"), Seq(col("id")), "rows" -> lit(1L))
    assert(out.columns.toSeq == Seq("id", "grp", "a", "b", "rows_total", "rows_cum"))
    val ranks = out.select(col("id"), col("grp"), col("rows_cum") - 1).collect()
      .groupBy(_.getString(1)).values
    ranks.foreach { g =>
      assert(g.sortBy(_.getLong(0)).map(_.getLong(2)).toSeq == g.indices.map(_.toLong))
    }
  }

  test("empty input gives no rows") {
    val out = sums(base.take(0).toDF("id", "grp", "a", "b"), byGroup = true)
    assert(out.count() == 0L)
    assert(out.columns.contains("a_cum") && out.columns.contains("b_total"))
  }

  test("no window without a partition key and no single-partition exchange") {
    val out = sums(base.toDF("id", "grp", "a", "b"), byGroup = false)
    out.collect()
    val plan = out.queryExecution.executedPlan
    val global = collect(plan) { case w: WindowExec if w.partitionSpec.isEmpty => w }
    val single = collect(plan) {
      case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition => e
    }
    assert(global.isEmpty && single.isEmpty, s"in:\n$plan")
  }

  test("a null group key drops the row (the offsets join is an inner equi-join)") {
    val docs = Seq((1L, "en"), (2L, null), (3L, "de"), (4L, "en"), (5L, null))
      .toDF("doc_id", "lang")
    val capped = TextStats.groupCap(docs, k = 10L)
    assert(capped.select("doc_id").as[Long].collect().toSeq == Seq(1L, 3L, 4L))
    val df = Seq((1L, "x", 1L, 1L), (2L, null, 1L, 1L), (3L, "x", 1L, 1L))
      .toDF("id", "grp", "a", "b")
    assert(got(sums(df, byGroup = true)).keySet == Set(1L, 3L))
  }

  test("one sums call runs no job of its own to pin the range exchange") {
    val df = base.toDF("id", "grp", "a", "b").repartition(3)
    val sc = spark.sparkContext
    var out: DataFrame = null
    val jobs = jobsInGroup("prefix-sums") {
      sc.setJobGroup("prefix-sums", "one Prefix.sums call")
      try out = sums(df, byGroup = true) finally sc.clearJobGroup()
    }
    // the totals collect fills the pin; an eager pin is one job more (5)
    assert(jobs == 4, s"$jobs jobs")
    assert(got(out) == expected(base, byGroup = true))
  }
}
