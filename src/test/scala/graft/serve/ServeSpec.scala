package graft.serve

import graft.SparkSpec
import graft.etl.{Pipeline, Synthetic}

import java.nio.file.Files
import scala.concurrent.ExecutionContext.Implicits.global

/** Serving layer: preview/stats (L1, A1+A3, M1-M2) + run registry (C3). */
class ServeSpec extends SparkSpec {

  private def withTable[T](name: String)(body: => T): T = {
    Synthetic.products(spark).createOrReplaceTempView(name)
    try body finally spark.catalog.dropTempView(name)
  }

  test("L1 preview returns at most limit rows, default 10") {
    withTable("products_v") {
      assert(Queries.preview(spark, "products_v").count() == 10)
      assert(Queries.preview(spark, "products_v", 3).count() == 3)
      assert(Queries.preview(spark, "products_v", 1000).count() == 100)
    }
  }

  test("A1+A3 stats: total_records, columns_count, columns") {
    withTable("products_v") {
      val s = Queries.stats(spark, "products_v")
      assert(s.totalRecords == 100)
      assert(s.columnsCount == 5)
      assert(s.columns == Seq("id", "name", "price", "category", "in_stock"))
    }
  }

  test("A1 row count: a bare parquet scan is counted from its footers, with no job") {
    import org.apache.spark.sql.functions.col
    val d = tmpDir("rowcount")
    val flat = d.resolve("flat").toString
    spark.range(0, 1000, 1, 5).toDF("id").write.parquet(flat)
    val parts = d.resolve("parts").toString
    spark.range(0, 300, 1, 3).withColumn("k", col("id") % 3).write.partitionBy("k").parquet(parts)
    val sc = spark.sparkContext
    val frames = Seq(flat, parts).map(spark.read.parquet(_)) // reading the schema is a job of its own
    var counts = Seq.empty[Long]
    val jobs = jobsInGroup("rowcount-probe") {
      sc.setJobGroup("rowcount-probe", "row count")
      try counts = frames.map(Queries.rowCount) finally sc.clearJobGroup()
    }
    assert(counts == Seq(1000L, 300L))
    assert(jobs == 0, s"$jobs jobs")
    // anything but a bare scan is counted by Spark
    assert(Queries.rowCount(spark.read.parquet(flat).filter(col("id") < 10)) == 10)
  }

  test("L1/A1 over a parquet dbPath: stats runs no job, preview one, under Spark's own schema") {
    import org.apache.spark.sql.functions.col
    val d = tmpDir("footerschema")
    Files.writeString(d.resolve("in.csv"), "id,v,day\n1,a,2024-01-31\n2,b,2024-02-01\n")
    val out = d.resolve("out").toString
    Pipeline.run(spark, Pipeline.PipelineConfig(csvPath = d.resolve("in.csv").toString, outputPath = out))
    val sc = spark.sparkContext
    def jobs(body: => Unit) = jobsInGroup("footer-probe") {
      sc.setJobGroup("footer-probe", "serve probe")
      try body finally sc.clearJobGroup()
    }
    var stats: Queries.TableStats = null
    assert(jobs { stats = Queries.stats(spark, "no_such_view", out) } == 0)
    assert(stats == Queries.TableStats(2, 3, Seq("id", "v", "day"), "no_such_view"))
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobs { rows = Queries.preview(spark, "no_such_view", 10, out).collect() } == 1)
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    // the schema Spark infers, nullability included; a non-nullable column
    // and a partitioned directory (Spark reads that schema itself)
    val flat = d.resolve("flat").toString
    spark.range(0, 10, 1, 2).select(col("id"), (col("id") * 2).as("twice")).write.parquet(flat)
    val parts = d.resolve("parts").toString
    spark.range(0, 6, 1, 2).withColumn("k", col("id") % 3).write.partitionBy("k").parquet(parts)
    assert(Queries.footerSchema(spark, out).isDefined && Queries.footerSchema(spark, flat).isDefined)
    assert(Queries.footerSchema(spark, parts).isEmpty)
    for (dir <- Seq(out, flat, parts))
      assert(Queries.preview(spark, "no_such_view", 1, dir).schema == spark.read.parquet(dir).schema, dir)
  }

  test("M1: unknown table raises TableNotFound (404 shape)") {
    intercept[Queries.TableNotFound] { Queries.preview(spark, "no_such_table") }
  }

  test("C3: run registry drives pending→completed with records_processed") {
    val d = tmpDir("runs")
    Files.writeString(d.resolve("in.csv"), "id,v\n1,a\n2,b\n")
    val reg = new Runs.Registry(spark)
    val rec = reg.start(Pipeline.PipelineConfig(
      csvPath = d.resolve("in.csv").toString,
      outputPath = d.resolve("out").toString))
    assert(rec.status == "pending")
    // poll to completion (same contract as the dashboard's 3s poll)
    val deadline = System.currentTimeMillis() + 120000
    var cur = reg.get(rec.runId).get
    while (cur.status != "completed" && cur.status != "failed"
           && System.currentTimeMillis() < deadline) {
      Thread.sleep(200); cur = reg.get(rec.runId).get
    }
    assert(cur.status == "completed", s"run ended as $cur")
    assert(cur.recordsProcessed.contains(2L))
    assert(cur.endTime.isDefined)
    assert(reg.list().head.runId == rec.runId)
  }

  test("C3: concurrent runs all complete independently") {
    val d = tmpDir("runs_conc")
    val reg = new Runs.Registry(spark)
    val recs = (1 to 3).map { i =>
      Files.writeString(d.resolve(s"in$i.csv"), s"id,v\n$i,a\n${i + 10},b\n")
      reg.start(Pipeline.PipelineConfig(
        csvPath = d.resolve(s"in$i.csv").toString,
        outputPath = d.resolve(s"out$i").toString))
    }
    val deadline = System.currentTimeMillis() + 180000
    def done() = recs.forall(r =>
      Set("completed", "failed").contains(reg.get(r.runId).get.status))
    while (!done() && System.currentTimeMillis() < deadline) Thread.sleep(200)
    recs.foreach { r =>
      val cur = reg.get(r.runId).get
      assert(cur.status == "completed", s"run ${r.runId} ended as $cur")
      assert(cur.recordsProcessed.contains(2L))
    }
    assert(reg.list().size == 3)
  }

  test("C3: missing csv path rejected up front (400 shape)") {
    val reg = new Runs.Registry(spark)
    intercept[IllegalArgumentException] {
      reg.start(Pipeline.PipelineConfig(csvPath = "/tmp/graft_missing.csv"))
    }
  }

  test("C3: clear() empties the registry") {
    val d = tmpDir("runs2")
    Files.writeString(d.resolve("in.csv"), "id\n1\n")
    val reg = new Runs.Registry(spark)
    reg.start(Pipeline.PipelineConfig(
      csvPath = d.resolve("in.csv").toString,
      outputPath = d.resolve("out").toString))
    assert(reg.clear() == 1)
    assert(reg.list().isEmpty)
  }
}
