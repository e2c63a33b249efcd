package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** K1–K3 sinks + C1/C2 pipeline composition
  * (reference: /root/reference/src/load.py, flows/pipeline.py). */
class LoadPipelineSpec extends SparkSpec {

  test("K1: parquet replace is idempotent and replaces prior content") {
    val out = tmpDir("k1").resolve("t").toString
    Load.replaceParquet(Synthetic.products(spark, 50), out)
    Load.replaceParquet(Synthetic.products(spark, 20), out)
    assert(spark.read.parquet(out).count() == 20)
  }

  test("K3: single-file CSV write produces one plain file with a header") {
    val out = tmpDir("k3").resolve("products.csv").toString
    Load.writeCsv(Synthetic.products(spark, 5), out, singleFile = true)
    val p = java.nio.file.Paths.get(out)
    assert(Files.isRegularFile(p), s"$out is not a plain file")
    assert(Files.readString(p).startsWith("id,name,price,category,in_stock"))
  }

  test("S5: synthetic products match the reference generator rules") {
    val rows = Synthetic.products(spark).orderBy("id").collect()
    assert(rows.length == 100)
    val r3 = rows(2) // id=3
    assert(r3.getString(3) == "Electronics") // 3%3==0
    assert(r3.getDouble(2) == 11.5)          // 10+0.5*3
    assert(!r3.getBoolean(4))                // odd → not in stock
    val r4 = rows(3) // id=4
    assert(r4.getString(3) == "Books")       // 4%3==1
    assert(r4.getBoolean(4))
  }

  test("K1 bucketed: bucket spec lands in the catalog, join plan has no shuffle on the bucket key") {
    import org.apache.spark.sql.functions._
    Load.replaceTableBucketed(Synthetic.products(spark, 100), "products_bkt", 4, Seq("id"))
    try {
      val t = spark.table("products_bkt")
      assert(t.count() == 100)
      // joining two scans of the bucketed table on the bucket key must not
      // add an Exchange below the join (bucketing provides the partitioning)
      val joined = t.join(t.select(col("id"), col("price").as("p2")), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(id"), plan)
    } finally spark.sql("DROP TABLE IF EXISTS products_bkt")
  }

  test("compactTo: file count follows the size target; content survives; keys co-locate") {
    import org.apache.spark.sql.functions.col
    // 1000 rows scattered across 64 tiny partitions — the small-files input
    val df = spark.range(1000).toDF("id").repartition(64)
    val out = tmpDir("compact").resolve("t").toString
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // target a quarter of the data per file → expect ceil(bytes/target) files
    val target = (bytes / 4).toLong + 1
    val n = Load.compactTo(df, out, targetBytes = target)
    assert(n == 4, s"expected 4 planned files, got $n")
    val parts = Files.list(java.nio.file.Paths.get(out)).iterator()
    val partFiles = scala.jdk.CollectionConverters.IteratorHasAsScala(parts).asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(partFiles == 4, s"$partFiles part files on disk")
    assert(spark.read.parquet(out).count() == 1000)
    // keyed compaction: same key never straddles two files
    val keyed = spark.range(1000).toDF("id")
      .withColumn("k", col("id") % 8).repartition(64)
    val out2 = tmpDir("compact").resolve("t2").toString
    Load.compactTo(keyed, out2, targetBytes = target, keys = Seq("k"))
    val fileOfKey = spark.read.parquet(out2)
      .withColumn("f", org.apache.spark.sql.functions.input_file_name())
      .groupBy("k").agg(org.apache.spark.sql.functions.countDistinct("f").as("nf"))
    assert(fileOfKey.filter(col("nf") > 1).count() == 0, "a key straddles files")
  }

  test("C1: pipeline ingest→clean→load end-to-end with telemetry") {
    val d = tmpDir("c1")
    Files.writeString(d.resolve("in.csv"), "id,v\n1,a\n2,\n3,c\n")
    val out = d.resolve("out").toString
    val res = Pipeline.run(spark, Pipeline.PipelineConfig(
      csvPath = d.resolve("in.csv").toString, outputPath = out))
    assert(res.rowsIngested == 3)
    assert(res.rowsCleaned == 2) // empty v cell is null → dropped
    assert(spark.read.parquet(out).count() == 2)
  }

  test("C1: Pipeline.run hands the caller's job group back") {
    val d = tmpDir("c1g")
    Files.writeString(d.resolve("in.csv"), "id,v\n1,a\n")
    val sc = spark.sparkContext
    def group = sc.getLocalProperty("spark.jobGroup.id")
    val config = Pipeline.PipelineConfig(
      csvPath = d.resolve("in.csv").toString, outputPath = d.resolve("out").toString)
    val none = group
    Pipeline.run(spark, config)
    assert(group == none)
    sc.setJobGroup("caller-group", "the caller's own jobs")
    try {
      Pipeline.run(spark, config)
      assert(group == "caller-group")
      assert(sc.getLocalProperty("spark.job.description") == "the caller's own jobs")
    } finally sc.clearJobGroup()
  }

  test("C1: Pipeline.run takes at most 2 jobs, whatever the number of input files") {
    def jobsFor(files: Int): Int = {
      val d = tmpDir(s"c1jobs$files")
      val in = Files.createDirectory(d.resolve("in"))
      for (i <- 0 until files)
        Files.writeString(in.resolve(f"part$i%02d.csv"), s"id,v\n${2 * i},a\n${2 * i + 1},\n")
      val config = Pipeline.PipelineConfig(csvPath = in.toString, outputPath = d.resolve("out").toString)
      var res: Pipeline.PipelineResult = null
      val n = jobsInGroup("graft-pipeline") { res = Pipeline.run(spark, config) }
      assert(res == Pipeline.PipelineResult(2L * files, files.toLong, files.toLong))
      n
    }
    val (three, eight) = (jobsFor(3), jobsFor(8))
    assert(three == eight, s"3 files: $three jobs, 8 files: $eight jobs")
    assert(eight <= 2, s"$eight jobs")
  }

  test("C1: Pipeline.run's inference job reads all its input files through one scan") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // FileScanRDDs per job of the run, in job order
    def scansFor(files: Int): Seq[Int] = {
      val d = tmpDir(s"c1scans$files")
      val in = Files.createDirectory(d.resolve("in"))
      for (i <- 0 until files)
        Files.writeString(in.resolve(f"part$i%02d.csv"), s"id,v\n${2 * i},a\n")
      val scans = new java.util.concurrent.ConcurrentSkipListMap[Int, Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "graft-pipeline"))
            scans.put(e.jobId, e.stageInfos.flatMap(_.rddInfos).count(_.name == "FileScanRDD"))
      }
      spark.sparkContext.addSparkListener(listener)
      try jobsInGroup("graft-pipeline") {
        Pipeline.run(spark, Pipeline.PipelineConfig(csvPath = in.toString, outputPath = d.resolve("out").toString))
      } finally spark.sparkContext.removeSparkListener(listener)
      scans.values.asScala.toSeq
    }
    // 40 files: past Spark's discovery threshold (32), where listing them
    // could be a job of its own
    for (files <- Seq(3, 8, 40)) {
      val scans = scansFor(files)
      assert(scans.headOption.contains(1), s"$files files: FileScanRDDs per job $scans")
      assert(scans.size <= 2, s"$files files: FileScanRDDs per job $scans")
    }
  }

  test("C1: a failing write fails the run at once and hands the caller's group back") {
    val d = tmpDir("c1fail")
    Files.writeString(d.resolve("in.csv"), "id,v\n1,a\n")
    val blocker = Files.writeString(d.resolve("out"), "a regular file, not a directory")
    val config = Pipeline.PipelineConfig(
      csvPath = d.resolve("in.csv").toString, outputPath = blocker.resolve("t").toString)
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "the caller's own jobs")
    try {
      val t0 = System.nanoTime()
      intercept[Exception](Pipeline.run(spark, config))
      assert((System.nanoTime() - t0) / 1e9 < 30)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
    } finally sc.clearJobGroup()
    val reg = new graft.serve.Runs.Registry(spark)(scala.concurrent.ExecutionContext.global)
    val rec = reg.start(config)
    val deadline = System.currentTimeMillis() + 30000
    while (reg.get(rec.runId).get.endTime.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    val cur = reg.get(rec.runId).get
    assert(cur.status == "failed", s"run ended as $cur")
    assert(cur.errorMessage.exists(_.nonEmpty), s"run ended as $cur")
  }

  test("C1: a run that fails leaves the table of the last good run as it was") {
    val d = tmpDir("c1keep")
    val out = d.resolve("out").toString
    def run(in: java.nio.file.Path) =
      Pipeline.run(spark, Pipeline.PipelineConfig(csvPath = in.toString, outputPath = out))
    def table = spark.read.parquet(out).collect().map(_.getInt(0)).sorted.toSeq
    val good = Files.writeString(d.resolve("good.csv"), "id,v\n1,a\n2,b\n")
    assert(run(good).rowsCleaned == 2)
    // a malformed row past the first data row: rejected at ingest
    val ragged = Files.writeString(d.resolve("ragged.csv"), "id,v\n3,c\n4,d,EXTRA\n")
    intercept[Ingest.IngestException](run(ragged))
    assert(table == Seq(1, 2))
    // a good input whose write fails inside its job: the parquet writer
    // has no lzo codec to compress with
    val more = Files.writeString(d.resolve("more.csv"), "id,v\n5,e\n")
    val e = intercept[Exception] {
      graft.Sessions.withConf(spark, "spark.sql.parquet.compression.codec" -> "lzo")(run(more))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("LzoCodec")), e.toString)
    assert(table == Seq(1, 2))
    // no staged or replaced copy is left beside the table
    assert(Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq.sorted ==
      Seq("good.csv", "more.csv", "out", "ragged.csv"))
  }

  test("a partitioned replace whose write fails leaves the old rows and no staged copy") {
    import org.apache.spark.sql.functions._
    val d = tmpDir("partkeep")
    val out = d.resolve("out").toString
    def rows(n: Int) = spark.range(n).select(col("id"), (col("id") % 2).as("p"))
    Load.replaceParquetPartitioned(rows(4), out, Seq("p"))
    val failing = rows(6).withColumn("id",
      when(col("id") === 5L, raise_error(lit("boom")).cast("long")).otherwise(col("id")))
    val e = intercept[Exception](Load.replaceParquetPartitioned(failing, out, Seq("p")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e.toString)
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq == Seq("out"))
  }

  test("C1 quirk: all-null column ends with 0 rows (shipped-data parity)") {
    val d = tmpDir("c1q")
    Files.writeString(d.resolve("in.csv"), "id,msg\n1,\n2,\n")
    val out = d.resolve("out").toString
    val res = Pipeline.run(spark, Pipeline.PipelineConfig(
      csvPath = d.resolve("in.csv").toString, outputPath = out))
    assert(res.rowsCleaned == 0)
    assert(spark.read.parquet(out).count() == 0)
  }

  test("upsert: updates override, base survives, new keys insert") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val updates = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val out = Load.upsert(base, updates, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out == Set((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }
}
