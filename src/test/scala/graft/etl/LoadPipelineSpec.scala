package graft.etl

import graft.SparkSpec
import java.nio.file.Files

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
