package graft

import graft.etl.{Clean, Ingest, Load, Pipeline, Synthetic}
import graft.ops.{AsOf, Dedup, Similarity, TextStats}
import graft.serve.Queries
import java.nio.file.Files

/** The reference's full user journey through the module functions the
  * README's quick start and migration table name.
  */
class GraftFacadeSpec extends SparkSpec {

  test("quick-start journey: sample data → pipeline → preview/stats/files") {
    val d = tmpDir("facade")
    val csv = d.resolve("products.csv").toString

    Synthetic.ensureProductsCsv(spark, csv)
    assert(Files.exists(java.nio.file.Paths.get(csv)))

    val out = d.resolve("out").toString
    val res = Pipeline.run(spark, Pipeline.PipelineConfig(csvPath = csv, outputPath = out))
    assert(res.rowsIngested == 100 && res.recordsProcessed == 100)

    assert(Queries.preview(spark, "products", dbPath = out).count() == 10)
    val st = Queries.stats(spark, "products", dbPath = out)
    assert(st.totalRecords == 100 && st.columnsCount == 5)
    val files = Ingest.listCsvFiles(spark, d.toString).collect()
    assert(files.map(_.getString(0)).contains("products.csv"))
  }

  test("training-data journey through the facade: dedup → resolve → split → mix → scrub → pack") {
    val docs = ops.Tables.documents(spark, sfDir)
    val pairs = Dedup.minhashLsh(docs)
    val resolved = Dedup.resolveDuplicates(docs, pairs)
    assert(resolved.count() == docs.count())
    val split = TextStats.assignSplit(docs)
    assert(split.select("split").distinct().count() <= 3)
    assert(TextStats.mixCorpus(docs, Map("en" -> 0.0)).filter(
      org.apache.spark.sql.functions.col("lang") === "en").count() == 0)
    assert(TextStats.scrubPii(docs).columns.contains("scrubbed"))
    val packed = TextStats.packChunks(TextStats.chunk(docs))
    assert(packed.columns.contains("seq_id") && packed.count() > 0)
    val topk = Similarity.bruteForceTopKAgg(ops.Tables.embeddings(spark, sfDir),
      Similarity.querySet(ops.Tables.embeddings(spark, sfDir), "vec_id", 50), k = 3)
    assert(topk.count() > 0)
  }

  test("incremental-corpus journey: bloom fingerprint → survivors → safe split → compaction") {
    import org.apache.spark.sql.functions._
    val docs = ops.Tables.documents(spark, sfDir)
    val old = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val bloom = Dedup.corpusBloom(old)
    val surv = Dedup.incrementalSurvivorsPrefiltered(old, fresh, bloom, threshold = 0.5)
    assert(surv.count() > 0 && surv.count() <= fresh.count())
    val pairs = Dedup.minhashLsh(docs)
    val safe = TextStats.assignSplitByComponent(docs, pairs)
    assert(safe.count() == docs.count())
    val d = tmpDir("facade_compact")
    val n = Load.compactTo(docs.repartition(32), d.resolve("out").toString)
    assert(n >= 1 && spark.read.parquet(d.resolve("out").toString).count() == docs.count())
    val iv = old.select(col("doc_id").as("iv_id"),
      (col("doc_id") * 10).as("s"), (col("doc_id") * 10 + 5).as("e"))
    val rj = AsOf.rangeJoin(
      fresh.select(col("doc_id").as("fid"), (col("doc_id") * 10 - 5).as("p")),
      "p", iv, "s", "e", binWidth = 10)
    assert(rj.columns.contains("iv_id"))
  }

  test("composable stages: ingest → clean → load as one lazy chain") {
    val d = tmpDir("facade2")
    Files.writeString(d.resolve("in.csv"), "id,v\n1,a\n2,\n")
    val cleaned = Clean.dropAnyNull(Ingest.ingest(spark, d.resolve("in.csv").toString))
    Load.replaceParquet(cleaned, d.resolve("out").toString)
    assert(spark.read.parquet(d.resolve("out").toString).count() == 1)
  }
}
