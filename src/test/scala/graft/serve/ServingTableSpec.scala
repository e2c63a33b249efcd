package graft.serve

import graft.SparkSpec
import graft.etl.Pipeline

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.concurrent.ExecutionContext.Implicits.global

/** The one serving-table lookup: the library's [[Queries]] serve a
  * pipeline's output by `dbPath`, and [[HttpApi]]'s preview and stats
  * bodies are those same calls rendered as JSON. */
class ServingTableSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private lazy val api = new HttpApi(spark, port = 0)
  private lazy val base = s"http://127.0.0.1:${api.start()}"
  private val client = HttpClient.newHttpClient()

  override protected def afterAll(): Unit = {
    api.stop()
    super.afterAll()
  }

  private def get(path: String, params: (String, String)*): HttpResponse[String] = {
    val q = params.map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&")
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path?$q")).GET.build(),
      HttpResponse.BodyHandlers.ofString())
  }

  test("quick start: a pipeline's output is served by dbPath, with no view registered") {
    val d = tmpDir("serving_quickstart")
    Files.writeString(d.resolve("in.csv"), "id,name\n1,a\n2,\n3,c\n")
    val out = d.resolve("out").toString
    val res = Pipeline.run(spark, Pipeline.PipelineConfig(
      csvPath = d.resolve("in.csv").toString, outputPath = out))
    assert(!spark.catalog.tableExists("products"))
    val rows = Queries.preview(spark, "products", dbPath = out).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).sorted.toSeq == Seq((1, "a"), (3, "c")))
    val st = Queries.stats(spark, "products", dbPath = out)
    assert(st.totalRecords == res.recordsProcessed && st.totalRecords == 2L)
    assert(st.columns == Seq("id", "name") && st.tableName == "products")
  }

  test("a missing table and dbPath is TableNotFound with the API's 404 detail") {
    val missing = "/tmp/graft_serving_no_db"
    val e = intercept[Queries.TableNotFound] { Queries.stats(spark, "no_such_table", missing) }
    assert(e.getMessage == s"Database not found: $missing")
    val r = get("/api/data/stats", "table_name" -> "no_such_table", "db_path" -> missing)
    assert(r.statusCode() == 404)
    assert(r.body() == Json.write(Json.Obj("detail" -> e.getMessage)))
  }

  /** The bodies HttpApi must send for (table, dbPath): Queries' results as JSON. */
  private def assertParity(table: String, dbPath: String): Unit = {
    val df = Queries.preview(spark, table, 10, dbPath)
    val cols = df.columns.toList
    val rows = df.collect().toList
    val preview = Json.Obj(
      "data" -> rows.map(r => Json.Obj(cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }: _*)),
      "columns" -> cols,
      "count" -> rows.length)
    val st = Queries.stats(spark, table, dbPath)
    val stats = Json.Obj(
      "total_records" -> st.totalRecords,
      "columns_count" -> st.columnsCount,
      "columns" -> st.columns.toList,
      "table_name" -> st.tableName,
      "database_path" -> dbPath)
    val params = Seq("table_name" -> table, "db_path" -> dbPath)
    val pr = get("/api/data/preview", params: _*)
    assert(pr.statusCode() == 200 && pr.body() == Json.write(preview))
    val sr = get("/api/data/stats", params: _*)
    assert(sr.statusCode() == 200 && sr.body() == Json.write(stats))
  }

  test("HttpApi's preview and stats bodies are Queries' results, for a parquet dir") {
    val db = tmpDir("serving_parity").resolve("db").toString
    Seq((1, "widget", 9.5), (2, "gadget", 3.25), (3, "gizmo", 1.0))
      .toDF("id", "name", "price").coalesce(1).write.parquet(db)
    assertParity("serving_parity_absent", db)
  }

  test("HttpApi's preview and stats bodies are Queries' results, for a catalog view") {
    Seq((7L, "x"), (8L, "y")).toDF("k", "v").createOrReplaceTempView("serving_parity_v")
    try assertParity("serving_parity_v", "/tmp/graft_serving_no_db")
    finally spark.catalog.dropTempView("serving_parity_v")
  }
}
