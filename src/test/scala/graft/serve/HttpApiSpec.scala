package graft.serve

import graft.SparkSpec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.concurrent.ExecutionContext.Implicits.global

/** C5 round-trip: the reference README's curl journey
  * (`/root/reference/README.md`, endpoints `api.py:102-272`) driven
  * against a live [[HttpApi]] on an ephemeral port — status codes, JSON
  * shapes, and error details over a real socket, not direct method calls.
  */
class HttpApiSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val api = new HttpApi(spark, port = 0)
  private lazy val base = s"http://127.0.0.1:${api.start()}"
  private val client = HttpClient.newHttpClient()

  override protected def afterAll(): Unit = {
    api.stop()
    super.afterAll()
  }

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET.build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def delete(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path)).DELETE.build(),
      HttpResponse.BodyHandlers.ofString())

  private def obj(r: HttpResponse[String]): ListMap[String, Any] =
    Json.parse(r.body()).asInstanceOf[ListMap[String, Any]]

  private def detail(r: HttpResponse[String]): String =
    obj(r)("detail").asInstanceOf[String]

  test("stop() shuts down the handler pool start() created") {
    val own = new HttpApi(spark, port = 0)
    own.start()
    val pool = own.pool
    assert(!pool.isShutdown)
    own.stop()
    assert(pool.isTerminated)
  }

  test("GET / serves the dashboard HTML") {
    val r = get("/")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
    assert(r.body().contains("Pipeline Dashboard"))
    assert(r.body().contains("/api/pipeline/run")) // wired to the JSON API
  }

  test("POST /api/pipeline/run with a missing csv_path → 400 (api.py:112-116)") {
    val r = post("/api/pipeline/run",
      """{"config":{"csv_path":"/tmp/graft_http_missing.csv"}}""")
    assert(r.statusCode() == 400)
    assert(detail(r).contains("Source file not found"))
  }

  test("POST /api/pipeline/run with a malformed body → 400") {
    val r = post("/api/pipeline/run", """{"config": not-json""")
    assert(r.statusCode() == 400)
    assert(detail(r).contains("Malformed JSON"))
  }

  test("pipeline run journey: POST → started, poll status → completed") {
    val d = tmpDir("http_run")
    Files.writeString(d.resolve("in.csv"), "id,v\n1,a\n2,b\n3,c\n")
    val r = post("/api/pipeline/run",
      s"""{"config":{"csv_path":"${d.resolve("in.csv")}",
         |"db_path":"${d.resolve("out")}","table_name":"http_products"},
         |"run_name":"spec run"}""".stripMargin)
    assert(r.statusCode() == 200)
    val started = obj(r)
    assert(started("status") == "started")
    val id = started("run_id").asInstanceOf[String]

    // the dashboard's 3 s poll, accelerated
    val deadline = System.currentTimeMillis() + 120000
    var cur = obj(get(s"/api/pipeline/status/$id"))
    while (!Set[Any]("completed", "failed").contains(cur("status"))
           && System.currentTimeMillis() < deadline) {
      Thread.sleep(200); cur = obj(get(s"/api/pipeline/status/$id"))
    }
    assert(cur("status") == "completed", s"run ended as $cur")
    assert(cur("records_processed") == 3L)
    assert(cur("run_name") == "spec run")

    // it shows up in the runs list, newest first
    val runs = Json.parse(get("/api/pipeline/runs").body()).asInstanceOf[List[Any]]
    assert(runs.exists(_.asInstanceOf[ListMap[String, Any]]("run_id") == id))
  }

  test("GET /api/pipeline/status/{unknown} → 404 (api.py:139-145)") {
    val r = get("/api/pipeline/status/no-such-run")
    assert(r.statusCode() == 404)
    assert(detail(r) == "Pipeline run not found")
  }

  test("DELETE /api/pipeline/runs clears history (api.py:158-163)") {
    val r = delete("/api/pipeline/runs")
    assert(r.statusCode() == 200)
    assert(obj(r)("message") == "Pipeline runs history cleared")
    assert(Json.parse(get("/api/pipeline/runs").body()) == Nil)
  }

  test("GET /api/data/preview with limit=0 → 400 (api.py:170)") {
    val r = get("/api/data/preview?limit=0")
    assert(r.statusCode() == 400)
    assert(detail(r).contains("limit"))
  }

  test("GET /api/data/preview with a non-integer limit → 400") {
    val r = get("/api/data/preview?limit=ten")
    assert(r.statusCode() == 400)
    assert(detail(r).contains("integer"))
  }

  test("GET /api/data/preview of a missing database → 404 (api.py:174-187)") {
    val r = get("/api/data/preview?db_path=/tmp/graft_http_no_db")
    assert(r.statusCode() == 404)
    assert(detail(r).contains("Database not found"))
  }

  test("GET /api/data/preview serves rows + columns + count (api.py:189-198)") {
    val d = tmpDir("http_prev")
    import spark.implicits._
    Seq((1, "widget", 9.5), (2, "gadget", 3.25))
      .toDF("id", "name", "price").write.parquet(d.resolve("db").toString)
    val r = get(s"/api/data/preview?db_path=${d.resolve("db")}&limit=1")
    assert(r.statusCode() == 200)
    val body = obj(r)
    assert(body("columns") == List("id", "name", "price"))
    assert(body("count") == 1L)
    val row = body("data").asInstanceOf[List[Any]].head.asInstanceOf[ListMap[String, Any]]
    assert(row.keySet == Set("id", "name", "price"))
  }

  test("GET /api/data/stats → totals + columns (api.py:205-242); missing → 404") {
    val d = tmpDir("http_stats")
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .write.parquet(d.resolve("db").toString)
    val ok = obj(get(s"/api/data/stats?db_path=${d.resolve("db")}&table_name=t"))
    assert(ok("total_records") == 3L)
    assert(ok("columns_count") == 2L)
    assert(ok("columns") == List("id", "v"))
    assert(ok("table_name") == "t")
    assert(get("/api/data/stats?db_path=/tmp/graft_http_no_db").statusCode() == 404)
  }

  test("GET /api/files/list of a missing dir → 200 + empty list (api.py:249-268)") {
    val r = get("/api/files/list?directory=/tmp/graft_http_no_dir")
    assert(r.statusCode() == 200)
    val body = obj(r)
    assert(body("files") == Nil)
    assert(body("message").asInstanceOf[String].contains("does not exist"))
  }

  test("GET /api/files/list reports csv files with sizes") {
    val d = tmpDir("http_files")
    Files.writeString(d.resolve("a.csv"), "id\n1\n")
    Files.writeString(d.resolve("b.txt"), "not a csv")
    val body = obj(get(s"/api/files/list?directory=$d"))
    val files = body("files").asInstanceOf[List[Any]]
      .map(_.asInstanceOf[ListMap[String, Any]])
    assert(files.map(_("name")) == List("a.csv"))
    assert(files.head("size_bytes").asInstanceOf[Long] > 0L)
  }

  test("unknown route → 404, unknown method → 405") {
    assert(get("/api/nope").statusCode() == 404)
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/pipeline/runs"))
        .method("PATCH", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 405)
  }
}
