package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.etl.{Ingest, Pipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import scala.collection.immutable.ListMap
import scala.concurrent.ExecutionContext
import scala.util.control.NonFatal

/** The reference's JSON API (`/root/reference/api.py:102-272`), served over
  * JDK `com.sun.net.httpserver` — the only HTTP server available in the
  * offline container, and all this control plane needs: every endpoint is a
  * tiny metadata/registry call or a LIMIT-n collect; the heavy lifting
  * stays inside Spark jobs submitted by the registry.
  *
  * Endpoint contracts (status codes + JSON shapes mirror api.py):
  *   - POST   /api/pipeline/run          400 if csv_path missing (api.py:112-116)
  *   - GET    /api/pipeline/status/{id}  404 unknown run (api.py:139-145)
  *   - GET    /api/pipeline/runs         newest first (api.py:148-155)
  *   - DELETE /api/pipeline/runs         clear history (api.py:158-163)
  *   - GET    /api/data/preview          404 missing db/table (api.py:166-198)
  *   - GET    /api/data/stats            404 missing db/table (api.py:205-242)
  *   - GET    /api/files/list            missing dir → empty list (api.py:249-268)
  *   - GET    /                          dashboard (api.py:277, own implementation)
  *
  * The reference's "database" is a SQLite file; the Spark analog is a
  * parquet directory (or a registered catalog table — checked first, so
  * managed-table loads serve too). `db_path` missing on disk → 404
  * "Database not found", exactly the reference's contract.
  */
final class HttpApi(spark: SparkSession, port: Int = 0)(implicit ec: ExecutionContext) {
  val registry = new Runs.Registry(spark)

  private var server: HttpServer = _
  private[serve] var pool: ExecutorService = _

  /** Bind and serve; returns the actual port (ephemeral when port=0). */
  def start(): Int = synchronized {
    require(server == null, "already started")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    // small pool: every handler is a metadata call or LIMIT-n collect, but
    // a long pipeline poll must not block other requests
    pool = Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()
    server.getAddress.getPort
  }

  /** Stop serving and shut the handler pool down: its threads are
    * non-daemon, so a live pool would keep the JVM up after `main`. */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0); server = null
      pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  // ------------------------------------------------------------- dispatch

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath
      (ex.getRequestMethod, path) match {
        case ("POST", "/api/pipeline/run")     => postRun(ex)
        case ("GET", p) if p.startsWith("/api/pipeline/status/") =>
          getStatus(ex, p.stripPrefix("/api/pipeline/status/"))
        case ("GET", "/api/pipeline/runs")     => sendJson(ex, 200, runsJson)
        case ("DELETE", "/api/pipeline/runs")  =>
          registry.clear()
          sendJson(ex, 200, Json.Obj("message" -> "Pipeline runs history cleared"))
        case ("GET", "/api/data/preview")      => getPreview(ex)
        case ("GET", "/api/data/stats")        => getStats(ex)
        case ("GET", "/api/files/list")        => getFiles(ex)
        case ("GET", "/")                      => sendHtml(ex, 200, Dashboard.html)
        case ("GET" | "POST" | "DELETE" | "PUT", _) =>
          sendJson(ex, 404, Json.Obj("detail" -> "Not Found"))
        case _ =>
          sendJson(ex, 405, Json.Obj("detail" -> "Method Not Allowed"))
      }
    } catch {
      case e: HttpError =>
        sendJson(ex, e.status, Json.Obj("detail" -> e.getMessage))
      case e: Queries.TableNotFound =>
        sendJson(ex, 404, Json.Obj("detail" -> e.getMessage))
      case e: IllegalArgumentException =>
        sendJson(ex, 400, Json.Obj("detail" -> e.getMessage))
      case e: Json.ParseError =>
        sendJson(ex, 400, Json.Obj("detail" -> s"Malformed JSON body: ${e.getMessage}"))
      case NonFatal(e) =>
        sendJson(ex, 500, Json.Obj("detail" -> s"Database error: ${e.getMessage}"))
    } finally ex.close()
  }

  private final class HttpError(val status: Int, msg: String) extends RuntimeException(msg)
  private def httpError(status: Int, msg: String): Nothing = throw new HttpError(status, msg)

  // ------------------------------------------------------------- pipeline

  /** POST /api/pipeline/run (api.py:102-136). */
  private def postRun(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val req = if (body.isBlank) ListMap.empty[String, Any] else asObj(Json.parse(body))
    val cfg = req.get("config").map(asObj) match {
      case Some(c) => Pipeline.PipelineConfig(
        csvPath = str(c, "csv_path").getOrElse("data/raw/products.csv"),
        outputPath = str(c, "db_path").getOrElse("data/processed/products"),
        tableName = str(c, "table_name").getOrElse("products"))
      case None => Pipeline.PipelineConfig(outputPath = "data/processed/products")
    }
    if (!Files.exists(Paths.get(cfg.csvPath)))
      httpError(400, s"Source file not found: ${cfg.csvPath}")
    val rec = registry.start(cfg, req.get("run_name").collect { case s: String => s })
    sendJson(ex, 200, Json.Obj(
      "run_id" -> rec.runId,
      "status" -> "started",
      "message" -> "Pipeline started successfully"))
  }

  /** GET /api/pipeline/status/{id} (api.py:139-145). */
  private def getStatus(ex: HttpExchange, id: String): Unit =
    registry.get(id) match {
      case Some(rec) => sendJson(ex, 200, runJson(rec))
      case None      => httpError(404, "Pipeline run not found")
    }

  private def runsJson: List[Json.Obj] = registry.list().map(runJson).toList

  private def runJson(r: Runs.RunRecord): Json.Obj = Json.Obj(
    "run_id" -> r.runId,
    "status" -> r.status,
    "start_time" -> r.startTime.toString,
    "end_time" -> r.endTime.map(_.toString),
    "error_message" -> r.errorMessage,
    "message" -> r.message,
    "config" -> Json.Obj(
      "csv_path" -> r.config.csvPath,
      "db_path" -> r.config.outputPath,
      "table_name" -> r.config.tableName),
    "run_name" -> r.runName.getOrElse(s"Run ${r.runId.take(8)}"),
    "records_processed" -> r.recordsProcessed.getOrElse(0L))

  // ----------------------------------------------------------------- data

  /** Resolve the serving table like api.py:174-187: registered catalog
    * table by name first (managed-table loads), else the parquet directory
    * at db_path (the SQLite-file analog); missing path → 404. */
  private def resolveTable(params: Map[String, String]): DataFrame = {
    val table = params.getOrElse("table_name", "products")
    val dbPath = params.getOrElse("db_path", "data/processed/products")
    if (spark.catalog.tableExists(table)) spark.table(table)
    else if (Files.exists(Paths.get(dbPath))) spark.read.parquet(dbPath)
    else httpError(404, s"Database not found: $dbPath")
  }

  /** GET /api/data/preview (api.py:166-198). */
  private def getPreview(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    val limit = params.get("limit").map(parseIntParam("limit", _)).getOrElse(10)
    Queries.requireValidLimit(limit)
    val df = resolveTable(params)
    val rows = df.limit(limit).collect()
    val cols = df.schema.fieldNames.toList
    sendJson(ex, 200, Json.Obj(
      "data" -> rows.toList.map(rowJson(cols, _)),
      "columns" -> cols,
      "count" -> rows.length))
  }

  /** GET /api/data/stats (api.py:205-242). */
  private def getStats(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    val df = resolveTable(params)
    sendJson(ex, 200, Json.Obj(
      "total_records" -> df.count(),
      "columns_count" -> df.schema.size,
      "columns" -> df.schema.fieldNames.toList,
      "table_name" -> params.getOrElse("table_name", "products"),
      "database_path" -> params.getOrElse("db_path", "data/processed/products")))
  }

  /** GET /api/files/list (api.py:249-268): missing directory is not an
    * error — empty list + message, exactly the reference. */
  private def getFiles(ex: HttpExchange): Unit = {
    val dir = queryParams(ex).getOrElse("directory", "data/raw")
    if (!Files.exists(Paths.get(dir)))
      sendJson(ex, 200, Json.Obj(
        "files" -> Nil, "message" -> s"Directory $dir does not exist"))
    else {
      val files = Ingest.listCsvFiles(spark, dir).collect().toList.map { r =>
        Json.Obj(
          "name" -> r.getAs[String]("filename"),
          "path" -> r.getAs[String]("path"),
          "size_bytes" -> r.getAs[Long]("size_bytes"),
          "size_mb" -> r.getAs[Double]("size_mb"))
      }
      sendJson(ex, 200, Json.Obj("files" -> files, "directory" -> dir))
    }
  }

  // -------------------------------------------------------------- plumbing

  private def asObj(v: Any): ListMap[String, Any] = v match {
    case m: ListMap[_, _] => m.asInstanceOf[ListMap[String, Any]]
    case _ => httpError(400, "Expected a JSON object")
  }

  private def str(m: ListMap[String, Any], k: String): Option[String] =
    m.get(k).collect { case s: String => s }

  private def parseIntParam(name: String, v: String): Int =
    try v.toInt
    catch { case _: NumberFormatException =>
      httpError(400, s"Query parameter '$name' must be an integer, got '$v'") }

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split('&').filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8))
        case Array(k)    => Some(URLDecoder.decode(k, UTF_8) -> "")
        case _           => None
      }
    }.toMap
  }

  /** One preview row as a JSON object, column order = schema order. */
  private def rowJson(cols: List[String], row: Row): Json.Obj =
    Json.Obj(cols.zipWithIndex.map { case (c, i) => c -> jsonValue(row.get(i)) }: _*)

  private def jsonValue(v: Any): Any = v match {
    case null => null
    case s: String => s
    case b: Boolean => b
    case n @ (_: Int | _: Long | _: Double | _: Float | _: Short | _: Byte) => n
    case d: java.math.BigDecimal => BigDecimal(d)
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case a: scala.collection.Seq[_] => a.toList.map(jsonValue)
    case r: Row => Json.Obj(r.schema.fieldNames.toList.zipWithIndex.map {
      case (c, i) => c -> jsonValue(r.get(i)) }: _*)
    case m: scala.collection.Map[_, _] =>
      Json.Obj(m.toList.map { case (k, x) => k.toString -> jsonValue(x) }: _*)
    case other => other.toString // timestamps, dates, intervals
  }

  private def sendJson(ex: HttpExchange, status: Int, body: Any): Unit =
    send(ex, status, Json.write(body), "application/json")

  private def sendHtml(ex: HttpExchange, status: Int, body: String): Unit =
    send(ex, status, body, "text/html; charset=utf-8")

  private def send(ex: HttpExchange, status: Int, body: String, ct: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ct)
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

/** Runnable server — the `uvicorn.run(...)` equivalent (api.py:609-611).
  * Creates the sample data on startup like api.py:589-607, then serves
  * until killed. Port: args(0) or GRAFT_HTTP_PORT or 8000.
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val port = args.headOption.orElse(sys.env.get("GRAFT_HTTP_PORT")).map(_.toInt).getOrElse(8000)
    val spark = graft.Graft.session("graft-server")
    graft.Graft.ensureSampleData(spark, "data/raw/products.csv")
    val api = new HttpApi(spark, port)
    val bound = api.start()
    println(s"graft API serving on http://0.0.0.0:$bound/ (dashboard at /)")
    Thread.currentThread.join()
  }
}
