package graftbench

import graft.etl.Pipeline
import graft.etl.Pipeline.PipelineConfig
import graft.serve.{HttpApi, Queries}

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._

/** `api_mixed`: `HttpApi` on an ephemeral loopback port.
  *  - Readers: open-dashboard traffic (see [[Gen.schedule]]) from a seeded
  *    open-loop schedule: runs-list polls every 3 s per dashboard, plus
  *    users' clicks on preview, stats and list files, sent with the
  *    dashboard's parameters. Up to [[Senders]] threads send them. Each
  *    latency is timed from the request's due time, so a stall also
  *    charges the requests queued behind it.
  *  - Writer: one connection POSTs `/api/pipeline/run` over a smaller CSV
  *    directory to a separate `db_path`, polls status until it completes,
  *    and repeats back to back. Readers never read the table being
  *    rewritten.
  * Four connections in total.
  */
object ApiWorkload {
  val ServedRows = 60000
  val WriterRows = 20000
  /** Open dashboards, and one user click per dashboard every
    * [[ClickEveryS]] s on average. */
  val Dashboards = 20
  val ClickEveryS = 3.0
  val Senders = 3
  /** Latency limit of the goodput count. */
  val LimitMs = 400.0
  val PollMs = 10L
  val RunTimeoutMs = 60000L
  val WarmWindowS = 4.0
  /** The dashboard's default table name (`Dashboard.scala`, `tableName`). */
  val TableName = "products"

  final case class Resp(status: Int, body: String)

  def http(method: String, url: String, body: String = null): Resp = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(30000)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      c.getOutputStream.write(body.getBytes(UTF_8))
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    Resp(code, text)
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  /** A reader request as the dashboard sends it: preview and stats with
    * its `db_path` and `table_name` and no limit; the runs list and the
    * files list with no parameters (the API's default directory). */
  def path(kind: String, served: Path): String = kind match {
    case "runs" => "/api/pipeline/runs"
    case "preview" => s"/api/data/preview?db_path=${enc(served.toString)}&table_name=$TableName"
    case "stats" => s"/api/data/stats?db_path=${enc(served.toString)}&table_name=$TableName"
    case "files" => "/api/files/list"
  }

  /** Check a reference response against a direct computation: same row
    * count, columns and values (numbers compared as decimals). */
  private def verifyReference(ctx: Ctx, kind: String, body: String, served: Path): Boolean = {
    val spark = ctx.spark
    val json = graft.serve.Json.parse(body).asInstanceOf[scala.collection.Map[String, Any]]
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: Number, y) if y != null => BigDecimal(x.toString) == BigDecimal(y.toString)
      case (x, y) => String.valueOf(x) == String.valueOf(y)
    }
    val df = spark.read.parquet(served.toString)
    kind match {
      case "preview" =>
        val rows = df.limit(10).collect()
        val cols = df.schema.fieldNames.toList
        val data = json("data").asInstanceOf[List[scala.collection.Map[String, Any]]]
        json("columns") == cols && data.size == rows.length &&
          data.zip(rows).forall { case (o, r) => cols.indices.forall(i => same(o(cols(i)), r.get(i))) }
      case "stats" =>
        json("total_records") == df.count() && json("columns") == df.schema.fieldNames.toList
      case "files" =>
        // the API's default directory, relative to its working directory
        val dir = java.nio.file.Paths.get("data/raw")
        val want = if (!java.nio.file.Files.exists(dir)) Nil
          else graft.etl.Ingest.listCsvFiles(spark, dir.toString).collect().map(_.getString(0)).toList
        json("files").asInstanceOf[List[scala.collection.Map[String, Any]]].map(_("name")) == want
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val (servedCsv, servedExp) = EtlWorkload.stage(ctx, "api_served_in", ServedRows)
    val served = ctx.conf.work.resolve("api_served")
    ctx.attempt("served table load")(Pipeline.run(spark,
      PipelineConfig(csvPath = servedCsv.toString, outputPath = served.toString)))
      .foreach(EtlWorkload.verify(ctx, "served table load", _, served, servedExp))
    spark.sparkContext.clearJobGroup()
    val writerCsv = ctx.conf.work.resolve("api_writer_in")
    Stats.deleteTree(writerCsv)
    val writerExp = Gen.ordersDir(writerCsv, ctx.conf.seed, WriterRows, 4)
    val writerOut = ctx.conf.work.resolve("api_writer_out")

    implicit val ec: ExecutionContext = ExecutionContext.global
    val api = new HttpApi(spark, 0)
    val base = s"http://127.0.0.1:${api.start()}"
    try {
      // Reference bodies, checked once against direct computation; every
      // timed response must then equal its reference byte for byte. The
      // runs list changes as the writer runs; it is checked against the
      // writer's completed runs instead.
      val expected = Gen.readKinds.filter(_ != "runs").map { k =>
        val r = http("GET", base + path(k, served))
        val ok = r.status == 200 && verifyReference(ctx, k, r.body, served)
        ctx.check(ok, s"reference $k: ${r.status} ${r.body.take(200)}")
        k -> (if (ctx.conf.sabotage && k == "stats") r.body + " " else r.body)
      }.toMap
      val runBody = Json.write(Json.obj("config" -> Json.obj(
        "csv_path" -> writerCsv.toString, "db_path" -> writerOut.toString,
        "table_name" -> "bench_orders")))
      val wantRecords = writerExp.rowsCleaned
      val completed = new AtomicReference(Set.empty[String])

      /** One API pipeline run: POST, then poll until it leaves running.
        * Traced, it is a `serve.Runs` span under `parent`, with the run id
        * as its request id. */
      def apiRun(parent: Int = 0): Option[Double] = {
        val t = System.nanoTime()
        val t0Ms = System.currentTimeMillis()
        var id: Any = ""
        val res = ctx.attempt("api pipeline run") {
          val post = http("POST", base + "/api/pipeline/run", runBody)
          require(post.status == 200, s"POST ${post.status} ${post.body}")
          id = graft.serve.Json.parse(post.body).asInstanceOf[scala.collection.Map[String, Any]]("run_id")
          var st: scala.collection.Map[String, Any] = Map("status" -> "pending")
          while (st("status") == "pending" || st("status") == "running") {
            require(Stats.secs(t) * 1000 < RunTimeoutMs, "pipeline run timed out")
            Thread.sleep(PollMs)
            st = graft.serve.Json.parse(http("GET", s"$base/api/pipeline/status/$id").body)
              .asInstanceOf[scala.collection.Map[String, Any]]
          }
          val s = Stats.secs(t)
          val got = st("records_processed")
          if (ctx.check(st("status") == "completed" && got == wantRecords,
            s"api run: status=${st("status")} records=$got want $wantRecords")) {
            completed.updateAndGet(_ + id.toString)
            Some(s)
          } else None
        }.flatten
        ctx.tracer.record("serve.Runs", parent, id.toString, t0Ms, System.currentTimeMillis(),
          aliases = Set("graft-pipeline"))
        res
      }

      /** A runs list is right when it is a list of runs in known states
        * that holds every run the writer saw complete before the request
        * was sent, as completed with the expected record count. */
      def runsOk(body: String, done: Set[String]): Boolean = {
        val runs = graft.serve.Json.parse(body).asInstanceOf[List[scala.collection.Map[String, Any]]]
        val byId = runs.map(r => r("run_id").toString -> r).toMap
        runs.forall(r => Set[Any]("pending", "running", "completed").contains(r("status"))) &&
          done.forall(id => byId.get(id).exists(r =>
            r("status") == "completed" && r("records_processed") == wantRecords))
      }

      /** One window of the whole mix, readers and writer, for `seconds`.
        * It records its figures in `ctx`; a later window overwrites them. */
      def window(seconds: Double): Unit = {
        val sched = Gen.schedule(ctx.conf.seed, Dashboards, ClickEveryS, seconds)
        val next = new AtomicInteger(0)
        final case class Rec(kind: String, latMs: Double, svcMs: Double, lateMs: Double, ok: Boolean,
                             endNs: Long)
        val recs = new ConcurrentLinkedQueue[Rec]()
        val runs = new ConcurrentLinkedQueue[Double]()
        val start = System.nanoTime()
        val windowId = ctx.tracer.nextId()
        val (_, winSpan) = ctx.tracer.span("serve.HttpApi.window", id = windowId) {
          val senders = (0 until Senders).map { _ =>
            val th = new Thread(() => {
              var i = next.getAndIncrement()
              while (i < sched.size) {
                val a = sched(i)
                val due = start + (a.dueMs * 1e6).toLong
                val wait = due - System.nanoTime()
                if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
                val done = completed.get
                val sent = System.nanoTime()
                val sentMs = System.currentTimeMillis()
                val r = try http("GET", base + path(a.kind, served))
                  catch { case e: Throwable => Resp(-1, e.toString) }
                val end = System.nanoTime()
                ctx.tracer.record(s"serve.HttpApi.${a.kind}", windowId, s"read-$i", sentMs,
                  System.currentTimeMillis())
                val right = r.status == 200 && (
                  if (a.kind == "runs") scala.util.Try(runsOk(r.body, done)).getOrElse(false)
                  else r.body == expected(a.kind))
                val ok = ctx.check(right, s"${a.kind}: ${r.status} ${r.body.take(200)}")
                recs.add(Rec(a.kind, (end - due) / 1e6, (end - sent) / 1e6, (sent - due) / 1e6, ok, end))
                i = next.getAndIncrement()
              }
            })
            th.setDaemon(true); th.start(); th
          }
          // The writer re-runs the pipeline back to back while the window
          // lasts, so the readers always share the cores with one run.
          val writer = new Thread(() => {
            while (Stats.secs(start) < seconds) apiRun(windowId).foreach(runs.add)
          })
          writer.setDaemon(true); writer.start()
          senders.foreach(_.join())
          writer.join()
        }
        val rs = recs.asScala.toList
        val lat = rs.filter(_.ok).map(_.latMs)
        val runSecs = runs.asScala.toList
        ctx.e2e("pass_s") = Stats.median(runSecs)
        // per second of the readers' window, from its start to the last
        // response
        val readS = (rs.map(_.endNs).maxOption.getOrElse(start) - start) / 1e9
        ctx.e2e("goodput_per_s") = lat.count(_ <= LimitMs) / readS
        def kindLat(k: String) = rs.filter(r => r.ok && r.kind == k).map(_.latMs)
        ctx.info("call_ms_p50") = Stats.median(lat)
        ctx.info("call_ms_p90") = Stats.quantile(lat, 0.9)
        ctx.info("call_ms_p95") = Stats.quantile(lat, 0.95)
        for (k <- Gen.readKinds) {
          ctx.info(s"${k}_ms_p50") = Stats.median(kindLat(k))
          ctx.info(s"${k}_ms_p95") = Stats.quantile(kindLat(k), 0.95)
        }
        ctx.info("reads") = rs.size
        ctx.info("over_limit") = lat.count(_ > LimitMs)
        ctx.info("api_runs_s") = runSecs
        ctx.info("offered_rps") = sched.size / seconds
        ctx.info("svc_ms_p50") = Stats.median(rs.map(_.svcMs))
        ctx.info("svc_ms_p95") = Stats.quantile(rs.map(_.svcMs), 0.95)
        ctx.info("generator_late_ms_p95") = Stats.quantile(rs.map(_.lateMs), 0.95)

        if (ctx.tracer.enabled) {
          val tr = ctx.tracer
          tr.settle()
          val all = tr.jobs.all.filter(j => j.submitMs >= winSpan.startMs && j.submitMs <= winSpan.endMs)
          val readerJobs = all.filter(_.group == "")
          val tot = tr.jobs.totals(readerJobs)
          // per request that runs a query: the runs and files lists run none
          val nReq = math.max(1, rs.count(r => r.kind == "preview" || r.kind == "stats"))
          def svc(k: String) = Stats.median(rs.filter(r => r.ok && r.kind == k).map(_.svcMs))
          ctx.layer("serve.HttpApi.preview_overhead_ms") = svc("preview") - ctx.layer("serve.Queries.preview_ms")
          ctx.layer("serve.HttpApi.stats_overhead_ms") = svc("stats") - ctx.layer("serve.Queries.stats_ms")
          ctx.layer("serve.HttpApi.jobs_per_request") = readerJobs.size.toDouble / nReq
          ctx.layer("serve.HttpApi.exec_cpu_ms_per_request") = tot.cpuMs / nReq
          ctx.layer("serve.HttpApi.job_wait_ms") = Stats.median(readerJobs.filter(_.firstTaskMs >= 0)
            .map(j => (j.firstTaskMs - j.submitMs).toDouble))
          ctx.layer("serve.Runs.run_s") = Stats.median(runSecs)
        }
      }

      // warm-up, untimed but checked: the reference reads above, one
      // cold API run, one runs list, then a short window of the whole
      // mix. Without that window, API runs in the measured window still
      // got 20-30 % faster from first to last as the reader paths warmed.
      apiRun()
      val warmRuns = http("GET", base + path("runs", served))
      ctx.check(warmRuns.status == 200 && runsOk(warmRuns.body, completed.get),
        s"reference runs: ${warmRuns.status} ${warmRuns.body.take(200)}")
      window(WarmWindowS)
      ctx.e2e("setup_s") = ctx.sessionStartS + Stats.secs(t0)

      ctx.measure {
        if (ctx.tracer.enabled) directCalls(ctx, served)
        window(ctx.conf.seconds)
      }
    } finally api.stop()
  }

  /** Traced only: the serving queries called directly, on a temp view
    * whose name the HTTP requests never use, so HTTP still resolves
    * `db_path` per request. */
  private def directCalls(ctx: Ctx, served: Path): Unit = {
    val spark = ctx.spark
    val view = "perfbench_direct_view"
    spark.read.parquet(served.toString).createOrReplaceTempView(view)
    val pv = mutable.ArrayBuffer.empty[Double]
    val st = mutable.ArrayBuffer.empty[Double]
    try for (_ <- 0 until 30) {
      val (_, a) = ctx.tracer.span("serve.Queries.preview")(Queries.preview(spark, view, 10).collect())
      val (_, b) = ctx.tracer.span("serve.Queries.stats")(Queries.stats(spark, view))
      pv += a.wallMs; st += b.wallMs
    } finally spark.catalog.dropTempView(view)
    ctx.layer("serve.Queries.preview_ms") = Stats.median(pv.toSeq)
    ctx.layer("serve.Queries.stats_ms") = Stats.median(st.toSeq)
  }
}
