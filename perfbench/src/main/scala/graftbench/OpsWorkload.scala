package graftbench

import graft.SparkEntry
import graft.tools.GenData
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `ops_mixed`: one pass per call over a fixed set of registered queries
  * (`SparkEntry.queries`) on generated fixtures, in a seeded order. Each
  * query's whole result is consumed by its fingerprint, which must equal
  * the committed value in `ops_expected.tsv`.
  *
  * The set has two halves: multi-job loop operators, where per-job driver
  * cost and the AvailableNow lifecycle dominate, and one-pass operators,
  * which are shuffle- and CPU-dense with few jobs. */
object OpsWorkload {
  /** Multi-job operators: a Graph label-propagation loop (Iterate), the
    * Multimodal near-duplicate join over a materialized hash table, and an
    * AvailableNow stream. */
  val Loops: Seq[String] = Seq("n7_doc_communities", "m5_image_neardup", "st11_stream_join")
  /** One-pass operators: Dedup (MinHash kernels), TextStats, Similarity
    * and Profiling. */
  val OnePass: Seq[String] = Seq("x2_minhash_lsh", "c1_clean_corpus", "v2_lsh_topk", "p7_psi")
  val Streaming: Seq[String] = Seq("st11_stream_join")
  val Queries: Seq[String] = Loops ++ OnePass

  /** Fixture scale factor (GenData's: 1.0 = 50k documents, 1M events,
    * 20k embeddings). */
  val Sf = 0.01

  /** Write the GenData fixture tables the queries read. They do not depend
    * on the seed. */
  def stageFixtures(spark: SparkSession, dir: Path, sf: Double): Unit = {
    def sz(base: Long): Long = math.max(1L, (base * sf).toLong)
    def write(name: String, df: DataFrame, files: Int): Unit =
      df.coalesce(files).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    write("events", GenData.events(spark, sz(1000000), sz(15000)), 8)
    write("documents", GenData.documents(spark, sz(50000)), 4)
    write("embeddings", GenData.embeddings(spark, sz(20000)), 4)
  }

  def expected: Map[String, Fingerprint.FP] = {
    val in = getClass.getResourceAsStream("/graftbench/ops_expected.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, fp) = l.split('\t'); q -> Fingerprint.FP.parse(fp) }.toMap
    finally in.close()
  }

  final case class QueryRun(name: String, wallS: Double, ok: Boolean, span: Span)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val order = Gen.permute(Queries, ctx.conf.seed)
    val want = expected
    val scratch = ctx.conf.work.resolve("local").resolve("graft-ckpt")
    val t0 = System.nanoTime()
    val sfDir = Files.createDirectories(ctx.conf.work.resolve("fixtures"))
    stageFixtures(spark, sfDir, Sf)

    def one(q: String, parent: Int, pass: String): QueryRun = {
      val before = ctx.tracer.streams.runIds
      val (fp, s) = ctx.tracer.span(s"ops.$q", parent, pass) {
        ctx.attempt(q)(Fingerprint.of(SparkEntry.queries(q)(spark, sfDir.toString), exact = false))
      }
      // Hygiene outside the timer: drop blocks the query left persisted.
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
      val ok = fp.exists { got =>
        if (ctx.conf.record) { println(s"EXPECT\t$q\t$got"); true }
        else {
          val w = want.get(q).map(e => if (ctx.conf.sabotage) e.copy(rows = e.rows + 1) else e)
          ctx.check(w.contains(got), s"$q: got $got, want ${w.getOrElse("(no committed value)")}")
        }
      }
      ctx.tracer.settle()
      val started = ctx.tracer.streams.runIds -- before
      QueryRun(q, s.wallMs / 1000, ok, s.copy(aliases = started))
    }

    var nPass = 0
    def pass(): (Double, Seq[QueryRun]) = {
      val p0 = System.nanoTime()
      val id = ctx.tracer.nextId()
      nPass += 1
      val (runs, _) = ctx.tracer.span("ops.pass", requestId = s"pass-$nPass", id = id)(
        order.map(one(_, id, s"pass-$nPass")))
      (Stats.secs(p0), runs)
    }

    pass() // warm pass: untimed, checked
    val leak0 = Stats.deleteTree(scratch)
    ctx.e2e("setup_s") = ctx.sessionStartS + Stats.secs(t0)

    val passes = mutable.ArrayBuffer.empty[(Double, Seq[QueryRun])]
    val leaks = mutable.ArrayBuffer(leak0.toDouble)
    var tracedPasses = Seq.empty[(Double, Seq[QueryRun])]
    ctx.measure {
      passes.clear()
      val w0 = System.nanoTime()
      do {
        passes += pass()
        leaks += Stats.deleteTree(scratch).toDouble
      } while (Stats.secs(w0) < ctx.conf.seconds)
      val busy = passes.map(_._1).sum
      val good = passes.flatMap(_._2).filter(_.ok)
      def walls(q: String) = good.filter(_.name == q).map(_.wallS).toSeq
      // A pass as the sum of each query's median wall over the window's
      // passes, so one slow call moves it less than a mean would.
      ctx.e2e("pass_s") =
        if (Queries.forall(walls(_).nonEmpty)) Queries.map(q => Stats.median(walls(q))).sum else 0.0
      // Correct queries per busy second. The queries run back to back with
      // no per-call latency limit, so this mirrors (queries per pass) /
      // pass_s; it departs from it only when queries fail.
      ctx.e2e("goodput_per_s") = good.size / busy
      ctx.info("call_ms_p50") = Stats.median(good.map(_.wallS * 1000).toSeq)
      ctx.info("call_ms_p90") = Stats.quantile(good.map(_.wallS * 1000).toSeq, 0.9)
      ctx.info("passes") = passes.size
      ctx.info("per_query_s") = Json.Obj(Queries.map(q => q -> Stats.median(walls(q))))
      if (ctx.tracer.enabled) tracedPasses = passes.toList
    }
    ctx.info("order") = order

    if (ctx.tracer.enabled) {
      val tr = ctx.tracer
      val all = tracedPasses.flatMap(_._2)
      for (q <- Queries) {
        val rs = all.filter(_.name == q)
        def med(f: QueryRun => Double) = Stats.median(rs.map(f).toSeq)
        def tot(r: QueryRun) = tr.jobs.totals(tr.jobsOf(r.span))
        val p = s"ops.$q"
        ctx.layer(s"$p.wall_s") = med(_.wallS)
        ctx.layer(s"$p.tasks") = med(tot(_).tasks)
        ctx.layer(s"$p.exec_cpu_ms") = med(tot(_).cpuMs)
        ctx.layer(s"$p.shuffle_bytes") = med(tot(_).shuffleBytes.toDouble)
        if (Loops.contains(q)) {
          ctx.layer(s"$p.jobs") = med(tot(_).jobs)
          ctx.layer(s"$p.driver_ms") = med(r => Totals.driverMs(r.span, tr.jobsOf(r.span)))
        } else {
          ctx.layer(s"$p.spill_bytes") = med(tot(_).spillBytes.toDouble)
          ctx.layer(s"$p.task_skew") = med(tot(_).taskSkew)
        }
        if (Streaming.contains(q)) {
          val aggs = rs.map(r => r.span.aliases.toSeq.flatMap(tr.streams.agg))
          ctx.layer(s"streaming.$q.batches") = Stats.median(aggs.map(_.map(_.batches).sum.toDouble).toSeq)
          ctx.layer(s"streaming.$q.overhead_ms") =
            Stats.median(aggs.map(_.map(a => (a.triggerMs - a.addBatchMs).toDouble).sum).toSeq)
        }
      }
      ctx.layer("streaming.scratch_leak_bytes") = Stats.median(leaks.drop(1).toSeq)
    }
    ctx.info("scratch_leak_bytes") = Stats.median(leaks.drop(1).toSeq)
  }
}
