package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark entry point, one workload per JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--sabotage] [--record]
  * }}}
  * Prints a `VALIDITY` line, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the values of the
  * end-to-end metrics untraced, of the per-layer metrics traced, by name.
  * The names and units are declared once, in `BENCHMARK.json`; `run.py`
  * attaches the units. Exits 0 only when every check passed.
  * `--sabotage` corrupts one expected value so the checker must fail (a
  * self-test); `--record` prints the fingerprints of an ops pass instead
  * of checking them.
  */
object Main {
  val Workloads: Seq[String] = Seq("etl_csv", "api_mixed", "ops_mixed")
  val Cores = 4

  def parse(args: Array[String]): Conf = {
    val valued = Set("--workload", "--seed", "--seconds", "--trace", "--work")
    val flags = Set("--sabotage", "--record")
    args.filter(_.startsWith("--")).foreach(a =>
      require(valued(a) || flags(a), s"unknown option $a"))
    def opt(k: String): Option[String] = args.indexOf(k) match {
      case -1 => None
      case i => args.lift(i + 1)
    }
    val workload = opt("--workload").getOrElse(sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    Conf(workload,
      seed = opt("--seed").map(_.toLong).getOrElse(1L),
      seconds = opt("--seconds").map(_.toDouble).getOrElse(10.0),
      trace = opt("--trace").contains("1"),
      work = Paths.get(opt("--work").getOrElse(".bench_build/perfbench/work")).toAbsolutePath,
      sabotage = args.contains("--sabotage"), record = args.contains("--record"))
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU time the hypervisor gave to other guests (`steal` in /proc/stat),
    * in clock ticks summed over all CPUs; 0 where not reported. */
  private def stealTicks: Long = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) 0L
    else Files.readAllLines(stat).asScala.find(_.startsWith("cpu "))
      .flatMap(_.trim.split("\\s+").lift(8)).map(_.toLong).getOrElse(0L)
  }

  /** This JVM's CPU and GC seconds so far. */
  private def cpuAndGcS: (Double, Double) = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    (os.getProcessCpuTime / 1e9,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    // Bound the whole run: the API's executor threads are non-daemon, so a
    // hung call must not keep the JVM alive past the caller's timeout.
    val watchdog = new Thread(() => {
      Thread.sleep(((conf.seconds + 150) * 1000).toLong)
      System.err.println("perfbench: run exceeded its time bound")
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    System.exit(runAndReport(conf))
  }

  /** Run one workload and print its result; returns the exit status. */
  def runAndReport(conf: Conf): Int = {
    Stats.deleteTree(conf.work)
    // the JVM's java.io.tmpdir lives in here too: the program caches
    // staged fixtures there, and a run must not inherit the previous one's
    Files.createDirectories(conf.work.resolve("tmp"))
    val load0 = loadAvg
    val steal0 = stealTicks
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("graft-perfbench", Cores.toString)
    val startS = Stats.secs(t0)
    val ctx = new Ctx(conf, spark, new Tracer(spark), startS)
    try {
      try conf.workload match {
        case "etl_csv" => EtlWorkload.run(ctx)
        case "api_mixed" => ApiWorkload.run(ctx)
        case _ => OpsWorkload.run(ctx)
      } catch {
        case NonFatal(e) => ctx.check(ok = false, s"workload aborted: $e")
      }
      ctx.e2e("rss_peak_mb") = rssPeakMb
      ctx.layer("Sessions.start_s") = startS

      for (untraced <- ctx.untracedPassS; traced <- ctx.e2e.get("pass_s"))
        ctx.layer("trace.overhead_frac") = traced / untraced - 1

      val metrics = Json.Obj((if (conf.trace) ctx.layer else ctx.e2e).toSeq.map {
        case (name, v) => name -> (v: Any)
      })
      val ok = ctx.failed == 0 && ctx.attempted > 0
      val validity = Json.obj("workload" -> conf.workload, "seed" -> conf.seed,
        "seconds" -> conf.seconds, "trace" -> conf.trace, "cores" -> Cores,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "load_avg_before" -> load0, "load_avg_after" -> loadAvg,
        "steal_ticks" -> (stealTicks - steal0),
        "process_cpu_s" -> cpuAndGcS._1, "gc_s" -> cpuAndGcS._2,
        "tracing_overhead_frac" -> ctx.layer.get("trace.overhead_frac"),
        "untraced_pass_s" -> ctx.untracedPassS,
        "info" -> ctx.info, "end_to_end" -> ctx.e2e,
        "failures" -> ctx.failureLog.take(20))
      val runs = Files.createDirectories(conf.work.getParent.resolve("runs"))
      val tag = s"${conf.workload}-s${conf.seed}-t${if (conf.trace) 1 else 0}"
      Files.writeString(runs.resolve(s"$tag.validity.json"), Json.write(validity) + "\n")
      if (conf.trace) ctx.tracer.dump(runs.resolve(s"$tag.spans.jsonl"))
      ctx.failureLog.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
      println("VALIDITY " + Json.write(validity))
      println(Json.write(Json.obj("correct" -> ok, "attempted" -> ctx.attempted,
        "failed" -> ctx.failed, "metrics" -> metrics)))
      System.out.flush()
      if (ok) 0 else 1
    } finally {
      try spark.stop() catch { case NonFatal(_) => () }
      Stats.deleteTree(conf.work)
    }
  }
}
