package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Spans recorded from outside the program, around the benchmark's own
  * calls into each layer, plus the Spark jobs attributed to them.
  *
  * A span sets a job group of its own on the calling thread, so the jobs
  * that thread submits carry the span's id. Two program paths replace
  * that group: `Pipeline.run` sets `graft-pipeline`, and each streaming
  * micro-batch runs under its query's run id. A span lists such groups as
  * `aliases`; a job under an alias counts for the span when it was
  * submitted inside the span's interval.
  *
  * Spans stay in memory; [[Tracer.dump]] writes them when the run ends.
  */
final case class Span(id: Int, name: String, parent: Int, requestId: String,
                      startMs: Long, endMs: Long, group: String, aliases: Set[String]) {
  def wallMs: Double = (endMs - startMs).toDouble
}

final class Tracer(spark: SparkSession) {
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new JobListener
  val streams = new StreamListener
  @volatile private var on = false

  def enabled: Boolean = on

  /** Register the listeners and start recording spans. Before this call
    * the tracer only times and clears job groups, so a traced run can
    * first measure its window untraced in the same JVM. */
  def enable(): Unit = synchronized {
    if (!on) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
      on = true
    }
  }

  /** Deliver pending events, then unregister the listeners and stop
    * recording spans; what was recorded so far stays. */
  def disable(): Unit = synchronized {
    if (on) {
      settle()
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(streams)
      on = false
    }
  }

  def nextId(): Int = ids.incrementAndGet()

  /** Run `f` inside a span. The job group is cleared afterwards in every
    * mode, traced or not: `Pipeline.run` leaves its own group set on the
    * caller's thread. */
  def span[T](name: String, parent: Int = 0, requestId: String = "",
              aliases: Set[String] = Set.empty, id: Int = nextId())(f: => T): (T, Span) = {
    val group = s"bench-span-$id"
    val sc = spark.sparkContext
    if (enabled) sc.setJobGroup(group, name)
    val t0 = System.currentTimeMillis()
    try {
      val out = f
      val s = Span(id, name, parent, requestId, t0, System.currentTimeMillis(), group, aliases)
      if (enabled) spans.synchronized(spans += s)
      (out, s)
    } finally sc.clearJobGroup()
  }

  /** Record a span timed by the caller, for work that runs on a thread
    * the benchmark does not own (an HTTP request, an API pipeline run). */
  def record(name: String, parent: Int, requestId: String, startMs: Long, endMs: Long,
             aliases: Set[String] = Set.empty): Unit =
    if (enabled) {
      val id = nextId()
      spans.synchronized(spans += Span(id, name, parent, requestId, startMs, endMs, s"bench-span-$id", aliases))
    }

  /** Deliver pending listener events before reading a span's jobs. */
  def settle(): Unit = if (enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)

  def jobsOf(s: Span): Seq[JobRec] = jobs.all.filter { j =>
    j.group == s.group ||
      (s.aliases.contains(j.group) && j.submitMs >= s.startMs && j.submitMs <= s.endMs)
  }

  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request_id" -> s.requestId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "job_group" -> s.group, "jobs" -> jobsOf(s).map(_.id))
    }
    java.nio.file.Files.write(path, lines.map(Json.write).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Per-job and per-stage task totals, from scheduler events. */
final class StageAgg {
  var tasks = 0
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outputBytes = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final class JobRec(val id: Int, val group: String, val submitMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  @volatile var firstTaskMs: Long = -1L
}

final class JobListener extends SparkListener {
  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]

  def all: Seq[JobRec] = synchronized(jobsById.values.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, g, e.time, e.stageIds)
    jobsById(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      if (j.firstTaskMs < 0) j.firstTaskMs = e.taskInfo.launchTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Totals over the stages of `js` that ran tasks (a stage shared by two
    * jobs is counted once). */
  def totals(js: Seq[JobRec]): Totals = synchronized {
    val aggs = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val widest = if (aggs.isEmpty) None else Some(aggs.maxBy(_.tasks))
    val skew = widest.filter(_.durations.nonEmpty).map { w =>
      val d = w.durations.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2)).toDouble
    }.getOrElse(0.0)
    Totals(js.size, aggs.map(_.tasks).sum, aggs.map(_.cpuNs).sum / 1e6,
      aggs.map(_.inputBytes).sum,
      aggs.map(_.shuffleRead).sum + aggs.map(_.shuffleWrite).sum,
      aggs.map(_.spill).sum, aggs.map(_.outputBytes).sum, skew)
  }
}

final case class Totals(jobs: Int, tasks: Int, cpuMs: Double, inputBytes: Long,
                        shuffleBytes: Long, spillBytes: Long,
                        outputBytes: Long, taskSkew: Double)

object Totals {
  /** Span wall time not covered by any of its jobs: planning, job
    * submission and driver-side work. */
  def driverMs(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (math.max(j.submitMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) covered += cur._2 - cur._1
    math.max(0.0, s.wallMs - covered)
  }
}

/** Streaming progress per run id: batch count and the part of each
  * batch's trigger time that is not `addBatch` (planning, offset and
  * commit logs, state-store maintenance). */
final class StreamListener extends StreamingQueryListener {
  final class Agg { var batches = 0; var triggerMs = 0L; var addBatchMs = 0L }
  private val byRun = mutable.LinkedHashMap.empty[String, Agg]

  def runIds: Set[String] = synchronized(byRun.keySet.toSet)
  def agg(runId: String): Option[Agg] = synchronized(byRun.get(runId))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized(byRun.getOrElseUpdate(e.runId.toString, new Agg))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val a = byRun.getOrElseUpdate(p.runId.toString, new Agg)
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0 || ms("addBatch") > 0) a.batches += 1
    a.triggerMs += ms("triggerExecution")
    a.addBatchMs += ms("addBatch")
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
}
