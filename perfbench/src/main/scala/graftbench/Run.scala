package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run's settings, from the command line. */
final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, sabotage: Boolean = false, record: Boolean = false)

/** Shared state of one run: the session, the tracer, the failure ledger
  * and the metrics collected so far. */
final class Ctx(val conf: Conf, val spark: SparkSession, val tracer: Tracer,
                val sessionStartS: Double) {
  private var attempted0 = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** `pass_s` of the untraced window that follows the traced one in a
    * traced run (see [[measure]]). */
  var untracedPassS: Option[Double] = None

  /** Run the measured window. A traced run runs it three times in the same
    * JVM: untraced, traced, untraced. The traced window's figures are
    * reported; the untraced window after it gives the tracing overhead.
    * The first window is one more warm-up: windows still get faster as
    * the JIT catches up, and what warm-up is left makes the overhead read
    * high, not low. The tracer is left enabled. */
  def measure(window: => Unit): Unit =
    if (!conf.trace) window
    else {
      window
      tracer.enable()
      window
      val traced = e2e.clone()
      tracer.disable()
      window
      untracedPassS = e2e.get("pass_s")
      e2e ++= traced
      tracer.enable()
    }

  def attempted: Int = synchronized(attempted0)
  def failed: Int = synchronized(failures.size)
  def failureLog: Seq[String] = synchronized(failures.toList)

  /** Count one checked operation; a failure is recorded with its reason
    * and never contributes a timing. */
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted0 += 1
    if (!ok) failures += what
    ok
  }

  /** Run a checked operation; an exception counts as a failure. */
  def attempt[T](what: String)(f: => T): Option[T] =
    try Some(f)
    catch {
      case e: Throwable =>
        check(ok = false, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Remove a directory tree; returns the bytes it held. */
  def deleteTree(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val walk = Files.walk(p)
    try {
      val all = walk.iterator().asScala.toList.reverse
      val bytes = all.filter(Files.isRegularFile(_)).map(Files.size).sum
      all.foreach(Files.deleteIfExists)
      bytes
    } finally walk.close()
  }
}
