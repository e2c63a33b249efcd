package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local JVM-wide SparkSession
  * (getOrCreate), configured exactly like Verify/Bench via [[Sessions]].
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("graft-test", cpus = "4")

  def tmpDir(tag: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_test_$tag")
    p.toFile.deleteOnExit()
    p
  }

  /** Jobs that `body` submits under `group`. A sentinel job in a group of
    * its own follows `body`; the listener bus delivers events in order, so
    * once the sentinel's end arrives every job of `body` has been seen. */
  def jobsInGroup(group: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val sentinel = s"jobs-sentinel-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group`    => seen.incrementAndGet()
          case `sentinel` => sentinelIds.add(e.jobId)
          case _          =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelIds.contains(e.jobId)) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "listener-bus sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "sentinel job never seen")
      seen.get
    } finally sc.removeSparkListener(listener)
  }

  /** sf0.001 testdata dir — available in this environment, read-only. */
  val sfDir = "/root/testdata/sf0.001"
}
