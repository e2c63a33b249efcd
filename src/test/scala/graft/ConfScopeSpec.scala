package graft

import graft.ops.Graph
import graft.serve.Queries
import graft.streaming.Streams
import org.apache.spark.sql.functions._

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** [[Sessions.withConf]]: the one save/set/restore scope for session conf. */
class ConfScopeSpec extends SparkSpec {

  private val k = "graft.test.conf_scope"
  private val k2 = "graft.test.conf_scope_2"

  test("a value set before is restored after the body throws") {
    spark.conf.set(k, "orig")
    try {
      intercept[IllegalStateException] {
        Sessions.withConf(spark, k -> "inside") {
          assert(spark.conf.get(k) == "inside")
          throw new IllegalStateException("boom")
        }
      }
      assert(spark.conf.get(k) == "orig")
    } finally spark.conf.unset(k)
  }

  test("a key absent before stays unset after") {
    assert(spark.conf.getOption(k).isEmpty)
    val got = Sessions.withConf(spark, k -> "x")(spark.conf.get(k))
    assert(got == "x")
    assert(spark.conf.getOption(k).isEmpty)
  }

  test("nested scopes restore in order") {
    Sessions.withConf(spark, k -> "outer") {
      Sessions.withConf(spark, k -> "inner", k2 -> "b") {
        assert(spark.conf.get(k) == "inner" && spark.conf.get(k2) == "b")
      }
      assert(spark.conf.get(k) == "outer")
      assert(spark.conf.getOption(k2).isEmpty)
    }
    assert(spark.conf.getOption(k).isEmpty)
  }

  test("two threads: a scope entered while another is open does not leak its value") {
    // A enters and stays inside until B has entered (or a timeout);
    // B stays inside until A has exited. Unserialized, B saves A's "1"
    // and restores it after A has already restored the original.
    val aIn, bIn, aOut = new CountDownLatch(1)
    val a = new Thread(() => {
      Sessions.withConf(spark, k -> "1") {
        aIn.countDown()
        bIn.await(500, TimeUnit.MILLISECONDS)
      }
      aOut.countDown()
    })
    val b = new Thread(() => {
      aIn.await()
      Sessions.withConf(spark, k -> "2") {
        bIn.countDown()
        aOut.await(5, TimeUnit.SECONDS)
      }
    })
    a.start(); b.start(); a.join(10000); b.join(10000)
    assert(!a.isAlive && !b.isAlive)
    assert(spark.conf.getOption(k).isEmpty, s"leaked ${spark.conf.getOption(k)}")
  }

  test("a loop, a stream and a preview on one session concurrently: sequential results, conf unchanged") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val dir = tmpDir("conf_scope_stream").resolve("in").toString
    spark.range(0, 300).select(($"id" % 7).as("g"), $"id").coalesce(3).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    spark.range(0, 50).toDF("id").createOrReplaceTempView("conf_scope_preview")

    def loop() = Graph.labelPropagation(pairs).orderBy("v").collect().toSeq
    def stream(name: String) = {
      Streams.runToMemory(Streams.parquetDirStream(spark, dir, schema)
        .groupBy("g").agg(count(lit(1)).as("n")), name)
      spark.table(name).orderBy("g").collect().toSeq
    }
    def preview() = Queries.preview(spark, "conf_scope_preview", 5).collect().toSeq

    val conf0 = spark.conf.getAll
    val want = (loop(), stream("conf_scope_seq"), preview())
    assert(spark.conf.getAll == conf0)

    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      for (i <- 1 to 2) {
        val got = Await.result(
          Future(loop()).zip(Future(stream(s"conf_scope_par$i"))).zip(Future(preview())),
          3.minutes)
        assert(got == ((want._1, want._2), want._3), s"round $i")
        assert(spark.conf.getAll == conf0, s"round $i left the session conf changed")
      }
    } finally pool.shutdown()
  }
}
