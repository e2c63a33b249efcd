package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Tests of the benchmark harness itself: seeded inputs, the result
  * fingerprint, and that a wrong result fails the run. */
class HarnessSpec extends AnyFunSuite {
  private val scratch = Files.createDirectories(
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "harness-spec"))

  private def fresh(name: String): Path = {
    val d = scratch.resolve(name)
    Stats.deleteTree(d)
    d
  }

  private def contents(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala.map(p =>
      p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  test("the same seed gives byte-identical CSV inputs; another seed does not") {
    val a = Gen.lineitemDir(fresh("a"), seed = 7, rows = 5000, files = 4)
    val b = Gen.lineitemDir(fresh("b"), seed = 7, rows = 5000, files = 4)
    val c = Gen.lineitemDir(fresh("c"), seed = 8, rows = 5000, files = 4)
    assert(contents(scratch.resolve("a")) == contents(scratch.resolve("b")))
    assert(a == b)
    assert(contents(scratch.resolve("a")) != contents(scratch.resolve("c")))
    assert(a.rowsCleaned < a.rowsIngested && a.missingColumn.nonEmpty)
  }

  test("the same seed gives the same schedule and order; another seed does not") {
    assert(Gen.schedule(3, 4, 3.0, 20.0) == Gen.schedule(3, 4, 3.0, 20.0))
    assert(Gen.schedule(3, 4, 3.0, 20.0) != Gen.schedule(4, 4, 3.0, 20.0))
    assert(Gen.schedule(3, 4, 3.0, 20.0).map(_.kind).toSet == Gen.readKinds.toSet)
    assert(Gen.schedule(3, 4, 3.0, 20.0).size == Gen.schedule(4, 4, 3.0, 20.0).size)
    val qs = OpsWorkload.Queries
    assert(Gen.permute(qs, 5) == Gen.permute(qs, 5))
    assert(Gen.permute(qs, 5).sorted == qs.sorted)
    assert((1 to 10).map(s => Gen.permute(qs, s.toLong)).distinct.size > 1)
  }

  private val names = Array("k", "price", "flag", "day")
  private val rows: IndexedSeq[IndexedSeq[Any]] = (0 until 50).map(i =>
    IndexedSeq[Any](i.toLong, i * 1.25, if (i % 2 == 0) "A" else null,
      java.time.LocalDate.of(1995, 1, 1).plusDays(i.toLong)))

  test("the fingerprint ignores row order and column order") {
    val fp = Fingerprint.ofRows(names, rows, exact = true)
    assert(Fingerprint.ofRows(names, rows.reverse, exact = true) == fp)
    val perm = Array(2, 0, 3, 1)
    assert(Fingerprint.ofRows(perm.map(names), rows.map(r => perm.toIndexedSeq.map(r)), exact = true) == fp)
  }

  test("the fingerprint changes when any single cell changes") {
    val fp = Fingerprint.ofRows(names, rows, exact = true)
    for (r <- rows.indices; c <- names.indices) {
      val changed: Any = rows(r)(c) match {
        case l: Long => l + 1
        case d: Double => d + 0.01
        case null => "A"
        case s: String => s + "x"
        case d: java.time.LocalDate => d.plusDays(1)
      }
      val edited = rows.updated(r, rows(r).updated(c, changed))
      assert(Fingerprint.ofRows(names, edited, exact = true) != fp, s"cell ($r, $c)")
    }
  }

  test("the distributed fingerprint equals the driver-side one, whatever the partitioning") {
    val spark = SparkSession.builder().master("local[2]").appName("harness-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val df = rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Double],
        r(2).asInstanceOf[String])).toDF("k", "price", "flag")
      val local = Fingerprint.ofRows(Array("k", "price", "flag"), rows.map(_.take(3)), exact = true)
      assert(Fingerprint.of(df, exact = true) == local)
      assert(Fingerprint.of(df.repartition(5).select("flag", "k", "price"), exact = true) == local)
    } finally spark.stop()
  }

  test("a forced wrong result counts as failed and makes the run exit non-zero") {
    val out = new ByteArrayOutputStream()
    val conf = Conf("etl_csv", seed = 1, seconds = 1.0, trace = false,
      work = fresh("run").resolve("work"), sabotage = true)
    val status = Console.withOut(out)(Main.runAndReport(conf))
    val last = out.toString("UTF-8").trim.linesIterator.toSeq.last
    val result = graft.serve.Json.parse(last).asInstanceOf[scala.collection.Map[String, Any]]
    assert(status != 0)
    assert(result("correct") == false)
    assert(result("failed").asInstanceOf[Long] > 0)
    assert(result("failed").asInstanceOf[Long] <= result("attempted").asInstanceOf[Long])
  }
}
