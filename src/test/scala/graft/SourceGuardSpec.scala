package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Keeps the single primitives single: session conf is mutated only inside
  * [[Sessions.withConf]], the core count is read only by [[Sizing]],
  * fixture dirs are named only by [[graft.ops.Fixtures]], sessions are
  * built only by [[Sessions]], leaked blocks are swept only by the
  * run loop [[Harness.each]], running totals in a global order are
  * computed only by [[graft.ops.Prefix]], loop checkpoints and widths are
  * chosen only by [[graft.ops.Iterate]], and the serving table is found
  * only by [[graft.serve.Queries]]. */
class SourceGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, IndexedSeq[String])] =
    Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList)
      .map(p => p -> Files.readAllLines(p).asScala.toIndexedSeq)

  private def hits(pattern: String, allowed: (Path, IndexedSeq[String], Int) => Boolean): Seq[String] =
    for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex
      if l.contains(pattern) && !allowed(p, lines, i)
    } yield s"$p:${i + 1}: ${l.trim}"

  test("the guard sees the program sources") {
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    assert(sources.exists(_._1.endsWith("Sessions.scala")))
  }

  test("conf.set( / conf.unset( appear only inside Sessions.withConf") {
    def inWithConf(p: Path, lines: IndexedSeq[String], i: Int): Boolean =
      p.endsWith("graft/Sessions.scala") && {
        val start = lines.lastIndexWhere(_.trim.startsWith("def "), i)
        start >= 0 && lines(start).contains("def withConf")
      }
    val bad = hits("conf.set(", inWithConf) ++ hits("conf.unset(", inWithConf)
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("defaultParallelism appears only inside Sizing") {
    val bad = hits("defaultParallelism", (p, _, _) => p.endsWith("graft/Sizing.scala"))
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("graft_fixtures appears only in Fixtures; SparkEntry names no temp dir or memory table") {
    val bad = hits("graft_fixtures", (p, _, _) => p.endsWith("graft/ops/Fixtures.scala")) ++
      Seq("Integer.toHexString(d.hashCode)", "java.io.tmpdir", "_mem_")
        .flatMap(hits(_, (p, _, _) => !p.endsWith("graft/SparkEntry.scala")))
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("SparkSession.builder appears only in Sessions; getPersistentRDDs only in the run loop") {
    def comment(l: String) = { val t = l.trim; t.startsWith("*") || t.startsWith("//") }
    def inEach(p: Path, lines: IndexedSeq[String], i: Int): Boolean =
      p.endsWith("graft/Harness.scala") && {
        val start = lines.lastIndexWhere(_.trim.startsWith("def "), i)
        start >= 0 && lines(start).contains("def each")
      }
    val bad = hits("SparkSession.builder", (p, lines, i) =>
      p.endsWith("graft/Sessions.scala") || comment(lines(i))) ++
      hits("getPersistentRDDs", inEach)
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("spark_partition_id and orderBy(\"pid\") appear only in Prefix") {
    val inPrefix = (p: Path, _: IndexedSeq[String], _: Int) => p.endsWith("graft/ops/Prefix.scala")
    val bad = hits("spark_partition_id", inPrefix) ++ hits("orderBy(\"pid\")", inPrefix)
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("loop plumbing only in Iterate; a global-order window only in Prefix") {
    val inIterate = (p: Path, _: IndexedSeq[String], _: Int) => p.endsWith("graft/ops/Iterate.scala")
    val bad = Seq("materializeObserved(", "withTinyLoopConf(", "Sizing.LoopEdges").flatMap(hits(_, inIterate))
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    // whole files, not lines: a call may break after `Window`
    val window = """Window\s*\.\s*orderBy\(""".r
    val windows = sources.collect { case (p, lines) if !p.endsWith("graft/ops/Prefix.scala") &&
      window.findFirstIn(lines.mkString("\n")).isDefined => p.toString }
    assert(windows.isEmpty, windows.mkString("\n", "\n", ""))
  }

  test("serve/ reads a serving table only in Queries.resolve; no Graft facade object") {
    def inResolve(p: Path, lines: IndexedSeq[String], i: Int): Boolean =
      !p.toString.contains("graft/serve/") || p.endsWith("graft/serve/Queries.scala") && {
        val start = lines.lastIndexWhere(l => l.trim.startsWith("def ") || l.trim.startsWith("private def "), i)
        start >= 0 && lines(start).contains("def resolve(")
      }
    val facade = "\\bobject Graft\\b".r
    val bad = hits("spark.read.parquet(", inResolve) ++ hits("catalog.tableExists", inResolve) ++
      hits("object Graft", (_, lines, i) => facade.findFirstIn(lines(i)).isEmpty)
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }
}
