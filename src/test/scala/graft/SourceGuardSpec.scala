package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Keeps the single primitives single: session conf is mutated only inside
  * [[Sessions.withConf]], the core count is read only by [[Sizing]],
  * fixture dirs are named only by [[graft.ops.Fixtures]], sessions are
  * built only by [[Sessions]], and leaked blocks are swept only by the
  * run loop [[Harness.each]]. */
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
}
