package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** S1–S4, U1: file/dir CSV ingestion semantics
  * (reference: /root/reference/src/ingest.py, api.py:34-51). */
class IngestSpec extends SparkSpec {

  private def write(dir: java.nio.file.Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  test("S1: single CSV file with header + inferred schema") {
    val d = tmpDir("s1")
    write(d, "t.csv", "id,name\n1,a\n2,b\n")
    val df = Ingest.readCsvFile(spark, d.resolve("t.csv").toString)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 2)
    assert(df.schema("id").dataType.typeName == "integer")
  }

  test("S1: non-CSV suffix rejected") {
    intercept[Ingest.IngestException] {
      Ingest.readCsvFile(spark, "/tmp/whatever.txt")
    }
  }

  test("S4: missing path rejected") {
    intercept[Ingest.IngestException] {
      Ingest.ingest(spark, "/tmp/graft_does_not_exist_xyz")
    }
  }

  test("S2: tolerant dir scan skips hidden files") {
    val d = tmpDir("s2hidden")
    write(d, "a.csv", "x\n1\n")
    write(d, ".hidden.csv", "x\n99\n")
    val df = Ingest.readCsvDir(spark, d.toString)
    assert(df.count() == 1)
  }

  test("S2: strict dir scan includes hidden files (api.py variant)") {
    val d = tmpDir("s2strict")
    write(d, "a.csv", "x\n1\n")
    write(d, ".hidden.csv", "x\n99\n")
    val df = Ingest.readCsvDir(spark, d.toString, strict = true)
    assert(df.count() == 2)
  }

  test("S2: empty dir errors like FileNotFoundError") {
    val d = tmpDir("s2empty")
    write(d, "notes.txt", "not a csv")
    intercept[Ingest.IngestException] { Ingest.readCsvDir(spark, d.toString) }
  }

  test("S2 fullValidation: a deep malformed row skips that file, keeps the rest") {
    val d = tmpDir("s2deep")
    write(d, "good.csv", "x,y\n1,a\n2,b\n")
    // row 2 has extra columns — parses fine at row 1, fails deeper (FAILFAST)
    write(d, "bad.csv", "x,y\n1,a\n2,b,EXTRA,COLS\n3,c\n")
    val df = Ingest.readCsvDir(spark, d.toString, fullValidation = true)
    assert(df.count() == 2) // only good.csv survived
  }

  test("U1: union-by-name aligns heterogeneous schemas with null fill") {
    val d = tmpDir("u1")
    write(d, "a.csv", "id,name\n1,x\n")
    write(d, "b.csv", "id,score\n2,9.5\n")
    val df = Ingest.readCsvDir(spark, d.toString)
    assert(df.columns.toSet == Set("id", "name", "score"))
    assert(df.count() == 2)
    val row2 = df.filter(df("id") === 2).collect().head
    assert(row2.isNullAt(row2.fieldIndex("name")))
  }

  test("S2 fast path: one multi-file scan reads all CSVs in dir") {
    val d = tmpDir("s2fast")
    write(d, "a.csv", "id,name\n1,x\n")
    write(d, "b.csv", "id,name\n2,y\n")
    val df = Ingest.readCsvDirFast(spark, d.toString)
    assert(df.count() == 2)
  }

  test("S6: file listing with sizes; missing dir is empty not error") {
    val d = tmpDir("s6")
    write(d, "a.csv", "x" * 10)
    write(d, "skip.txt", "zz")
    val rows = Ingest.listCsvFiles(spark, d.toString).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a.csv"))
    assert(rows.head.getLong(2) == 10L)
    assert(Ingest.listCsvFiles(spark, "/tmp/graft_nope").count() == 0)
  }

  test("S2 strict: the hidden-file shim leaves nothing behind once its JVM exits") {
    val d = tmpDir("hiddenshim")
    write(d, ".h.csv", "x\n1\n")
    val childTmp = tmpDir("hiddenshim_tmp")
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(javaBin, s"-Djava.io.tmpdir=$childTmp",
      "-cp", System.getProperty("java.class.path"),
      "graft.etl.HiddenShimMain", d.resolve(".h.csv").toString)
      .redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes()).trim
    assert(child.waitFor() == 0, out)
    assert(out.linesIterator.exists(l => l.startsWith(childTmp.toString) && l.endsWith("unhidden.csv")), out)
    val left = Files.list(childTmp).iterator().asScala.toList
    assert(left.isEmpty, left.mkString(", "))
  }
}

/** Builds the hidden-file shim for `args(0)`, prints its path and exits. */
object HiddenShimMain {
  def main(args: Array[String]): Unit = println(Ingest.visible(args(0)))
}
