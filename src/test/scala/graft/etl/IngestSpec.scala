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

  test("S2: a deep malformed row skips that file, keeps the rest") {
    val d = tmpDir("s2deep")
    write(d, "good.csv", "x,y\n1,a\n2,b\n")
    // row 2 has extra columns — parses fine at row 1, fails deeper (FAILFAST)
    write(d, "bad.csv", "x,y\n1,a\n2,b,EXTRA,COLS\n3,c\n")
    val df = Ingest.readCsvDir(spark, d.toString)
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

  test("S2: a file whose first data row has extra fields is skipped; strict aborts naming it") {
    val d = tmpDir("s2firstrow")
    write(d, "a.csv", "x,y\n1,a\n2,b\n")
    write(d, "bad.csv", "x,y\n3,c,EXTRA\n4,d\n")
    write(d, "c.csv", "x,y\n5,e\n")
    val df = Ingest.readCsvDir(spark, d.toString)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 5))
    val e = intercept[Ingest.IngestException] {
      Ingest.readCsvDir(spark, d.toString, strict = true)
    }
    assert(e.getMessage.contains("bad.csv"), e.getMessage)
  }

  test("S2: dtypes are inferred per file, then widened by the union") {
    import org.apache.spark.sql.types.{DoubleType, StringType}
    val num = tmpDir("s2num")
    write(num, "a.csv", "x\n1\n2\n")
    write(num, "b.csv", "x\n1.5\n2.25\n")
    val dn = Ingest.readCsvDir(spark, num.toString)
    assert(dn.schema("x").dataType == DoubleType)
    assert(dn.collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.0, 1.5, 2.0, 2.25))
    // ints in one file and words in another read as string in both, as
    // pd.concat's object column holds them (ANSI union widening would
    // take int ∪ string to bigint and fail on the words)
    val mixed = tmpDir("s2mixed")
    write(mixed, "a.csv", "x\n1\n2\n")
    write(mixed, "b.csv", "x\nfoo\nbar\n")
    val dm = Ingest.readCsvDir(spark, mixed.toString)
    assert(dm.schema("x").dataType == StringType)
    assert(dm.collect().map(_.getString(0)).toSeq == Seq("1", "2", "foo", "bar"))
  }

  test("S2: a header-only file adds its columns and no rows") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val d = tmpDir("s2headeronly")
    write(d, "a.csv", "id,name\n1,x\n2,y\n")
    write(d, "h.csv", "id,extra\n")
    val df = Ingest.readCsvDir(spark, d.toString)
    assert(df.columns.toSeq == Seq("id", "name", "extra"))
    // the header-only file's columns infer as string; id widens with a.csv's int
    assert(df.schema("id").dataType == LongType)
    assert(df.schema("extra").dataType == StringType)
    assert(df.count() == 2)
    assert(df.filter(df("extra").isNotNull).count() == 0)
  }

  test("S2: a 0-byte CSV file reads as no columns and no rows") {
    val d = tmpDir("s2zero")
    write(d, "a.csv", "x\n1\n")
    write(d, "empty.csv", "")
    val df = Ingest.readCsvDir(spark, d.toString)
    assert(df.columns.toSeq == Seq("x"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1))
    val only = tmpDir("s2zeroonly")
    write(only, "empty.csv", "")
    for (alone <- Seq(Ingest.readCsvDir(spark, only.toString, strict = true),
                      Ingest.readCsvFile(spark, only.resolve("empty.csv").toString))) {
      assert(alone.columns.isEmpty)
      assert(alone.collect().isEmpty)
    }
  }

  test("S2: the checks and the dtypes hold when each file is read in many splits") {
    import org.apache.spark.sql.functions.sum
    import org.apache.spark.sql.types.DoubleType
    val d = tmpDir("s2splits")
    val rows = (1 to 200).map(i => s"$i,v$i")
    write(d, "a.csv", ("x,y" +: rows :+ "0.5,last").mkString("", "\n", "\n"))
    write(d, "b.csv", ("x,y" +: "1,a,EXTRA" +: rows).mkString("", "\n", "\n"))
    write(d, "c.csv", ("x,y" +: (rows.take(100) ++ ("7,deep,EXTRA" +: rows.drop(100)))).mkString("", "\n", "\n"))
    def kept(df: org.apache.spark.sql.DataFrame) = df.inputFiles.map(_.split('/').last).sorted.toSeq
    graft.Sessions.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "256",
                            "spark.sql.files.openCostInBytes" -> "0") {
      assert(spark.read.text(d.resolve("a.csv").toString).rdd.getNumPartitions > 4)
      // b.csv's first data row is rejected, and c.csv's deeper one too
      val df = Ingest.readCsvDir(spark, d.toString)
      assert(kept(df) == Seq("a.csv"))
      assert(df.schema("x").dataType == DoubleType)
      assert(df.agg(sum("x")).head.getDouble(0) == 20100.5)
    }
  }

  test("S1: the one-job inference gives the schema Spark's own inferSchema gives") {
    val d = tmpDir("s1types")
    write(d, "t.csv", Seq(
      "i,big,d,b,dec,day,ts,nul,q,mixed",
      "1,9000000000,1.5,true,12345678901234567890,2024-01-31,2024-01-31 10:11:12,,\"a, quoted\",1",
      "2,-3,2e3,FALSE,1,2024-02-29,2024-02-29T23:59:59,,plain,x",
      "3,,,,,,,,\"\",2.5"
    ).mkString("", "\n", "\n"))
    val f = d.resolve("t.csv").toString
    val ours = Ingest.readCsvFile(spark, f)
    val sparks = spark.read.option("header", "true").option("inferSchema", "true").csv(f)
    assert(ours.schema == sparks.schema)
    assert(ours.collect().toSeq == sparks.collect().toSeq)
    assert(ours.schema.map(_.dataType.simpleString) ==
      Seq("int", "bigint", "double", "boolean", "decimal(20,0)", "date", "timestamp", "string", "string", "string"))
  }

  /** `body` with every file of a scan packed into one scan partition. */
  private def oneScanPartition[T](body: => T): T =
    graft.Sessions.withConf(spark, "spark.sql.files.openCostInBytes" -> "1",
      "spark.sql.files.maxPartitionBytes" -> "1g", "spark.sql.files.minPartitionNum" -> "1")(body)

  test("S2: files that share one scan partition keep their own dtypes, checks and neighbours") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, TimestampType}
    val d = tmpDir("s2shared")
    write(d, "a.csv", "k,i\n1,10\n2,20\n")
    write(d, "b.csv", "k,d\n3,1.5\n4,2.5\n")
    write(d, "bad.csv", "k,i\n7,70\n8,80,EXTRA\n9,90\n")
    write(d, "c.csv", "k,w\n5,foo\n6,bar\n")
    write(d, "t.csv", "k,t\n10,2024-01-31 10:11:12\n")
    oneScanPartition {
      assert(spark.read.text(d.toString).rdd.getNumPartitions == 1)
      val df = Ingest.readCsvDir(spark, d.toString)
      assert(df.columns.toSeq == Seq("k", "i", "d", "w", "t"))
      assert(df.schema.map(_.dataType) == Seq(IntegerType, IntegerType, DoubleType, StringType, TimestampType))
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5, 6, 10))
      val e = intercept[Ingest.IngestException](Ingest.readCsvDir(spark, d.toString, strict = true))
      assert(e.getMessage.contains("bad.csv"), e.getMessage)
    }
  }

  test("S2: names with a space, % and #, and a hidden file, each get their own header's schema") {
    import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, StringType}
    val d = tmpDir("s2names")
    write(d, "a b.csv", "k,sp\n1,10\n")
    write(d, "p%20q.csv", "k,pct\n2,0.5\n")
    write(d, "h#1.csv", "k,hash\n3,x\n")
    write(d, ".hidden.csv", "k,hid\n4,true\n")
    for (packed <- Seq(false, true)) {
      val df = if (packed) oneScanPartition(Ingest.readCsvDir(spark, d.toString, strict = true))
               else Ingest.readCsvDir(spark, d.toString, strict = true)
      assert(df.schema.map(f => f.name -> f.dataType) == Seq("k" -> IntegerType, "hid" -> BooleanType,
        "sp" -> IntegerType, "hash" -> StringType, "pct" -> DoubleType), packed)
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(4, 1, 3, 2), packed)
    }
  }

  test("S2: a file whose scan fails is skipped, or named in strict mode; its scan neighbours still load") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    val d = tmpDir("s2scanfail")
    write(d, "a.csv", "k,i\n1,10\n")
    write(d, "broken.csv", "k,x\n2,20\n")
    write(d, "c.csv", "k,d\n3,1.5\n")
    val files = Seq("a.csv", "broken.csv", "c.csv").map(n => s"${FailingScanFs.Scheme}://${d.resolve(n)}")
    graft.Sessions.withConf(spark, s"fs.${FailingScanFs.Scheme}.impl" -> classOf[FailingScanFs].getName,
                            s"fs.${FailingScanFs.Scheme}.impl.disable.cache" -> "true") {
      oneScanPartition {
        assert(spark.read.text(files: _*).rdd.getNumPartitions == 1)
        val kept = Ingest.readFiles(spark, files, strict = false)
        assert(kept.map(_.schema.map(_.dataType)) == Seq(Seq(IntegerType, IntegerType), Seq(IntegerType, DoubleType)))
        assert(kept.map(_.collect().map(_.getInt(0)).toSeq) == Seq(Seq(1), Seq(3)))
        val e = intercept[Ingest.IngestException](Ingest.readFiles(spark, files, strict = true))
        assert(e.getMessage.contains("broken.csv") && e.getMessage.contains("FAILED_READ_FILE"), e.getMessage)
      }
    }
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

/** The local filesystem under its own scheme, except that a task cannot
  * open a file whose name starts with "broken": the driver reads its
  * header, and the scan of it fails. */
class FailingScanFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, Path}
  override def getUri: java.net.URI = java.net.URI.create(s"${FailingScanFs.Scheme}:///")
  override def getScheme: String = FailingScanFs.Scheme
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    if (f.getName.startsWith("broken") && org.apache.spark.TaskContext.get() != null)
      throw new java.io.IOException(s"scan failed: $f")
    else super.open(f, bufferSize)
}

object FailingScanFs {
  val Scheme = "failingscan"
}
