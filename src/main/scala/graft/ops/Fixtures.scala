package graft.ops

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The fixture cache: every temp-dir fixture the query registry stages
  * from a dataset dir lives under `java.io.tmpdir/graft_fixtures`, one dir
  * per (tag, dataset dir). A cached fixture is complete when its
  * `_GRAFT_COMPLETE` marker holds the dataset dir's current [[fingerprint]];
  * anything else is torn down and rebuilt, so regenerating a dataset in
  * place never serves the old fixtures.
  *
  * The CSV fixtures (S1/S2/S6) are rewritten on every call: the testdata is
  * parquet, so the CSV operators exercise a parquet→CSV→ingest round trip.
  * Everything is derived from the driver tables, so the DuckDB oracle can
  * state the expected result straight off the parquet.
  */
object Fixtures {
  private val Marker = "_GRAFT_COMPLETE"
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Per-dataset name suffix: the dataset dir's path hash. */
  def key(sfDir: String): String = Integer.toHexString(sfDir.hashCode)

  /** Where fixture `tag` of dataset dir `sfDir` lives. */
  def dir(tag: String, sfDir: String): String =
    Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_fixtures",
      tag + "_" + key(sfDir)).toString

  /** The cached fixture `tag` of `sfDir`, returned as its dir. When the
    * marker is missing or holds another fingerprint, the dir is cleared,
    * `build` writes into it (Spark writers: mode overwrite) and the marker
    * is written last — a build that throws leaves no marker, and the next
    * call rebuilds. Calls on one fixture are serialized within the JVM.
    */
  def staged(tag: String, sfDir: String)(build: String => Unit): String = {
    val d = dir(tag, sfDir)
    locks.computeIfAbsent(d, _ => new AnyRef).synchronized {
      val marker = Paths.get(d, Marker)
      val fp = fingerprint(sfDir)
      if (!Files.exists(marker) || Files.readString(marker) != fp) {
        freshDir(d)
        build(d)
        Files.writeString(marker, fp)
      }
    }
    d
  }

  /** One line per top-level entry of `sfDir`: its name, the total bytes
    * under it and the latest mtime under it. */
  private[graft] def fingerprint(sfDir: String): String =
    Option(new File(sfDir).listFiles()).toSeq.flatten.sortBy(_.getName).map { e =>
      val files = if (e.isDirectory) FileUtils.listFiles(e, null, true).asScala.toSeq else Seq(e)
      s"${e.getName}\t${files.map(_.length).sum}\t${(e +: files).map(_.lastModified).max}"
    }.mkString("\n")

  private def freshDir(d: String): Path = {
    FileUtils.deleteQuietly(new File(d))
    Files.createDirectories(Paths.get(d))
  }

  /** Write df as a single named CSV file (header) inside a fresh dir;
    * returns the file path. Uses Spark's CSV writer then renames the
    * single part file — fixture-sized data only.
    */
  def csvFile(df: DataFrame, tag: String, sfDir: String, fileName: String): String = {
    val dir = freshDir(this.dir(tag, sfDir))
    val stage = dir.resolve("_stage")
    df.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(stage.toString)
    val part = Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".csv"))
      .getOrElse(sys.error(s"no csv part written under $stage"))
    val target = dir.resolve(fileName)
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    FileUtils.deleteQuietly(stage.toFile)
    target.toString
  }

  /** A directory of CSV files (one per (name, frame)), plus a hidden
    * `.junk.csv` that the tolerant dir scan must skip. Returns the dir.
    */
  def csvDir(tag: String, sfDir: String, parts: Seq[(String, DataFrame)]): String = {
    val dir = freshDir(this.dir(tag, sfDir))
    parts.foreach { case (name, df) =>
      val f = csvFile(df, tag + "_part_" + name, sfDir, name)
      Files.move(Paths.get(f), dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    Files.writeString(dir.resolve(".junk.csv"), "this,is\nnot,read\n")
    dir.toString
  }

  /** A directory with fixed-content files for the file-listing query —
    * byte sizes are deterministic so the oracle can be literal VALUES. */
  def listingDir(sfDir: String): String = {
    val dir = freshDir(this.dir("listing", sfDir))
    Files.writeString(dir.resolve("a.csv"), "x" * 100)
    Files.writeString(dir.resolve("b.csv"), "y" * 2048)
    Files.writeString(dir.resolve("notes.txt"), "ignored")
    dir.toString
  }
}
