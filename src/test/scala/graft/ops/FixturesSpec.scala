package graft.ops

import graft.SparkSpec
import org.apache.commons.io.FileUtils

import java.nio.file.{Files, Paths}

/** [[Fixtures.staged]]: one build per dataset fingerprint, a rebuild when
  * the dataset changes in place, and no marker after a failed build. */
class FixturesSpec extends SparkSpec {

  private def marker(dir: String) = Paths.get(dir, "_GRAFT_COMPLETE")

  private def withDataset(tag: String)(body: String => Unit): Unit = {
    val d = tmpDir(tag).toString
    try body(d)
    finally Seq(d, Fixtures.dir(tag, d)).foreach(p => FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("a build runs once per fingerprint") {
    withDataset("fx_once") { d =>
      Files.writeString(Paths.get(d, "t.csv"), "a\n1\n")
      var builds = 0
      def stage() = Fixtures.staged("fx_once", d) { dir =>
        builds += 1
        Files.writeString(Paths.get(dir, "out.txt"), "built")
      }
      val first = stage()
      assert(stage() == first && first == Fixtures.dir("fx_once", d))
      assert(builds == 1)
      assert(Files.readString(Paths.get(first, "out.txt")) == "built")
      assert(Files.readString(marker(first)) == Fixtures.fingerprint(d))
    }
  }

  test("rewriting a source table rebuilds the fixture (registry query s9)") {
    withDataset("s9") { d =>
      val nation = Tables.nation(spark, sfDir)
      def write(n: Int): Unit = nation.filter(s"n_nationkey < $n")
        .write.mode("overwrite").parquet(s"$d/nation.parquet")
      def s9() = graft.SparkEntry.queries("s9_orc_roundtrip")(spark, d).count()
      write(20)
      assert(s9() == 20)
      val fp = Fixtures.fingerprint(d)
      write(5) // same dataset dir, regenerated in place
      assert(Fixtures.fingerprint(d) != fp)
      assert(s9() == 5, "a stale fixture was served after the dataset changed")
    }
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    withDataset("fx_fail") { d =>
      val dir = Fixtures.dir("fx_fail", d)
      intercept[IllegalStateException] {
        Fixtures.staged("fx_fail", d) { dir =>
          Files.writeString(Paths.get(dir, "half.txt"), "partial")
          throw new IllegalStateException("build died")
        }
      }
      assert(Files.exists(Paths.get(dir, "half.txt")) && !Files.exists(marker(dir)))
      var builds = 0
      Fixtures.staged("fx_fail", d)(_ => builds += 1)
      assert(builds == 1 && Files.exists(marker(dir)))
      assert(!Files.exists(Paths.get(dir, "half.txt")), "the half-built dir was not cleared")
    }
  }
}
