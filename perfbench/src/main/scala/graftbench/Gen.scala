package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generation. Everything the program receives is written
  * here from the `--seed` alone: the same seed gives byte-identical CSV
  * files and the same request schedule, on any machine.
  */
object Gen {

  /** What the pipeline must report for a staged CSV directory, derived
    * from the rows the generator wrote (not from the program). */
  final case class EtlExpect(rowsIngested: Long, rowsCleaned: Long,
                             fingerprint: Fingerprint.FP, csvBytes: Long,
                             missingFile: String, missingColumn: String)

  private final case class Col(name: String, gen: SplittableRandom => Any)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private val day0 = LocalDate.of(1995, 1, 1)

  /** TPC-H `lineitem`-shaped columns (the domains of the sf0.1 fixture). */
  private val lineitemCols: Seq[Col] = Seq(
    Col("l_orderkey", r => r.nextLong(150000L)),
    Col("l_partkey", r => r.nextLong(20000L)),
    Col("l_suppkey", r => r.nextLong(1000L)),
    Col("l_linenumber", r => 1 + r.nextInt(7)),
    Col("l_quantity", r => (1 + r.nextInt(50)).toDouble),
    Col("l_extendedprice", r => money(r, 900.0, 100000.0)),
    Col("l_discount", r => r.nextInt(11) / 100.0),
    Col("l_tax", r => r.nextInt(9) / 100.0),
    Col("l_returnflag", r => Seq("A", "N", "R")(r.nextInt(3))),
    Col("l_linestatus", r => Seq("F", "O")(r.nextInt(2))),
    Col("l_shipdate", r => day0.plusDays(r.nextInt(2500).toLong)))

  /** TPC-H `orders`-shaped columns. */
  private val ordersCols: Seq[Col] = Seq(
    Col("o_orderkey", r => r.nextLong(1500000L)),
    Col("o_custkey", r => r.nextLong(15000L)),
    Col("o_orderstatus", r => Seq("F", "O", "P")(r.nextInt(3))),
    Col("o_totalprice", r => money(r, 1000.0, 500000.0)),
    Col("o_orderdate", r => day0.plusDays(r.nextInt(2400).toLong)),
    Col("o_orderpriority", r =>
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5))))

  /** One CSV cell: doubles in `Double.toString` form, so the value the CSV
    * reader parses back is bit-identical to the generated one. */
  private def cell(v: Any): String = v match {
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  def lineitemDir(dir: Path, seed: Long, rows: Int, files: Int): EtlExpect =
    csvDir(dir, new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1), lineitemCols,
      "lineitem", rows, files, dropColumn = true)

  def ordersDir(dir: Path, seed: Long, rows: Int, files: Int): EtlExpect =
    csvDir(dir, new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2), ordersCols,
      "orders", rows, files, dropColumn = false)

  /** Write `rows` rows split over `files` CSV files.
    *  - The split is seeded: file sizes vary by up to ±50 % around the mean.
    *  - A seeded ~1 % of rows carry one empty (null) cell in a seeded
    *    non-key column.
    *  - With `dropColumn`, one seeded file lacks one seeded column. Union by
    *    name null-fills it there, so the clean step drops all of that
    *    file's rows (the reference's semantics).
    */
  private def csvDir(dir: Path, r: SplittableRandom, cols: Seq[Col], stem: String,
                     rows: Int, files: Int, dropColumn: Boolean): EtlExpect = {
    Files.createDirectories(dir)
    val weights = Seq.fill(files)(0.5 + r.nextDouble())
    val cum = weights.scanLeft(0.0)(_ + _).map(w => math.round(w / weights.sum * rows).toInt)
    val missingFile = if (dropColumn) r.nextInt(files) else -1
    val missingCol = if (dropColumn) 1 + r.nextInt(cols.size - 1) else -1
    val names = cols.map(_.name).toArray
    var cleaned = 0L
    var hash = 0L
    var bytes = 0L
    for (f <- 0 until files) {
      val keep = cols.indices.filter(i => f != missingFile || i != missingCol)
      val path = dir.resolve(f"$stem-$f%02d.csv")
      val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), UTF_8), 1 << 16)
      try {
        w.write(keep.map(names(_)).mkString(","))
        w.write('\n')
        for (_ <- cum(f) until cum(f + 1)) {
          val values = cols.map(_.gen(r)).toArray
          val nullCol = if (r.nextInt(100) == 0) 1 + r.nextInt(cols.size - 1) else -1
          w.write(keep.map(i => if (i == nullCol) "" else cell(values(i))).mkString(","))
          w.write('\n')
          if (nullCol < 0 && f != missingFile) {
            cleaned += 1
            hash += Fingerprint.rowHash(names, values.toIndexedSeq, exact = true)
          }
        }
      } finally w.close()
      bytes += Files.size(path)
    }
    EtlExpect(rows.toLong, cleaned, Fingerprint.FP(cleaned, hash), bytes,
      if (missingFile >= 0) f"$stem-$missingFile%02d.csv" else "",
      if (missingCol >= 0) names(missingCol) else "")
  }

  // ------------------------------------------------------------- schedule

  /** The readers of the API workload send what the repo's one client,
    * the dashboard (`graft.serve.Dashboard`), sends. Each open dashboard
    * polls `GET /api/pipeline/runs` every [[PollS]] s (its
    * `setInterval(refreshRuns, 3000)`); its user clicks one of the
    * explorer's buttons: preview, stats or list files. */
  val readKinds: Seq[String] = Seq("runs", "preview", "stats", "files")
  val PollS = 3.0
  private val actionKinds = Seq("preview", "stats", "files")

  final case class Arrival(dueMs: Double, kind: String)

  /** Open-loop arrivals of `dashboards` dashboards over the window.
    *  - Polls: dashboard d polls at a seeded phase in the d-th of
    *    `dashboards` equal slots of [0, PollS), then every PollS s,
    *    floor(seconds / PollS) times.
    *  - Clicks: exactly round(dashboards × seconds / clickEveryS) of them,
    *    one at a seeded time in each of as many equal slots of the window,
    *    split equally over the three buttons in a seeded order.
    * The offered load and mix are thus the same for every seed; only their
    * timing and order vary. The times are spread by slot rather than drawn
    * uniformly: with 3 senders, the bursts that uniform times give some
    * seeds and not others queue requests, and moved the goodput by up to
    * 15 % between seeds on a quiet host. */
  def schedule(seed: Long, dashboards: Int, clickEveryS: Double, seconds: Double): IndexedSeq[Arrival] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val polls = (0 until dashboards).flatMap { d =>
      val phase = (d + r.nextDouble()) / dashboards * PollS * 1000
      (0 until (seconds / PollS).toInt).map(k => Arrival(phase + k * PollS * 1000, "runs"))
    }
    val n = math.round(dashboards * seconds / clickEveryS).toInt
    val clicks = permute((0 until n).map(i => actionKinds(i % actionKinds.size)), seed)
    val slotMs = seconds * 1000 / n
    val times = (0 until n).map(i => (i + r.nextDouble()) * slotMs)
    (polls ++ times.zip(clicks).map { case (t, k) => Arrival(t, k) }).sortBy(_.dueMs)
  }

  /** A seeded permutation (Fisher–Yates). */
  def permute[A](xs: Seq[A], seed: Long): Seq[A] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 4)
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}
