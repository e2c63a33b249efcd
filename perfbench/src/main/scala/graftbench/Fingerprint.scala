package graftbench

import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** Order-independent fingerprint of a result: the row count plus the sum
  * (mod 2^64) of a 64-bit hash per row. A row's hash covers every column
  * as `name=value`, sorted by column name, so neither row order nor column
  * order matters, while a change to any single cell changes the sum.
  *
  * Computing it consumes every column of every row, so an optimizer cannot
  * skip work that a bare `count()` would let it drop (for example a
  * key-unique left join).
  */
object Fingerprint {
  final case class FP(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  object FP {
    def parse(s: String): FP = {
      val Array(r, h) = s.trim.split(':')
      FP(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
    }
  }

  /** Text form of one value. `exact` keeps doubles bit-exact
    * (`Double.toString`); otherwise they are rounded to 7 significant
    * digits and |x| < 1e-9 reads as 0, so floating-point sums whose order
    * depends on partitioning still fingerprint the same. */
  def canon(v: Any, exact: Boolean): String = v match {
    case null => "∅"
    case d: Double => dbl(d, exact)
    case f: Float => dbl(f.toDouble, exact)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case s: scala.collection.Seq[_] => s.map(canon(_, exact)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k, exact) + "->" + canon(x, exact) }
        .sorted.mkString("{", ",", "}")
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames).getOrElse(r.toSeq.indices.map(_.toString).toArray)
      names.indices.sortBy(names(_)).map(i => names(i) + "=" + canon(r.get(i), exact))
        .mkString("(", ",", ")")
    case other => other.toString
  }

  private def dbl(d: Double, exact: Boolean): String =
    if (exact) java.lang.Double.toString(d)
    else if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))

  /** 64-bit hash of one row given its column names and values. */
  def rowHash(names: Array[String], values: IndexedSeq[Any], exact: Boolean): Long = {
    val s = names.indices.sortBy(names(_))
      .map(i => names(i) + "=" + canon(values(i), exact)).mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  /** Fingerprint of a DataFrame, computed on the executors. */
  def of(df: DataFrame, exact: Boolean): FP = {
    val names = df.schema.fieldNames
    df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(names, r.toSeq.toIndexedSeq, exact) }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) } match {
      case (n, h) => FP(n, h)
    }
  }

  /** Fingerprint of rows already on the driver. */
  def ofRows(names: Array[String], rows: Iterable[IndexedSeq[Any]], exact: Boolean): FP =
    FP(rows.size.toLong, rows.iterator.map(rowHash(names, _, exact)).sum)
}
