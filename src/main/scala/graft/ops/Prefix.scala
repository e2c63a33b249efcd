package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The distributed prefix sum — the classic parallel scan (Blelloch,
  * "Prefix Sums and Their Applications", 1990) — and the one place the
  * engine turns per-row values into running totals in a global order:
  * token tapes, ranks, ECDFs, sweep lines. A window ordered over the whole
  * table with no partition key runs in ONE task; this runs in three steps:
  *  1. range-partition on `groups ++ order`, so each partition holds a
  *     contiguous key range, and stamp the partition id;
  *  2. collect the per-(partition, group) totals — at most partitions ×
  *     groups rows, never data-sized — and compute each partition's
  *     exclusive offset and each group's total on the driver, in
  *     partition order;
  *  3. join those back as a broadcast local relation and add the
  *     within-partition running sum.
  * Every result is independent of where the range boundaries fall.
  *
  * Partition pinning: the totals and the rows must see the SAME partition
  * assignment, and two lazy reads of one range exchange are not
  * guaranteed to — column pruning gives the totals read a thinner plan
  * Catalyst will not dedupe, RangePartitioner's sample seed differs per
  * exchange instance, and AQE may coalesce the two to different partition
  * counts. So the stamped rows are pinned by a lazy `localCheckpoint`
  * right after the id is stamped, and both reads use that one
  * incarnation of the exchange. The totals `collect` is the job that
  * fills the pin's blocks, so pinning costs no job of its own. Cost: one
  * materialization of the input; once filled, lineage is truncated, so
  * an executor loss retries the checkpointed blocks' tasks rather than
  * replaying lineage.
  */
object Prefix {
  private val Pid = "__pid"

  /** `df`'s rows with two columns added per named value: `<name>_total`,
    * the group's total, and `<name>_cum`, the inclusive running sum in
    * `order`, restarting per `groups` key. Values are summed as long. An
    * exclusive offset is `<name>_cum − value`; a 0-based rank is
    * `rows_cum − 1` with `"rows" -> lit(1L)`.
    *
    * Preconditions:
    *  - `order` is a total order within a group. Rows that tie on it share
    *    one running sum (the window's default RANGE frame), so a rank
    *    equals `row_number` only on a tie-free order.
    *  - A row whose group key holds a null is dropped: the offsets join on
    *    the group is an inner equi-join.
    * A null value adds nothing to the offsets and totals.
    */
  def sums(df: DataFrame, groups: Seq[String], order: Seq[Column],
           values: (String, Column)*): DataFrame = {
    require(values.nonEmpty, "no value to sum")
    val names = values.map(_._1)
    val vals = values.map(_._2.cast("long"))
    val keys = Pid +: groups
    val pinned = df.repartitionByRange(groups.map(col) ++ order: _*)
      .withColumn(Pid, spark_partition_id())
      .localCheckpoint(eager = false)
    val parts = pinned.groupBy(keys.map(col): _*)
      .agg(sum(vals.head), vals.tail.map(sum): _*)
      .collect()
    val nk = keys.size
    def value(r: Row, i: Int): Long = if (r.isNullAt(nk + i)) 0L else r.getLong(nk + i)
    val table = parts.groupBy(r => groups.indices.map(i => r.get(1 + i))).values.toSeq
      .flatMap { rs =>
        val inOrder = rs.sortBy(_.getInt(0))
        val offsets = inOrder.scanLeft(names.map(_ => 0L)) { (off, r) =>
          names.indices.map(i => off(i) + value(r, i))
        }
        inOrder.zip(offsets).map { case (r, off) =>
          Row.fromSeq((0 until nk).map(r.get) ++ off ++ offsets.last)
        }
      }
    val keyNames = "__p" +: groups.indices.map(i => s"__g$i")
    val offNames = names.map(n => s"__off_$n")
    val schema = StructType(
      keys.zip(keyNames).map { case (k, n) => pinned.schema(k).copy(name = n) } ++
        (offNames ++ names.map(n => s"${n}_total")).map(StructField(_, LongType)))
    val offsets = df.sparkSession.createDataFrame(java.util.Arrays.asList(table: _*), schema)
    val within = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val on = keys.zip(keyNames).map { case (k, n) => pinned(k) === col(n) }.reduce(_ && _)
    names.zip(vals).zip(offNames)
      .foldLeft(pinned.join(broadcast(offsets), on)) { case (acc, ((n, v), off)) =>
        acc.withColumn(s"${n}_cum", col(off) + sum(v).over(within))
      }
      .drop((Pid +: keyNames) ++ offNames: _*)
  }
}
