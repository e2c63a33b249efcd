package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one run loop over the query registry, shared by [[Bench]] (time),
  * [[Verify]] (dump results) and `tools.DumpPlans` (dump plans). */
private[graft] object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** The registry in name order, narrowed to the comma-separated names in
    * `only` (SPARK_GRAFT_ONLY) when that is set; a name the registry lacks
    * is an error, not a silently shorter run. Name order, not the map's
    * hash order: hash order reshuffles whenever the registry grows, which
    * moves which queries run warm (page cache, JIT, broadcast reuse) and
    * made per-query mins incomparable across rounds (BENCH_NOTES.md
    * round-14 close). */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[(String, Query)] = {
    val names = only.map(_.split(',').toSet)
    val unknown = names.toSeq.flatten.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered queries: ${unknown.sorted.mkString(",")}")
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => names.forall(_.contains(n)) }
  }

  /** `run`'s value, or None when it threw; the failure goes to stderr
    * under `tag`. */
  def attempt[T](tag: String, name: String)(run: => T): Option[T] =
    try Some(run)
    catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      None
    }

  /** Run `body` on each query in turn: a query that throws yields None.
    * Lazy — each query runs when the iterator reaches it — so a caller can
    * record one result (or swap `spark`, which is re-read after every
    * query) before the next query starts.
    *
    * After each query, and outside whatever `body` measures, the loop
    * checkpoints it left behind are dropped: `localCheckpoint` blocks
    * stay registered until the session dies, and across ~286 queries that
    * pile-up is the block-manager pressure that killed the r17 bench
    * ("Block broadcast_2925 does not exist" at query ~270) and charged
    * later queries with earlier ones' eviction and GC. The query's result
    * is fully consumed by then, so the sweep changes nothing a later
    * query computes. `unpersist` warns once per locally checkpointed RDD
    * that its lineage cannot be recomputed (159 lines in a Verify run at
    * sf0.01), which says nothing here, so those RDDs' own loggers (the
    * warning is logged under the RDD's runtime class) are held at ERROR
    * for the sweep only. */
  def each[T](tag: String, spark: => SparkSession, queries: Seq[(String, Query)] = selected())
             (body: (String, Query) => T): Iterator[(String, Option[T])] =
    queries.iterator.map { case (name, fn) =>
      val result = attempt(tag, name)(body(name, fn))
      val rdds = spark.sparkContext.getPersistentRDDs.values.toSeq
      atError(rdds.map(_.getClass.getName).toSet)(rdds.foreach(_.unpersist(blocking = false)))
      name -> result
    }

  /** Run `body` with the named loggers at ERROR, then put back exactly the
    * logger configs that were there before (a name with no config of its
    * own gets none again, so it keeps following its parent). */
  private def atError[T](loggers: Set[String])(body: => T): T = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val own = loggers.map(n => n -> Option(ctx.getConfiguration.getLoggers.get(n)).map(_.getLevel))
    loggers.foreach(Configurator.setLevel(_, Level.ERROR))
    try body
    finally {
      own.foreach {
        case (n, Some(level)) => Configurator.setLevel(n, level)
        case (n, None) => ctx.getConfiguration.removeLogger(n)
      }
      ctx.updateLoggers()
    }
  }
}
