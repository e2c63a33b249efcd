package graft.tools

import graft.{Sessions, SparkEntry}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Dev-only: state-store METRICS for the per-user-state streaming twins
  * (st2 sessions, st4 top-k, st10 funnel, st12 SCD2) — the round-13
  * verdict's ask #7. Wall time alone cannot show state is bounded; this
  * captures `StreamingQueryProgress.stateOperators` via a listener
  * (numRowsTotal, memoryUsedBytes, and the RocksDB custom metrics when
  * that provider is active) and prints one line per stateful operator.
  */
object ProbeStateStore {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-probe-statestore", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")

    val captured = scala.collection.concurrent.TrieMap[
      String, org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.stateOperators.nonEmpty && e.progress.name != null)
          captured(e.progress.name) = e.progress
    })

    val twins = Seq("st2_stream_sessions", "st4_stream_topk",
                    "st10_stream_funnel", "st12_stream_scd2")
    twins.foreach { name =>
      captured.clear()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // listener events are async
      val memKeys = Seq("rocksdbTotalMemoryUsage", "rocksdbSstFileSize",
        "rocksdbPinnedBlocksMemoryUsage", "loadedMapCacheHitCount")
      captured.values.toSeq.sortBy(_.name).foreach { p =>
        p.stateOperators.foreach { so =>
          val custom = memKeys.flatMap { k =>
            Option(so.customMetrics.get(k)).map(v => s"$k=$v")
          }.mkString(" ")
          println(f"PROBE $name%-22s op=${so.operatorName}%-28s " +
            f"rowsTotal=${so.numRowsTotal}%8d rowsUpdated=${so.numRowsUpdated}%8d " +
            f"memUsed=${so.memoryUsedBytes}%12d $custom")
        }
      }
      println(f"PROBE $name%-22s wall=$wall%.2f s rows=$n")
    }
    spark.stop()
  }
}
