package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a trace read right after a call sees all of that call's jobs and
  * streaming progress. The bus is package-private; this shim is the
  * benchmark's only reach into Spark internals.
  */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
