package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction: one place for the scale-relevant
  * settings so Verify/Bench/tests all run the same engine config.
  */
object Sessions {
  /** Apply graft defaults to a builder. `cpus` sizes shuffle parallelism
    * to the actual cores (local mode) — on a real cluster this would be
    * executors×cores with AQE coalescing the excess.
    */
  /** Scratch root for shuffle/block files (spark.local.dir). Shuffle
    * blocks are ephemeral by contract (lost blocks recompute), so they
    * belong on the fastest local storage available — on a cluster that
    * is the node's NVMe scratch volume (the same knob, set by ops);
    * here /dev/shm when present. Thread dumps on the r18-shaped code
    * showed up to 22/32 executor threads inside shuffle-file
    * create/merge I/O (copyFileStreamNIO, DiskBlockObjectWriter) on the
    * ext4 /tmp — tiny-file create+rename storms, not data volume.
    * SPARK_GRAFT_LOCAL_DIR overrides; empty string = Spark default.
    */
  private[graft] def scratchDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").map(_.trim).filter(_.nonEmpty)
      .orElse(Option(new java.io.File("/dev/shm"))
        .filter(f => f.isDirectory && f.canWrite).map { _ =>
          val d = new java.io.File("/dev/shm/graft-local")
          d.mkdirs(); d.getAbsolutePath
        })

  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder = {
    val withLocal = scratchDir.fold(b)(d => b.config("spark.local.dir", d))
    withLocal
    .withExtensions(graft.functions.GraftFunctions.register)
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Size post-shuffle partitions by DATA, not by core count: with the
    // default parallelismFirst=true AQE refuses to coalesce below the
    // default parallelism, so every kilobyte-scale shuffle in an
    // iterative loop still ran `cpus` tasks — per-task fixed cost
    // (scheduling, shuffle-file create+merge, block registration)
    // dominated the r18 driver bench's iterative/streaming rows and made
    // them SLOWER at 32 cores than at 8 (PERF_r18.json scaling < 1).
    // parallelismFirst=false makes AQE honor advisoryPartitionSizeInBytes
    // (the Spark docs' own production recommendation): partition count
    // now tracks bytes — 1-2 tasks for fixture-scale loop state, and at
    // 100 TB the same setting yields thousands of right-sized tasks.
    // Scale-adaptive by construction, not a local[32] constant.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // 4m, not the 64m cluster default: post-shuffle partitions here are
    // in-memory loop/join state processed at ~1-2 µs/row, so a 64 MB
    // partition is ~3-4 s of SERIAL work — measured turning n6's
    // per-round vote count and n2's closure semi-join into single-task
    // stages. 4 MB keeps kilobyte shuffles at 1 task while giving real
    // stages data-proportional width. A cluster with network shuffle and
    // disk-bound stages wants a larger value (a session conf).
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // testdata parquet carries INT64 TIMESTAMP(NANOS) (pandas origin);
    // read as long nanos, converted in graft.ops.Tables.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.compression.codec", "snappy")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
  }

  /** The one conf scope: set each `kv` on the session for the duration of
    * `body`, then restore each key's previous value, or unset it if it had
    * none. Session conf is global to every thread planning on the
    * session, so the whole save/set/run/restore runs under one JVM-wide
    * reentrant lock: two scopes never interleave (a second scope would
    * otherwise save the first one's value and restore it after the first
    * had exited), and nested scopes on one thread restore in order.
    * Queries planned on other threads outside any scope still see the
    * scoped values while it runs; every scope in this engine changes
    * plan shape (AQE, widths, state provider), never results.
    * Keep `body` short of anything that waits on another thread that may
    * enter a scope — a streaming query's foreachBatch, for one.
    */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T =
    ConfLock.synchronized {
      val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private object ConfLock

  def local(appName: String = "graft",
            cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
