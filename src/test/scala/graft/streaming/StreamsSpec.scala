package graft.streaming

import graft.SparkSpec
import graft.ops.{EventWindows, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming twins vs their batch oracles (SURVEY §7.4 risk 7:
  * batch-equivalence first). Streams read the events table from a parquet
  * dir via AvailableNow and land in a memory sink.
  */
class StreamsSpec extends SparkSpec {

  private lazy val eventsDir: String = {
    // stage events as a plain-timestamp parquet dir (stream sources need a
    // static schema; the raw testdata nano-long ts is normalized by Tables)
    val d = tmpDir("stream_events").resolve("events").toString
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(d)
    d
  }

  test("streaming hourly tumbling agg == batch hourlyByType") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = Streams.parquetDirStream(spark, eventsDir, schema)
    Streams.runToMemory(Streams.hourlyByType(stream), "hourly_stream")
    val streamed = spark.table("hourly_stream")
      .orderBy("window_start_us", "event_type").collect()
    val batch = EventWindows.hourlyByType(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0))
      assert(s.getString(1) == b.getString(1))
      assert(s.getLong(2) == b.getLong(2))
      assert(s.getDouble(3) == b.getDouble(3))
    }
  }

  test("streaming sliding windows == batch slidingByType, row for row") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = Streams.parquetDirStream(spark, eventsDir, schema)
    Streams.runToMemory(Streams.slidingByType(stream), "sliding_stream")
    val streamed = spark.table("sliding_stream")
      .orderBy("window_start_us", "event_type").collect()
    val batch = EventWindows.slidingByType(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0))
      assert(s.getString(1) == b.getString(1))
      assert(s.getLong(2) == b.getLong(2))
      assert(s.getDouble(3) == b.getDouble(3))
    }
  }

  test("streaming funnel (custom keyed state) == batch funnel per stage") {
    import spark.implicits._
    val schema = spark.read.parquet(eventsDir).schema
    val stages = Seq("signup", "click", "purchase")
    val ev = Streams.parquetDirStream(spark, eventsDir, schema)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type"))
      .as[Streams.FunnelEvent]
    Streams.runToMemory(Streams.streamFunnelStage(ev, stages).toDF(),
      "funnel_stream", org.apache.spark.sql.streaming.OutputMode.Update())
    val per = spark.table("funnel_stream")
      .groupBy("user_id").agg(max(col("max_stage")).as("ms"))
    val streamed = stages.indices.map(i => per.filter(col("ms") >= i + 1).count())
    val batch = EventWindows.funnel(spark, sfDir, stages).collect()
      .map(_.getAs[Long]("n_users")).toSeq
    assert(streamed == batch)
  }

  test("streaming session_window sessions == batch gaps-and-islands sessions") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = Streams.parquetDirStream(spark, eventsDir, schema)
    Streams.runToMemory(Streams.userSessions(stream), "sessions_stream")
    val streamed = spark.table("sessions_stream")
      .orderBy("user_id", "session_start_us").collect()
    val batch = EventWindows.userSessions(spark, sfDir)
      .orderBy("user_id", "session_start_us").collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0))                      // user_id
      assert(s.getLong(1) == b.getAs[Long]("session_start_us")) // same start
      // session_window end = last event + gap; batch end = last event
      assert(s.getLong(2) == b.getAs[Long]("session_end_us") + 30L * 60 * 1000000)
      assert(s.getLong(3) == b.getAs[Long]("n_events"))
    }
  }

  test("streaming exact-dedup aggregate == batch Dedup.exact, arrival-order independent") {
    val d = tmpDir("stream_docs").resolve("docs").toString
    // write documents SHUFFLED so the stream's arrival order differs from
    // doc order — the aggregate's (min id, count) must not care
    Tables.documents(spark, sfDir).orderBy(rand(7)).repartition(5)
      .write.mode("overwrite").parquet(d)
    val schema = spark.read.parquet(d).schema
    Streams.runToMemory(
      Streams.dedupExactAgg(Streams.parquetDirStream(spark, d, schema)), "dedup_stream")
    val streamed = spark.table("dedup_stream").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val batch = graft.ops.Dedup.exact(Tables.documents(spark, sfDir))
      .select("doc_id", "n_copies").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("streaming incremental MinHash == batch minhashLshCross across micro-batch boundaries; multi-band pairs emit exactly once") {
    val d = tmpDir("stream_mh").resolve("docs").toString
    Tables.documents(spark, sfDir).orderBy(rand(11)).repartition(5)
      .write.mode("overwrite").parquet(d)
    val schema = spark.read.parquet(d).schema
    val corpus = spark.read.parquet(d).filter(col("doc_id") % 2 === 0)
    Streams.runToMemory(
      Streams.streamMinhashCross(
        Streams.parquetDirStream(spark, d, schema, maxFilesPerTrigger = 1)
          .filter(col("doc_id") % 2 === 1), corpus),
      "mh_stream", OutputMode.Append())
    val streamed = spark.table("mh_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // exactly-once: no duplicate pairs even though near-dups agree on
    // MANY bands (an exact dup agrees on all 32)
    assert(streamed.map(p => (p._1, p._2)).distinct.size == streamed.size)
    val batch = graft.ops.Dedup.minhashLshCross(
        corpus, spark.read.parquet(d).filter(col("doc_id") % 2 === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed.nonEmpty && streamed.sorted == batch.sorted)
    assert(streamed.exists(_._3 == 1.0), "fixture should contain an exact cross dup")
  }

  test("streaming bloom-prefiltered survivors == batch anti-join, bloom invisible in results") {
    val d = tmpDir("stream_inc").resolve("docs").toString
    // sf0.001 has no odd-duplicates-even text collisions — inject some:
    // 5 new ODD-id docs copying EVEN docs' texts, so the dup path runs
    val base = Tables.documents(spark, sfDir)
    val maxId = base.agg(max("doc_id")).head().getLong(0)
    val injected = base.filter(col("doc_id") % 2 === 0).limit(5)
      .withColumn("doc_id", (lit(maxId) + col("doc_id") + 1) * 2 + 1)
    base.unionByName(injected).write.mode("overwrite").parquet(d)
    val all = spark.read.parquet(d)
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val bloom = graft.ops.Dedup.textBloom(corpus)
    val schema = all.schema
    Streams.runToMemory(
      Streams.streamSurvivors(
        Streams.parquetDirStream(spark, d, schema).filter(col("doc_id") % 2 === 1),
        corpus, bloom).select("doc_id"),
      "survivors_stream", OutputMode.Append())
    val streamed = spark.table("survivors_stream").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val batch = all.filter(col("doc_id") % 2 === 1)
      .join(corpus.select(xxhash64(col("text")).as("__h")),
        xxhash64(col("text")) === col("__h"), "left_anti")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the fixture must actually exercise the dup path, or this is vacuous
    assert(streamed.length < all.filter(col("doc_id") % 2 === 1).count(),
      "no odd doc duplicated an even doc — survivors check is vacuous")
  }

  test("streaming top-k serving == batch bruteForceTopKAgg, row for row") {
    val emb = Tables.embeddings(spark, sfDir)
    val d = tmpDir("stream_emb").resolve("emb").toString
    emb.write.mode("overwrite").parquet(d)
    val schema = spark.read.parquet(d).schema
    val qStream = Streams.parquetDirStream(spark, d, schema)
      .filter(col("vec_id") % 10 === 0)
    Streams.runToMemory(Streams.streamTopK(qStream, emb, k = 5), "topk_stream")
    val streamed = spark.table("topk_stream")
      .orderBy("query_id", "rank").collect()
    val batch = graft.ops.Similarity.bruteForceTopKAgg(
        emb, graft.ops.Similarity.querySet(emb, "vec_id", 10), k = 5)
      .orderBy("query_id", "rank").collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0) && s.getLong(1) == b.getLong(1)
        && s.getLong(2) == b.getLong(2) && s.getDouble(3) == b.getDouble(3))
    }
  }

  test("flatMapGroupsWithState running counts reach the per-user totals") {
    import spark.implicits._
    val schema = spark.read.parquet(eventsDir).schema
    val stream = Streams.parquetDirStream(spark, eventsDir, schema)
      .select(col("user_id"), col("ts"), col("value"))
      .as[Streams.EventRow]
    Streams.runToMemory(Streams.runningUserCounts(stream).toDF(),
      "running_counts", OutputMode.Update())
    // last update per user == total events for that user
    val finalCounts = spark.table("running_counts")
      .groupBy("user_id").agg(max("n_events").as("n")).orderBy("user_id").collect()
    val expected = Tables.events(spark, sfDir)
      .groupBy("user_id").count().orderBy("user_id").collect()
    assert(finalCounts.length == expected.length)
    finalCounts.zip(expected).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1))
    }
  }

  test("streaming dedup drops repeated ids within the watermark") {
    import spark.implicits._
    val d = tmpDir("dedup_stream").resolve("in").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 2.0), // dup id
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 3.0)
    ).toDF("event_id", "ts", "value").write.mode("overwrite").parquet(d)
    val schema = spark.read.parquet(d).schema
    val stream = Streams.parquetDirStream(spark, d, schema)
    Streams.runToMemory(Streams.dedupExact(stream, Seq("event_id")),
      "dedup_stream_mem", org.apache.spark.sql.streaming.OutputMode.Append())
    assert(spark.table("dedup_stream_mem").select("event_id").distinct().count() == 2)
    assert(spark.table("dedup_stream_mem").count() == 2)
  }

  test("durable dedup: checkpoint restart recovers state — overlap across runs emits exactly once") {
    import spark.implicits._
    val base = tmpDir("durable_dedup")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def rows(ids: Range) = ids.map(i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), i * 1.0))
      .toDF("event_id", "ts", "value")
    // run 1: ids 1..60
    rows(1 to 60).coalesce(2).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def dedupStream = Streams.dedupExact(
      Streams.parquetDirStream(spark, in, schema), Seq("event_id"))
    Streams.runToParquet(dedupStream, out, ckpt)
    val afterRun1 = spark.read.parquet(out).count()
    assert(afterRun1 == 60L)
    // run 2 (the "resume"): ids 41..100 arrive — 41..60 are dups the
    // RESTARTED query can only drop if the state store came back from
    // the checkpoint; 1..60's sink output must not re-emit
    rows(41 to 100).coalesce(2).write.mode("append").parquet(in)
    Streams.runToParquet(dedupStream, out, ckpt)
    val finalIds = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(finalIds == (1L to 100L), s"got ${finalIds.size} rows")
  }

  test("durable dedup on ROCKSDB: checkpoint restart recovers RocksDB state — overlap emits exactly once") {
    import spark.implicits._
    // the RocksDB twin of the kill-and-resume proof above: state must
    // come back from the checkpoint's RocksDB snapshot/changelog, not
    // from heap — the recovery path the per-user-state family now
    // ships on (round-13 #4)
    val base = tmpDir("durable_dedup_rocks")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def rows(ids: Range) = ids.map(i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), i * 1.0))
      .toDF("event_id", "ts", "value")
    rows(1 to 60).coalesce(2).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def dedupStream = Streams.dedupExact(
      Streams.parquetDirStream(spark, in, schema), Seq("event_id"))
    Streams.withRocksDbState(spark) {
      Streams.runToParquet(dedupStream, out, ckpt)
    }
    assert(spark.read.parquet(out).count() == 60L)
    rows(41 to 100).coalesce(2).write.mode("append").parquet(in)
    Streams.withRocksDbState(spark) {
      Streams.runToParquet(dedupStream, out, ckpt)
    }
    val finalIds = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(finalIds == (1L to 100L), s"got ${finalIds.size} rows")
  }

  test("durable hourly agg: kill/resume over a file sink still equals the batch oracle") {
    import spark.implicits._
    val base = tmpDir("durable_hourly")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val events = Tables.events(spark, sfDir)
    val (minTs, maxTs) = {
      val r = events.agg(min("ts"), max("ts")).collect().head
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    val mid = new java.sql.Timestamp((minTs.getTime + maxTs.getTime) / 2)
    // session 1: the first half of event time only — the watermark stops
    // short of every window that straddles or follows `mid`
    events.filter(col("ts") < lit(mid)).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def hourlyStream = Streams.hourlyByType(
      Streams.parquetDirStream(spark, in, schema), watermarkDelay = "0 seconds")
    Streams.runToParquet(hourlyStream, out, ckpt)
    val emitted1 = spark.read.parquet(out).count()
    // session 2: the rest, plus a sentinel far past the last real window
    // so the final watermark flushes every real window from state
    val sentinel = new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000)
    events.filter(col("ts") >= lit(mid))
      .unionByName(events.limit(1)
        .withColumn("event_id", lit(-1L))
        .withColumn("ts", lit(sentinel))
        .withColumn("event_type", lit("__sentinel__")))
      .write.mode("append").parquet(in)
    Streams.runToParquet(hourlyStream, out, ckpt)
    val streamed = spark.read.parquet(out)
      .filter(col("event_type") =!= "__sentinel__")
      .orderBy("window_start_us", "event_type").collect()
    val batch = EventWindows.hourlyByType(spark, sfDir).collect()
    assert(emitted1 > 0 && emitted1 < batch.length,
      s"session 1 should emit a strict prefix, emitted $emitted1 of ${batch.length}")
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} windows vs batch ${batch.length}")
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0) && s.getString(1) == b.getString(1)
        && s.getLong(2) == b.getLong(2) && s.getDouble(3) == b.getDouble(3))
    }
  }

  test("stream-static enrichment joins each micro-batch to the dim table") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = Streams.parquetDirStream(spark, eventsDir, schema)
      .select("event_id", "user_id")
    val dim = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg_"), col("user_id") % 3))
    Streams.runToMemory(Streams.enrich(stream, dim, "user_id"), "enriched_mem",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val out = spark.table("enriched_mem")
    assert(out.count() == Tables.events(spark, sfDir).count())
    assert(out.filter(col("segment").isNull).count() == 0)
  }

  test("partitioned write prunes partitions at the scan") {
    val d = tmpDir("part").resolve("events_part").toString
    graft.etl.Load.replaceParquetPartitioned(
      Tables.events(spark, sfDir), d, Seq("event_type"))
    val filtered = spark.read.parquet(d).filter(col("event_type") === "click")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click").count()
    assert(filtered.count() == expected)
  }

  test("stream-stream interval join == batch self-join, matches across micro-batch boundaries") {
    // stage events time-split into two files with ordered mtimes so the
    // file source delivers them as SEPARATE micro-batches in event-time
    // order (the real-stream arrival shape): pairs whose click lands in
    // batch 1 and purchase in batch 2 can only match through the
    // watermarked two-sided join state
    val d = tmpDir("ssjoin").resolve("events").toString
    val ev = Tables.events(spark, sfDir)
    val cut = "2024-01-15 22:00:00"
    ev.filter(col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(d)
    val early = new java.io.File(d).listFiles.filter(_.getName.endsWith(".parquet"))
    val d2 = tmpDir("ssjoin2").resolve("late").toString
    ev.filter(col("ts") >= cut).coalesce(1).write.mode("overwrite").parquet(d2)
    val lateFile = new java.io.File(d2).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val target = java.nio.file.Paths.get(d, "zz_" + lateFile.getName)
    java.nio.file.Files.move(lateFile.toPath, target)
    early.foreach(f => f.setLastModified(target.toFile.lastModified - 60000))

    val schema = spark.read.parquet(d).schema
    val stream = Streams.parquetDirStream(spark, d, schema, maxFilesPerTrigger = 1)
    Streams.runToMemory(
      Streams.streamIntervalJoin(stream, "click", "purchase"),
      "ssjoin_mem", OutputMode.Append())
    val streamed = spark.table("ssjoin_mem")
      .orderBy("user_id", "left_id", "right_id").collect()

    val e = ev.select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val batch = e.filter(col("event_type") === "click").as("a")
      .join(e.filter(col("event_type") === "purchase").as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts") >= col("a.ts") &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("a.user_id"), col("a.event_id").as("left_id"),
              col("b.event_id").as("right_id"))
      .orderBy("user_id", "left_id", "right_id").collect()
    assert(batch.nonEmpty, "fixture produced no join pairs")
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} pairs vs batch ${batch.length}")
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0) && s.getLong(1) == b.getLong(1) &&
             s.getLong(2) == b.getLong(2))
    }
    // and at least one pair must genuinely straddle the file boundary,
    // or this test proves nothing about cross-batch state
    val cutUs = java.sql.Timestamp.valueOf(cut).getTime * 1000L
    val straddling = e.filter(col("event_type") === "click").as("a")
      .join(e.filter(col("event_type") === "purchase").as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts") >= col("a.ts") &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 30 MINUTES"))
      .filter(unix_micros(col("a.ts")) < cutUs && unix_micros(col("b.ts")) >= cutUs)
      .count()
    assert(straddling > 0, "no boundary-straddling pair; move the cut")
  }

  test("csv dir stream ingests files appearing in a directory") {
    import spark.implicits._
    val d = tmpDir("csvstream")
    java.nio.file.Files.writeString(d.resolve("a.csv"), "id,v\n1,x\n2,y\n")
    java.nio.file.Files.writeString(d.resolve("b.csv"), "id,v\n3,z\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val stream = Streams.csvDirStream(spark, d.toString, schema)
    Streams.runToMemory(stream.groupBy().count(), "csv_stream_count")
    assert(spark.table("csv_stream_count").collect().head.getLong(0) == 3L)
  }

  test("streaming attribution == batch e17 report, credit across micro-batch boundaries") {
    import spark.implicits._
    val d = tmpDir("sattr").resolve("events").toString
    val ev = Tables.events(spark, sfDir)
    val cut = "2024-01-15 22:00:00"
    ev.filter(col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(d)
    val early = new java.io.File(d).listFiles.filter(_.getName.endsWith(".parquet"))
    val d2 = tmpDir("sattr_late").resolve("late").toString
    ev.filter(col("ts") >= cut).coalesce(1).write.mode("overwrite").parquet(d2)
    val lateFile = new java.io.File(d2).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val target = java.nio.file.Paths.get(d, "zz_" + lateFile.getName)
    java.nio.file.Files.move(lateFile.toPath, target)
    early.foreach(f => f.setLastModified(target.toFile.lastModified - 60000))

    val schema = spark.read.parquet(d).schema
    val stream = Streams.parquetDirStream(spark, d, schema, maxFilesPerTrigger = 1)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type"))
      .as[Streams.FunnelEvent]
    Streams.runToMemory(Streams.streamAttribution(stream).toDF(), "sattr_mem",
      OutputMode.Update())
    val streamed = spark.table("sattr_mem").groupBy("touch_type")
      .agg(sum(when(col("is_first"), 1L).otherwise(0L)).as("n_first"),
           sum(when(col("is_last"), 1L).otherwise(0L)).as("n_last"),
           sum(col("n")).as("n_touch_events"),
           count(lit(1)).as("n_conversions_touched"))
      .orderBy("touch_type").collect()
    val batch = EventWindows.attribution(spark, sfDir)
      .orderBy("touch_type").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s.toSeq == b.toSeq) }
    // the boundary matters: some conversion after the cut must credit a
    // touch before it — only the carried keyed state can know it
    val cutUs = java.sql.Timestamp.valueOf(cut).getTime * 1000L
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val crossPairs = e.filter(col("event_type") === "purchase" && col("us") >= cutUs)
      .join(e.filter(col("event_type").isin("click", "view") && col("us") < cutUs)
              .select(col("user_id"), col("us").as("tus")), Seq("user_id"))
      .filter(col("tus") < col("us") && col("tus") >= col("us") - 604800000000L)
    assert(crossPairs.count() > 0, "no credit spans the micro-batch cut — harness degenerate")
  }

  test("streaming linear attribution == batch e18 report, credit across micro-batch boundaries") {
    import spark.implicits._
    // same two-file, two-micro-batch harness as the st13 spec: touches
    // before the cut credit conversions after it only via carried state
    val d = tmpDir("slinattr").resolve("events").toString
    val ev = Tables.events(spark, sfDir)
    val cut = "2024-01-15 22:00:00"
    ev.filter(col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(d)
    val early = new java.io.File(d).listFiles.filter(_.getName.endsWith(".parquet"))
    val d2 = tmpDir("slinattr_late").resolve("late").toString
    ev.filter(col("ts") >= cut).coalesce(1).write.mode("overwrite").parquet(d2)
    val lateFile = new java.io.File(d2).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val target = java.nio.file.Paths.get(d, "zz_" + lateFile.getName)
    java.nio.file.Files.move(lateFile.toPath, target)
    early.foreach(f => f.setLastModified(target.toFile.lastModified - 60000))

    val schema = spark.read.parquet(d).schema
    val stream = Streams.parquetDirStream(spark, d, schema, maxFilesPerTrigger = 1)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type"))
      .as[Streams.FunnelEvent]
    Streams.runToMemory(Streams.streamLinearAttribution(stream).toDF(), "slin_mem",
      OutputMode.Update())
    val t = spark.table("slin_mem")
    val denom = t.agg(countDistinct(col("conv_id"))).collect().head.getLong(0)
    val streamed = t.groupBy("touch_type")
      .agg(sum(col("n")).as("n_touch_events"), sum(col("credit_bp")).as("credit_bp"))
      .withColumn("credit_share", graft.ops.Num.roundTo(
        col("credit_bp").cast("double") / (lit(denom.toDouble) * 10000.0), 6))
      .orderBy("touch_type").collect()
    val batch = EventWindows.linearAttribution(spark, sfDir)
      .orderBy("touch_type").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s.toSeq == b.toSeq) }
    // conservation holds over the streamed emissions too
    assert(streamed.map(_.getAs[Long]("credit_bp")).sum == 10000L * denom)
  }

  test("streaming SCD2 == batch closed intervals, closures across micro-batch boundaries") {
    import spark.implicits._
    // two time-split files, ordered mtimes → two micro-batches: every
    // interval open at the cut can only close through the keyed state
    val d = tmpDir("sscd2").resolve("events").toString
    val ev = Tables.events(spark, sfDir)
    val cut = "2024-01-15 22:00:00"
    val cutUs = java.sql.Timestamp.valueOf(cut).getTime * 1000L
    ev.filter(col("ts") < cut).coalesce(1).write.mode("overwrite").parquet(d)
    val early = new java.io.File(d).listFiles.filter(_.getName.endsWith(".parquet"))
    val d2 = tmpDir("sscd2_late").resolve("late").toString
    ev.filter(col("ts") >= cut).coalesce(1).write.mode("overwrite").parquet(d2)
    val lateFile = new java.io.File(d2).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val target = java.nio.file.Paths.get(d, "zz_" + lateFile.getName)
    java.nio.file.Files.move(lateFile.toPath, target)
    early.foreach(f => f.setLastModified(target.toFile.lastModified - 60000))

    val schema = spark.read.parquet(d).schema
    val stream = Streams.parquetDirStream(spark, d, schema, maxFilesPerTrigger = 1)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type"))
      .as[Streams.FunnelEvent]
    Streams.runToMemory(Streams.streamScd2(stream).toDF(), "sscd2_mem",
      OutputMode.Update())
    val streamed = spark.table("sscd2_mem")
      .orderBy("user_id", "valid_from_us").collect()

    val batch = EventWindows.scd2History(spark, sfDir)
      .filter(col("valid_to_us").isNotNull)
      .select("user_id", "state", "valid_from_us", "valid_to_us")
      .orderBy("user_id", "valid_from_us").collect()
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} closed intervals vs batch ${batch.length}")
    streamed.zip(batch).foreach { case (s, b) => assert(s.toSeq == b.toSeq) }
    // the boundary matters: some interval must open in batch 1 and
    // close in batch 2, which only the carried keyed state can do
    assert(streamed.exists(r =>
      r.getAs[Long]("valid_from_us") < cutUs && r.getAs[Long]("valid_to_us") >= cutUs),
      "no interval spans the micro-batch cut — harness degenerate")
  }

  test("streaming incremental SemDeDup == batch semDeDupIncrement across micro-batch boundaries") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val d = tmpDir("stream_semdedup").resolve("emb").toString
    // two files -> two micro-batches with maxFilesPerTrigger=1; per-vector
    // verdicts must be identical to the single-batch answer
    emb.filter(col("vec_id") < 1000).write.mode("overwrite").parquet(d)
    emb.filter(col("vec_id") >= 1000).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val corpus = all.filter(col("vec_id") % 2 === 0)
    val codebook = Similarity.trainIvfCodebook(corpus, cells = 16, iters = 3)
    val lits = codebook.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    Streams.runToMemory(
      Streams.streamSemDedupIncrement(
        Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
          .filter(col("vec_id") % 2 === 1), corpus, lits),
      "semdedup_stream", OutputMode.Append())
    val streamed = spark.table("semdedup_stream").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = Similarity.semDeDupIncrement(corpus,
        all.filter(col("vec_id") % 2 === 1), codebook)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the corpus must actually knock out some new vectors, or this is vacuous
    assert(streamed.length < all.filter(col("vec_id") % 2 === 1).count(),
      "no new vector near-duplicated a corpus vector - increment check is vacuous")
  }

  test("streaming IVF add report == batch v26 across micro-batch boundaries") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val d = tmpDir("stream_ivfadd").resolve("emb").toString
    emb.filter(col("vec_id") < 1000).write.mode("overwrite").parquet(d)
    emb.filter(col("vec_id") >= 1000).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val corpus = all.filter(col("vec_id") % 2 === 0)
    val codebook = graft.ops.Iterate.materialize(
      Similarity.trainIvfCodebook(corpus, cells = 16, iters = 3))
    val lits = codebook.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    Streams.runToMemory(
      Streams.streamIvfAddCounts(
        Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
          .filter(col("vec_id") % 2 === 1), lits),
      "ivfadd_stream")
    val streamed = Similarity.ivfAddReportFromCounts(
        Similarity.assignCells(corpus, codebook)
          .groupBy("cell").agg(count(lit(1)).as("n_before")),
        spark.table("ivfadd_stream"), codebook)
      .collect().map(_.toString).toSeq
    val batch = Similarity.ivfAddReport(corpus,
        all.filter(col("vec_id") % 2 === 1), codebook)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming media curation == batch verdicts across micro-batch boundaries") {
    import graft.ops.Multimodal
    val d = tmpDir("stream_media").resolve("img").toString
    val img = Multimodal.imageTable(spark, sfDir).filter(col("media_id") % 3 === 0)
    // two files -> two micro-batches with maxFilesPerTrigger=1, so
    // stream rows matching the SAME corpus canonical land in different
    // micro-batches — verdicts must still equal the single-shot batch
    img.filter(col("media_id") < 300).coalesce(1).write.mode("overwrite").parquet(d)
    img.filter(col("media_id") >= 300).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val corpus = all.filter(col("media_id") % 2 === 0)
    // the at-rest chunk-exploded index parquet, staged like st23's
    val idxDir = tmpDir("stream_media_idx").toString
    Multimodal.imageCurationIndexChunked(corpus)
      .repartition(col("ci"), col("ckey"))
      .write.mode("overwrite").parquet(idxDir)
    // plan pin (r16 verdict ask #1): the verdict core is a stream-static
    // JOIN against the chunked index PARQUET — no closure-shipped index,
    // no driver collect anywhere in the plan
    val core = Multimodal.curationAgainstIndex(
      all.filter(col("media_id") % 2 === 1), spark.read.parquet(idxDir))
    val plan = core.queryExecution.executedPlan.toString
    assert(plan.contains("Join") && plan.contains("FileScan parquet"),
      s"st22 core must join the at-rest parquet index, got:\n$plan")
    val outDir = tmpDir("stream_media_out").toString
    Streams.runMediaCurationBatches(
      Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
        .filter(col("media_id") % 2 === 1), idxDir, outDir)
    Streams.readBatchSink(spark, outDir).createOrReplaceTempView("media_stream")
    val streamed = spark.table("media_stream").orderBy("media_id")
      .collect().map(_.toString).toSeq
    // independent batch formulation: all-pairs Hamming join + the same
    // (quality desc, id asc) best-match and c14 keep rule in SQL
    val nIdx = Multimodal.imageCurationIndex(all.filter(col("media_id") % 2 === 1))
    nIdx.createOrReplaceTempView("st22_new")
    Multimodal.imageCurationIndex(corpus).createOrReplaceTempView("st22_corp")
    val batch = spark.sql(
      """WITH cand AS (SELECT n.media_id, c.media_id AS cid, c.quality AS cq
        |  FROM st22_new n JOIN st22_corp c
        |  ON bit_count(n.ahash ^ c.ahash) <= 4),
        |best AS (SELECT media_id, cid, cq FROM (
        |  SELECT media_id, cid, cq,
        |    row_number() OVER (PARTITION BY media_id ORDER BY cq DESC, cid) AS rn
        |  FROM cand) WHERE rn = 1)
        |SELECT n.media_id, b.cid AS matched_id, n.quality AS quality_score,
        |  (b.cid IS NULL OR n.quality > b.cq
        |    OR (n.quality = b.cq AND n.media_id < b.cid)) AS keep
        |FROM st22_new n LEFT JOIN best b ON n.media_id = b.media_id
        |ORDER BY n.media_id""".stripMargin)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // non-vacuous: some stream rows must actually match a corpus
    // canonical (16 cross-half pairs at sf0.001), and both verdict
    // kinds must occur
    val matched = spark.table("media_stream").filter(col("matched_id").isNotNull)
    assert(matched.count() > 0, "no stream row matched the corpus - vacuous")
    assert(matched.filter(!col("keep")).count() > 0, "no drop verdict exercised")
  }

  test("streaming phrase match (st24): corpus-derived phrases gate streamed docs across micro-batches; stream-only phrases never derived") {
    import spark.implicits._
    val d = tmpDir("stream_phrase").resolve("docs").toString
    val planted = "alpha beta gamma"
    // corpus (even ids): the planted trigram dominates the derivation
    val corpusDocs = Seq[(Long, String)](
      (2L, s"$planted one two $planted"),
      (4L, s"$planted three four five"),
      (6L, s"six $planted seven eight")).toDF("doc_id", "text")
    // stream (odd ids), split over TWO files → two micro-batches; doc 5
    // repeats a stream-only trigram that must NOT enter the phrase set
    val streamA = Seq[(Long, String)](
      (1L, s"intro $planted outro pad pad2"),
      (5L, "zeta eta theta zeta eta theta zeta eta theta")).toDF("doc_id", "text")
    val streamB = Seq[(Long, String)](
      (3L, s"$planted mid $planted tail")).toDF("doc_id", "text")
    corpusDocs.write.mode("overwrite").parquet(d)
    streamA.write.mode("append").parquet(d)
    streamB.write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val phrases = graft.ops.TextStats.topNgrams(all.filter(col("doc_id") % 2 === 0))
      .collect().map(_.getString(0)).toSeq
    assert(phrases.contains(planted))
    assert(!phrases.exists(_.contains("zeta")), "stream-only trigram leaked into derivation")
    Streams.runToMemory(
      Streams.streamPhraseMatch(
        Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
          .filter(col("doc_id") % 2 === 1), phrases),
      "phrase_stream", OutputMode.Append())
    val out = spark.table("phrase_stream").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // per-row counts across BOTH micro-batches
    assert(out((1L, planted)) == 1L)
    assert(out((3L, planted)) == 2L)
    // doc 5 matches nothing: its own trigram was never derived
    assert(!out.keys.exists(_._1 == 5L))
    // batch replay equals the stream output exactly
    val batch = Streams.streamPhraseMatch(
      all.filter(col("doc_id") % 2 === 1), phrases).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == batch)
  }

  test("streaming audio match == batch verdicts; planted retake crosses the corpus/stream boundary") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.ImageCodec
    import spark.implicits._
    val d = tmpDir("stream_audio").resolve("wav").toString
    // t = (id-2)/3 = 22..27; 74 (t=24, corpus parity) re-records 71
    // (t=23, stream parity) at +7 samples -> the planted pair CROSSES
    // the corpus/stream split. Two files -> two micro-batches.
    def rows(ids: Seq[Long]) =
      ids.map(id => (id, ImageCodec.synthAudioShifted(id))).toDF("media_id", "payload")
    rows(Seq(68L, 71L, 74L, 80L)).coalesce(1).write.mode("overwrite").parquet(d)
    rows(Seq(77L, 83L)).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val corpus = all.filter(expr("((media_id - 2) div 3) % 2 = 0"))
    val cs = Multimodal.audioWindowSets(corpus)
    // stage the at-rest index + sizes exactly as the registration does
    val idxDir = tmpDir("stream_audio_idx").toString
    Multimodal.audioWindowIndex(cs).repartition(col("wh"))
      .write.mode("overwrite").parquet(s"$idxDir/index")
    cs.select(col("doc_id").as("cid"), col("n_sh").as("nb"))
      .write.mode("overwrite").parquet(s"$idxDir/sizes")
    // plan pin (r15 verdict ask #3): the verdict core is a stream-static
    // JOIN against the bucketed index PARQUET — no closure-shipped
    // index, no driver collect in the plan
    val core = Multimodal.audioMatchAgainstIndex(
      Multimodal.audioWindowSets(all.filter(expr("((media_id - 2) div 3) % 2 = 1"))),
      spark.read.parquet(s"$idxDir/index"), spark.read.parquet(s"$idxDir/sizes"))
    val plan = core.queryExecution.executedPlan.toString
    assert(plan.contains("Join") && plan.contains("FileScan parquet"),
      s"st23 core must join the at-rest parquet index, got:\n$plan")
    val outDir = tmpDir("stream_audio_out").toString
    Streams.runAudioMatchBatches(
      Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
        .filter(expr("((media_id - 2) div 3) % 2 = 1")),
      s"$idxDir/index", s"$idxDir/sizes", outDir)
    val streamed = Streams.readBatchSink(spark, outDir).orderBy("media_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
                 r.getDouble(2), r.getBoolean(3)))
    // the planted retake: stream 71 matches corpus 74 at J = 50/64
    assert(streamed.map(_._1).toSeq == Seq(71L, 77L, 83L))
    val m71 = streamed.find(_._1 == 71L).get
    assert(m71._2 == Some(74L) && m71._3 == 0.78125 && m71._4, s"got $m71")
    // independent noise: no match, no dup
    streamed.filter(r => r._1 != 71L).foreach { r =>
      assert(r._2.isEmpty && r._3 == 0.0 && !r._4, s"false match: $r")
    }
    // independent batch formulation (plain joins + window) must agree
    cs.createOrReplaceTempView("st23_corp")
    Multimodal.audioWindowSets(all.filter(expr("((media_id - 2) div 3) % 2 = 1")))
      .createOrReplaceTempView("st23_new")
    val batch = spark.sql(
      """WITH ce AS (SELECT doc_id, explode(sh) AS wh FROM st23_corp),
        |ne AS (SELECT doc_id, explode(sh) AS wh FROM st23_new),
        |sq AS (SELECT ne.doc_id AS mid, ce.doc_id AS cid, count(*) AS s
        |       FROM ne JOIN ce USING (wh) GROUP BY 1, 2),
        |jq AS (SELECT mid, cid,
        |  floor(CAST(s AS DOUBLE) / (sa.n_sh + sb.n_sh - s) * 1e6 + 0.5) / 1e6 AS j
        |  FROM sq JOIN st23_new sa ON sa.doc_id = mid
        |          JOIN st23_corp sb ON sb.doc_id = cid),
        |best AS (SELECT mid, cid, j FROM (
        |  SELECT mid, cid, j, row_number() OVER (PARTITION BY mid ORDER BY j DESC, cid) AS rn
        |  FROM jq) WHERE rn = 1)
        |SELECT n.doc_id AS media_id, b.cid AS matched_id,
        |  coalesce(b.j, 0.0) AS window_jaccard,
        |  coalesce(b.j >= 0.5, FALSE) AS is_dup
        |FROM (SELECT DISTINCT doc_id FROM st23_new) n
        |LEFT JOIN best b ON b.mid = n.doc_id ORDER BY media_id""".stripMargin)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
                           r.getDouble(2), r.getBoolean(3)))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming video match (st30): planted pairs across the corpus/stream boundary; stream == batch SQL") {
    import graft.ops.Multimodal
    val d = tmpDir("stream_video").resolve("vid").toString
    val all0 = Multimodal.mediaTable(spark, sfDir)
    // two files -> two micro-batches: pair members land in different
    // batches from their corpus canonicals; verdicts must not move
    all0.filter(col("media_id") < 700).coalesce(1).write.mode("overwrite").parquet(d)
    all0.filter(col("media_id") >= 700).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val corpus = all.filter(col("media_id") % 2 === 0)
    val idxDir = tmpDir("stream_video_idx").toString
    val cs = graft.ops.Iterate.materialize(Multimodal.videoFrameSets(corpus))
    Multimodal.audioWindowIndex(cs).repartition(col("wh"))
      .write.mode("overwrite").parquet(s"$idxDir/index")
    cs.select(col("doc_id").as("cid"), col("n_sh").as("nb"))
      .write.mode("overwrite").parquet(s"$idxDir/sizes")
    // plan pin: the verdict core is a stream-static JOIN against the
    // at-rest parquet index — no driver-collected index anywhere
    val core = Multimodal.videoMatchAgainstIndex(
      Multimodal.videoFrameSets(all.filter(col("media_id") % 2 === 1)),
      spark.read.parquet(s"$idxDir/index"), spark.read.parquet(s"$idxDir/sizes"))
    val plan = core.queryExecution.executedPlan.toString
    assert(plan.contains("Join") && plan.contains("FileScan parquet"),
      s"st30 core must join the at-rest parquet index, got:\n$plan")
    val outDir = tmpDir("stream_video_out").toString
    Streams.runVideoMatchBatches(
      Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
        .filter(col("media_id") % 2 === 1),
      s"$idxDir/index", s"$idxDir/sizes", outDir)
    val streamed = Streams.readBatchSink(spark, outDir).orderBy("media_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
                 r.getDouble(2), r.getBoolean(3)))
    // planted near-dups (%100==3 streams, its base %100==2 sits in the
    // corpus): every planted row must find its base as best match, and
    // the long ones cross the 0.5 dup bar (short docs have few frames,
    // so some pairs legitimately score below it — same as batch m9)
    val planted = streamed.filter(_._1 % 100 == 3)
    assert(planted.nonEmpty, "no planted odd pair members reached the stream half")
    planted.foreach { r =>
      assert(r._2 == Some(r._1 - 1), s"planted pair not matched: $r")
    }
    assert(planted.exists(_._4), "no cross-boundary dup verdict exercised")
    // independent batch formulation (plain SQL with the corpus-side df
    // guard) must agree row for row
    cs.createOrReplaceTempView("st30_corp")
    Multimodal.videoFrameSets(all.filter(col("media_id") % 2 === 1))
      .createOrReplaceTempView("st30_new")
    val batch = spark.sql(
      """WITH ce0 AS (SELECT doc_id, explode(sh) AS fh FROM st30_corp),
        |dfc AS (SELECT fh FROM ce0 GROUP BY fh HAVING count(*) <= 64),
        |ce AS (SELECT ce0.doc_id, ce0.fh FROM ce0 JOIN dfc USING (fh)),
        |ne AS (SELECT doc_id, explode(sh) AS fh FROM st30_new),
        |sq AS (SELECT ne.doc_id AS mid, ce.doc_id AS cid, count(*) AS s
        |       FROM ne JOIN ce USING (fh) GROUP BY 1, 2),
        |jq AS (SELECT mid, cid,
        |  floor(CAST(s AS DOUBLE) / (sa.n_sh + sb.n_sh - s) * 1e6 + 0.5) / 1e6 AS j
        |  FROM sq JOIN st30_new sa ON sa.doc_id = mid
        |          JOIN st30_corp sb ON sb.doc_id = cid),
        |best AS (SELECT mid, cid, j FROM (
        |  SELECT mid, cid, j, row_number() OVER (PARTITION BY mid ORDER BY j DESC, cid) AS rn
        |  FROM jq) WHERE rn = 1)
        |SELECT n.doc_id AS media_id, b.cid AS matched_id,
        |  coalesce(b.j, 0.0) AS frame_jaccard,
        |  coalesce(b.j >= 0.5, FALSE) AS is_dup
        |FROM (SELECT DISTINCT doc_id FROM st30_new) n
        |LEFT JOIN best b ON b.mid = n.doc_id ORDER BY media_id""".stripMargin)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
                           r.getDouble(2), r.getBoolean(3)))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming index add: per-micro-batch segments union to the one-shot segment; t37 report row-identical") {
    import graft.ops.TextStats
    val docs = Tables.documents(spark, sfDir)
    val d = tmpDir("stream_idxadd").resolve("docs").toString
    // two files -> two micro-batches -> two appended segments
    docs.filter(col("doc_id") < 100).write.mode("overwrite").parquet(d)
    docs.filter(col("doc_id") >= 100).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val (baseTfs, _) = TextStats.indexSegment(all.filter(col("doc_id") % 2 === 0))
    val segDir = tmpDir("stream_idxadd_segs").toString
    Streams.runIndexAddBatches(
      Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
        .filter(col("doc_id") % 2 === 1), segDir)
    // the appended segments union to exactly the one-shot batch segment
    val oneShot = TextStats.indexSegment(all.filter(col("doc_id") % 2 === 1))._1
    val streamedSegs = Streams.readBatchSink(spark, segDir)
    assert(streamedSegs.count() == oneShot.count())
    assert(streamedSegs.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamedSegs).isEmpty)
    // and the t37 report over (base, accumulated segments) is
    // row-identical to the batch report — micro-batch boundaries
    // cannot move a count
    val viaStream = TextStats.indexAddReport(baseTfs, streamedSegs)
      .collect().map(_.toSeq).toSeq
    val viaBatch = TextStats.indexAddReport(baseTfs, oneShot)
      .collect().map(_.toSeq).toSeq
    assert(viaStream.nonEmpty && viaStream == viaBatch)
    // RETRY idempotence (r16 advice): replaying the whole stream into
    // the SAME store re-delivers every micro-batch with its original
    // batchId; the batch_id=<id> overwrite discipline means the store
    // is the same logical table afterward — postings never double.
    // (Last in the test: the overwrite invalidates file listings cached
    // by the pre-retry DataFrames above.)
    Streams.runIndexAddBatches(
      Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
        .filter(col("doc_id") % 2 === 1), segDir)
    val afterRetry = Streams.readBatchSink(spark, segDir)
    assert(afterRetry.count() == oneShot.count(),
      "a re-delivered micro-batch must overwrite, not append")
    assert(afterRetry.exceptAll(oneShot).isEmpty)
  }

  test("streaming positional add (st31): accumulated segments == one-shot postings; phrase serving row-identical to rebuild") {
    import graft.ops.TextStats
    val docs = Tables.documents(spark, sfDir)
    val d = tmpDir("stream_posadd").resolve("docs").toString
    docs.filter(col("doc_id") < 100).write.mode("overwrite").parquet(d)
    docs.filter(col("doc_id") >= 100).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val base = TextStats.positionalSegment(all.filter(col("doc_id") % 2 === 0))
    val segDir = tmpDir("stream_posadd_segs").toString
    Streams.runPositionalAddBatches(
      Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
        .filter(col("doc_id") % 2 === 1), segDir)
    // doc-disjoint per-batch segments union to the one-shot postings
    val streamedSegs = Streams.readBatchSink(spark, segDir)
    val oneShot = TextStats.positionalSegment(all.filter(col("doc_id") % 2 === 1))
    assert(streamedSegs.count() == oneShot.count())
    assert(streamedSegs.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamedSegs).isEmpty)
    // phrase serving through (base, accumulated segments) — derivation
    // included — equals the whole-corpus rebuild row for row
    val viaStream = TextStats.phraseSearchFromSegments(Seq(base, streamedSegs))
      .collect().map(_.toSeq).toSeq
    val rebuild = TextStats.phraseSearch(all).collect().map(_.toSeq).toSeq
    assert(viaStream.nonEmpty && viaStream == rebuild)
  }

  test("streaming snapshot status == batch statuses across micro-batch boundaries; null-text old doc is not 'added'") {
    import spark.implicits._
    val d = tmpDir("stream_snap").resolve("b").toString
    // old snapshot: docs 1 (kept), 2 (will change), 3 (null text, kept)
    val a = Seq((1L, Option("same"), "s1"), (2L, Option("old"), "s1"),
      (3L, Option.empty[String], "s2")).toDF("doc_id", "text", "source")
    val idx = a.select(col("doc_id"), lit(true).as("in_a"),
      call_function("fnv1a64", col("text")).as("h_a"))
    // new crawl in two files -> two micro-batches
    Seq((1L, Option("same"), "s1"), (2L, Option("new"), "s1"))
      .toDF("doc_id", "text", "source").coalesce(1).write.mode("overwrite").parquet(d)
    Seq((3L, Option.empty[String], "s2"), (4L, Option("fresh"), "s2"))
      .toDF("doc_id", "text", "source").coalesce(1).write.mode("append").parquet(d)
    val schema = spark.read.parquet(d).schema
    Streams.runToMemory(
      Streams.streamSnapshotStatus(
        Streams.parquetDirStream(spark, d, schema, maxFilesPerTrigger = 1), idx),
      "snap_stream", OutputMode.Append())
    val out = spark.table("snap_stream").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", 4L -> "added"), s"got $out")
    // batch replay of the same per-row rule agrees
    val batch = Streams.streamSnapshotStatus(spark.read.parquet(d), idx)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == batch)
  }

  test("streaming BM25 serving == rebuild ranks, queries split across micro-batches") {
    import graft.ops.TextStats
    val docs = Tables.documents(spark, sfDir)
    val (bTfs, bLens) = TextStats.indexSegment(docs.filter(col("doc_id") % 2 === 0))
    val (aTfs, aLens) = TextStats.indexSegment(docs.filter(col("doc_id") % 2 === 1))
    val idx = tmpDir("stream_bm25_idx").toString
    bTfs.write.mode("overwrite").parquet(s"$idx/tfs")
    bLens.write.mode("overwrite").parquet(s"$idx/lens")
    aTfs.write.mode("overwrite").parquet(s"$idx/addtfs")
    aLens.write.mode("overwrite").parquet(s"$idx/addlens")
    // query rows atomic: one row per phrase; two files -> two batches
    val qRows = TextStats.bm25QueryToks(docs)
      .groupBy("phrase").agg(collect_set(col("tok")).as("toks"))
    val qDir = tmpDir("stream_bm25_q").resolve("q").toString
    qRows.limit(2).coalesce(1).write.mode("overwrite").parquet(qDir)
    qRows.exceptAll(qRows.limit(2)).coalesce(1).write.mode("append").parquet(qDir)
    val outDir = tmpDir("stream_bm25_out").toString
    Streams.runBm25QueryBatches(
      Streams.parquetDirStream(spark, qDir, spark.read.parquet(qDir).schema,
        maxFilesPerTrigger = 1),
      Seq((s"$idx/tfs", s"$idx/lens"), (s"$idx/addtfs", s"$idx/addlens")), outDir)
    val streamed = Streams.readBatchSink(spark, outDir)
      .orderBy("phrase", "rank").collect().map(_.toSeq).toSeq
    val rebuild = TextStats.bm25TopK(docs).collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == rebuild)
  }

  test("streaming tombstone BM25 (st32) == batch tombstone query, queries split across micro-batches; deleted ids never ranked") {
    import graft.ops.TextStats
    val docs = Tables.documents(spark, sfDir)
    val (bTfs, bLens) = TextStats.indexSegment(docs.filter(col("doc_id") % 2 === 0))
    val (aTfs, aLens) = TextStats.indexSegment(docs.filter(col("doc_id") % 2 === 1))
    val idx = tmpDir("stream_bm25t_idx").toString
    bTfs.write.mode("overwrite").parquet(s"$idx/tfs")
    bLens.write.mode("overwrite").parquet(s"$idx/lens")
    aTfs.write.mode("overwrite").parquet(s"$idx/addtfs")
    aLens.write.mode("overwrite").parquet(s"$idx/addlens")
    // the delete list is an AT-REST static side (t43's %10=6 rule)
    val del = docs.select(col("doc_id")).filter(col("doc_id") % 10 === 6)
    del.write.mode("overwrite").parquet(s"$idx/deletes")
    // query workload derived from the RETAINED corpus (t43's contract)
    val qRows = TextStats.bm25QueryToks(docs.filter(col("doc_id") % 10 =!= 6))
      .groupBy("phrase").agg(collect_set(col("tok")).as("toks"))
    val qDir = tmpDir("stream_bm25t_q").resolve("q").toString
    qRows.limit(2).coalesce(1).write.mode("overwrite").parquet(qDir)
    qRows.exceptAll(qRows.limit(2)).coalesce(1).write.mode("append").parquet(qDir)
    val outDir = tmpDir("stream_bm25t_out").toString
    Streams.runBm25TombstoneQueryBatches(
      Streams.parquetDirStream(spark, qDir, spark.read.parquet(qDir).schema,
        maxFilesPerTrigger = 1),
      Seq((s"$idx/tfs", s"$idx/lens"), (s"$idx/addtfs", s"$idx/addlens")),
      s"$idx/deletes", outDir)
    val streamed = Streams.readBatchSink(spark, outDir)
      .orderBy("phrase", "rank").collect().map(_.toSeq).toSeq
    val batch = TextStats.bm25TopKTombstone(
        Seq((bTfs, bLens), (aTfs, aLens)), del,
        TextStats.bm25QueryToks(docs.filter(col("doc_id") % 10 =!= 6)))
      .orderBy("phrase", "rank").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // no deleted doc can ever rank
    assert(Streams.readBatchSink(spark, outDir)
      .filter(col("doc_id") % 10 === 6).count() == 0)
  }

  test("streaming tombstone phrase serving (st33): accumulated segments + staged delete list == retained-corpus rebuild") {
    import graft.ops.TextStats
    val docs = Tables.documents(spark, sfDir)
    val d = tmpDir("stream_post").resolve("docs").toString
    docs.filter(col("doc_id") < 100).write.mode("overwrite").parquet(d)
    docs.filter(col("doc_id") >= 100).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val base = TextStats.positionalSegment(all.filter(col("doc_id") % 2 === 0))
    val segDir = tmpDir("stream_post_segs").toString
    Streams.runPositionalAddBatches(
      Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1)
        .filter(col("doc_id") % 2 === 1), segDir)
    val delDir = tmpDir("stream_post_del").resolve("deletes").toString
    all.select(col("doc_id")).filter(col("doc_id") % 10 === 6)
      .write.mode("overwrite").parquet(delDir)
    val viaStream = TextStats.phraseSearchTombstone(
        Seq(base, Streams.readBatchSink(spark, segDir)),
        spark.read.parquet(delDir))
      .collect().map(_.toSeq).toSeq
    val rebuild = TextStats.phraseSearch(all.filter(col("doc_id") % 10 =!= 6))
      .collect().map(_.toSeq).toSeq
    assert(viaStream.nonEmpty && viaStream == rebuild)
  }

  test("streaming quality gate == batch c6 gate across micro-batch boundaries") {
    import graft.ops.TextStats
    val docs = Tables.documents(spark, sfDir)
    val d = tmpDir("stream_qgate").resolve("docs").toString
    docs.filter(col("doc_id") < 100).write.mode("overwrite").parquet(d)
    docs.filter(col("doc_id") >= 100).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val thresholds = TextStats.qualityThresholds(
      TextStats.qualityScore(all).select(col("doc_id"), col("lang"), col("quality_score")))
    Streams.runToMemory(
      Streams.streamQualityGate(
        Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1), thresholds),
      "qgate_stream", OutputMode.Append())
    val streamed = spark.table("qgate_stream").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batch = TextStats.qualityGate(all).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the gate must actually drop documents, or the twin check is vacuous
    assert(streamed.length < all.count(), "quality gate dropped nothing - vacuous")
  }

  test("streaming PCA scoring == batch v23 across micro-batch boundaries") {
    import graft.ops.{Similarity, Tables}
    val d = tmpDir("stream_pca").resolve("emb").toString
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") < 100).write.mode("overwrite").parquet(d)
    emb.filter(col("vec_id") >= 100).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val comp = Similarity.powerIteration(all)
      .orderBy("dim").collect().map(_.getDouble(1))
    Streams.runToMemory(
      Streams.streamPcaProject(
        Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1), comp),
      "pca_stream", OutputMode.Append())
    val streamed = spark.table("pca_stream").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Similarity.pcaProject(all).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming KMV sketches == batch e22 across micro-batch boundaries (typed aggregate as stream state)") {
    import graft.ops.Analytics
    val schema = spark.read.parquet(eventsDir).schema
    Streams.runToMemory(
      Streams.parquetDirStream(spark, eventsDir, schema, maxFilesPerTrigger = 1)
        .select(unix_micros(date_trunc("hour", col("ts"))).as("scope"),
          pmod(call_function("splitmix64", col("user_id")), lit(1L << 61)).as("u"))
        .groupBy("scope")
        .agg(call_function("kmv_sketch", col("u"), lit(256)).as("sk")),
      "kmv_stream", OutputMode.Complete())
    val streamed = Analytics.kmvStatsOf(spark.table("kmv_stream"), 256)
      .orderBy("scope").collect().map(_.toSeq).toSeq
    val batch = Analytics.kmvWindowStats(spark.read.parquet(eventsDir), 256)
      .orderBy("scope").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming quantile sketches == batch estimator across micro-batch boundaries (bounded bottomk_pairs state)") {
    import graft.ops.Profiling
    val schema = spark.read.parquet(eventsDir).schema
    def sketched(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"),
        call_function("splitmix64", col("event_id")).as("h"),
        col("value").cast("double").as("x"))
      .filter(col("x").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        call_function("bottomk_pairs", col("h"), col("x"), lit(256)).as("sk"))
    Streams.runToMemory(
      sketched(Streams.parquetDirStream(spark, eventsDir, schema, maxFilesPerTrigger = 1)),
      "bksample_stream", OutputMode.Complete())
    val streamed = Profiling.sampleQuantileStatsOf(spark.table("bksample_stream"), "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Profiling.sampleQuantileStatsOf(sketched(spark.read.parquet(eventsDir)), "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // bounded state: every sketch holds <= 256 pairs (sf0.001 groups
    // are small, so also pin the cap on a >256-row synthetic group)
    val sizes = spark.table("bksample_stream")
      .select(size(col("sk")).as("n_sk")).collect()
    assert(sizes.forall(r => r.getAs[Int]("n_sk") <= 256))
    import spark.implicits._
    val big = (1L to 5000L).map(i => ("t", i, i.toDouble)).toDF("event_type", "event_id", "value")
    val bigSk = sketched(big).select(col("n_rows"), size(col("sk")).as("n_sk")).head()
    assert(bigSk.getAs[Long]("n_rows") == 5000L && bigSk.getAs[Int]("n_sk") == 256)
  }

  test("streaming chi-square drift == batch p10 across micro-batch boundaries") {
    import graft.ops.Profiling
    val cut = "2024-01-16 00:00:00"
    val schema = spark.read.parquet(eventsDir).schema
    val base = spark.read.parquet(eventsDir)
      .filter(col("ts") < lit(cut).cast("timestamp"))
      .groupBy(col("event_type").as("category"))
      .agg(count(lit(1)).as("n_base"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Streams.runToMemory(
      Streams.streamCategoryCounts(
        Streams.parquetDirStream(spark, eventsDir, schema, maxFilesPerTrigger = 1), cut),
      "drift_stream", OutputMode.Complete())
    import spark.implicits._
    val counts = base.toDF("category", "n_base")
      .join(spark.table("drift_stream"), Seq("category"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
    val streamed = Profiling.chiSquareTerms(counts).collect().map(_.toSeq).toSeq
    val batch = Profiling.chiSquareDrift(spark.read.parquet(eventsDir),
      "event_type", "ts", cut).collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming DSIR resample == batch t28 across micro-batch boundaries") {
    import graft.ops.TextStats
    val docs = Tables.documents(spark, sfDir)
    val d = tmpDir("stream_isample").resolve("docs").toString
    docs.filter(col("doc_id") < 100).write.mode("overwrite").parquet(d)
    docs.filter(col("doc_id") >= 100).coalesce(1).write.mode("append").parquet(d)
    val all = spark.read.parquet(d)
    val weights = TextStats.bucketWeights(all)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val lwMax = TextStats.importanceWeights(all)
      .agg(max(col("log_weight"))).head().getDouble(0)
    Streams.runToMemory(
      Streams.streamImportanceSample(
        Streams.parquetDirStream(spark, d, all.schema, maxFilesPerTrigger = 1),
        weights, lwMax),
      "isample_stream", OutputMode.Append())
    val streamed = spark.table("isample_stream").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val batch = TextStats.importanceSample(all).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // resampling must actually thin the corpus, or the twin check is vacuous
    assert(streamed.length < all.count(), "importance resample dropped nothing - vacuous")
  }

  test("withRocksDbState: sets the RocksDB provider inside, restores the prior conf after, result identical") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val d = tmpDir("rocks_state").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(d)
    val schema = spark.read.parquet(d).schema
    var insideProvider: Option[String] = None
    Streams.withRocksDbState(spark) {
      insideProvider = spark.conf.getOption(key)
      Streams.runToMemory(
        Streams.userSessions(Streams.parquetDirStream(spark, d, schema)),
        "rocks_sessions")
    }
    assert(insideProvider.exists(_.contains("RocksDBStateStoreProvider")),
      s"provider inside the block: $insideProvider")
    assert(spark.conf.getOption(key) == before, "provider conf not restored")
    // the session actually ran through the RocksDB store and produced
    // the same row a heap-store run yields
    val got = spark.table("rocks_sessions").collect()
    assert(got.length == 1 && got.head.getAs[Long]("user_id") == 7L)
  }

  private def ckptQueryDirs: Set[String] = {
    val root = java.nio.file.Paths.get(
      graft.Sessions.scratchDir.getOrElse(System.getProperty("java.io.tmpdir")), "graft-ckpt")
    if (!java.nio.file.Files.isDirectory(root)) Set.empty
    else scala.util.Using.resource(java.nio.file.Files.list(root)) { l =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(l.iterator).asScala
        .map(_.getFileName.toString).toSet
    }
  }

  test("ephemeral checkpoints: graft-ckpt holds no query directory once runToMemory or a foreachBatch runner ends") {
    val before = ckptQueryDirs
    val schema = spark.read.parquet(eventsDir).schema
    Streams.runToMemory(
      Streams.hourlyByType(Streams.parquetDirStream(spark, eventsDir, schema)), "ckpt_cleanup_mem")
    assert(spark.table("ckpt_cleanup_mem").count() > 0)
    assert((ckptQueryDirs -- before).isEmpty, s"left behind: ${ckptQueryDirs -- before}")
    val segDir = tmpDir("ckpt_cleanup_segs").toString
    val docsDir = tmpDir("ckpt_cleanup_docs").resolve("docs").toString
    Tables.documents(spark, sfDir).write.parquet(docsDir)
    Streams.runIndexAddBatches(
      Streams.parquetDirStream(spark, docsDir, spark.read.parquet(docsDir).schema), segDir)
    assert(Streams.readBatchSink(spark, segDir).count() > 0)
    assert((ckptQueryDirs -- before).isEmpty, s"left behind: ${ckptQueryDirs -- before}")
  }

  test("stream width comes from the query's own file sources: the largest one, scoped to start") {
    import spark.implicits._
    val base = tmpDir("stream_width")
    val small = base.resolve("small").toString
    val big = base.resolve("big").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "g").write.parquet(small)
    Seq((3L, "c")).toDF("id", "g").write.parquet(big)
    // 2.5 MB the source skips (a leading "_" hides a file from the scan)
    // but the byte sum counts: the big source sizes to 2 partitions
    java.nio.file.Files.write(java.nio.file.Paths.get(big, "_pad"), new Array[Byte](5 << 19))
    val schema = spark.read.parquet(small).schema
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    def statePartitions(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.flatMap(_.stateOperators).head.numShufflePartitions
    // an untransformed source reads the same as one inside a plan
    assert(Streams.sourceWidth(Streams.parquetDirStream(spark, big, schema)) == Some(2))
    assert(Streams.sourceWidth(Streams.parquetDirStream(spark, small, schema)) == Some(1))
    // built last, the small source no longer decides the width
    val both = Streams.parquetDirStream(spark, big, schema)
      .union(Streams.parquetDirStream(spark, small, schema))
    assert(Streams.sourceWidth(both) == Some(2))
    val q2 = Streams.runToMemory(both.groupBy("g").count(), "width_both")
    assert(statePartitions(q2) == 2)
    val q1 = Streams.runToMemory(
      Streams.parquetDirStream(spark, small, schema).groupBy("g").count(), "width_small")
    assert(statePartitions(q1) == 1)
    assert(spark.table("width_both").count() == 3)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shufflePartitions)
  }
}
