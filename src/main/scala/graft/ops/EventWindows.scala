package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing over the `events` table — batch versions (the
  * Structured Streaming twins live in graft.streaming and are
  * batch-equivalence-tested against these, SURVEY §7.4 risk 7).
  */
object EventWindows {

  /** Tumbling 1-hour windows per event_type. Expressed with date_trunc so
    * the same SQL runs on the DuckDB oracle; semantically identical to
    * `window($"ts", "1 hour")` for aligned tumbling windows. One shuffle
    * on (hour, type) with map-side partial aggregation. Window bounds are
    * emitted as epoch micros (long) — engine-neutral encoding.
    */
  def hourlyByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("window_start_us"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           Num.exactSum(col("value")).as("total_value"),
           Num.exactAvg(col("value")).as("avg_value"))
      .orderBy("window_start_us", "event_type")

  /** Spark-native tumbling window (same result shape flattened). */
  def tumbling(spark: SparkSession, dir: String, width: String = "1 hour"): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))
      .orderBy("window_start", "event_type")

  /** Sliding windows: 1-hour window every 30 minutes. */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))
      .orderBy("window_start")

  /** Registered sliding-window shape (e5): 1-hour windows every 30
    * minutes per event type. Spark's `window()` fans each event into
    * width/slide = 2 rows BEFORE the aggregation — partial (map-side)
    * combine still applies, so shuffle volume is O(windows·types), not
    * O(events·2). The oracle replays the epoch-aligned window starts as
    * floor-grid arithmetic (an event at t belongs to starts
    * floor(t/slide)·slide − k·slide for k in 0..width/slide−1).
    */
  def slidingByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           Num.exactSum(col("value")).as("total_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy("window_start_us", "event_type")

  /** Per-user sessionization with a 30-minute inactivity gap, expressed as
    * gaps-and-islands (lag + conditional cumulative sum) so the identical
    * SQL is the DuckDB oracle. One shuffle on user_id; both windows reuse
    * the same partitioning (single sort, two window frames).
    *
    * Session bounds follow min/max event time (the streaming twin uses
    * session_window whose `end` is last-event + gap; the spec asserts the
    * translation between the two).
    */
  def userSessions(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts"))) // epoch micros: exact integer math
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("us")).as("session_start_us"),
           max(col("us")).as("session_end_us"),
           count(lit(1)).as("n_events"),
           Num.exactSum(col("value")).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Session CONCURRENCY profile — the sweep line over session
    * intervals: at every distinct boundary instant, how many sessions
    * are simultaneously open (start ≤ t AND end ≥ t — a session is
    * active through its last event, so ends count strictly-before).
    * The capacity-planning curve ("peak concurrent sessions") every
    * serving team reads.
    *
    * Scale shape: boundaries aggregate per instant first (map-side
    * combined), then BOTH running counts ride ONE [[Prefix]] sum over the
    * distinct-instant rows — no single-task global window, and the row
    * count is O(distinct boundaries), not events.
    */
  def sessionConcurrency(spark: SparkSession, dir: String,
                         gapMinutes: Int = 30): DataFrame = {
    val s = userSessions(spark, dir, gapMinutes)
      .select(col("session_start_us").as("s"), col("session_end_us").as("e"))
    val pts = s.select(col("s").as("us"), lit(1L).as("cs"), lit(0L).as("ce"))
      .unionAll(s.select(col("e").as("us"), lit(0L).as("cs"), lit(1L).as("ce")))
      .groupBy("us").agg(sum(col("cs")).as("n_starts"), sum(col("ce")).as("n_ends"))
    // open at t = starts through t − ends strictly before t
    Prefix.sums(pts, Nil, Seq(col("us")), "starts" -> col("n_starts"), "ends" -> col("n_ends"))
      .select(col("us"), col("n_starts"), col("n_ends"),
        (col("starts_cum") - (col("ends_cum") - col("n_ends"))).as("n_active"))
      .orderBy("us")
  }

  /** Session summary per user — rides on userSessions' partitioning. */
  def sessionStats(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    userSessions(spark, dir, gapMinutes)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
           sum(col("n_events")).as("n_events"))
      .orderBy("user_id")

  /** Ordered conversion funnel: for stages (A, B, C, …), a user reaches
    * stage k when they have an event of type `stages(k)` STRICTLY after
    * their first qualifying event for stage k-1 (first-touch semantics —
    * each stage anchors on the earliest possible timestamp, so reach is
    * maximal and the result is order-deterministic).
    *
    * Scale shape: one filtered aggregate per stage, all keyed on user_id —
    * |stages| shuffles of (user_id, min_ts) pairs, never the raw events.
    * Each stage's frame is at most the previous stage's user set, so the
    * join sides shrink monotonically; AQE broadcasts them as they fall
    * under the threshold. No windows, no driver-side loop over data —
    * the loop is over the (tiny, static) stage list, building one plan.
    */
  def funnel(spark: SparkSession, dir: String,
             stages: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    // reached(k): user_id -> earliest time stage k completed
    val first = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min(col("us")).as("t"))
    val reached = stages.tail.scanLeft(first) { (prev, stage) =>
      e.filter(col("event_type") === stage)
        .join(prev.select(col("user_id"), col("t").as("prev_t")), Seq("user_id"))
        .filter(col("us") > col("prev_t"))
        .groupBy("user_id").agg(min(col("us")).as("t"))
    }
    reached.zip(stages).zipWithIndex.map { case ((df, stage), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("stage"), lit(stage).as("event_type"), col("n_users"))
    }.reduce(_ unionAll _).orderBy("stage")
  }

  /** Funnel with conversion timing: [[funnel]]'s stage counts plus the
    * mean time from the previous stage's first touch to this stage's —
    * the "where does the funnel stall" report. Each stage frame carries
    * its anchor timestamp through the aggregation (prev_t is constant
    * per user after the join, so min() just keeps it), and the mean is
    * an exact integer micros sum with one rounded division. Same scale
    * shape as funnel: |stages| aggregates keyed on user_id.
    */
  def funnelTiming(spark: SparkSession, dir: String,
                   stages: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val first = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min(col("us")).as("t"))
      .withColumn("prev_t", lit(null).cast("long"))
    val reached = stages.tail.scanLeft(first) { (prev, stage) =>
      e.filter(col("event_type") === stage)
        .join(prev.select(col("user_id"), col("t").as("anchor")), Seq("user_id"))
        .filter(col("us") > col("anchor"))
        .groupBy("user_id")
        .agg(min(col("us")).as("t"), min(col("anchor")).as("prev_t"))
    }
    reached.zip(stages).zipWithIndex.map { case ((df, stage), i) =>
      df.agg(count(lit(1)).as("n_users"),
          when(count(lit(1)) > 0 && lit(i) > 0,
            Num.roundTo(sum(col("t") - col("prev_t")).cast("double") / count(lit(1)), 4))
            .as("mean_us_from_prev"))
        .select(lit(i + 1L).as("stage"), lit(stage).as("event_type"),
                col("n_users"), col("mean_us_from_prev"))
    }.reduce(_ unionAll _).orderBy("stage")
  }

  /** Weekly cohort retention: users bucketed by the epoch-week of their
    * first event; one output row per (cohort_week, week_offset) counting
    * users active that many weeks after their cohort week.
    *
    * Weeks are integer epoch arithmetic (`us div 7 days`), not calendar
    * `date_trunc` — engine-neutral (no week-start or locale semantics)
    * and exact. Two shuffles keyed on user_id (first-week aggregate +
    * distinct activity), then one small aggregate keyed on the cohort
    * grid — at corpus scale the grid is O(weeks²), corpus-size
    * independent. `count(*)` after the distinct is deliberate: the
    * (user, week) pairs are already unique, so no second distinct pass.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val e = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) div $weekUs").as("week"))
    val cohort = e.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val activity = e.distinct()
    activity.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Daily/weekly active users + stickiness: DAU, trailing-7-day WAU,
    * and DAU/WAU per epoch day (integer `us div 1 day` — engine-neutral
    * like [[retention]]'s weeks).
    *
    * Scale shape: events collapse to distinct (user, day) pairs FIRST
    * (partial aggregation soaks per-user volume map-side — same skew
    * guard as funnel/retention); the trailing window is a 7× fan-out of
    * those 16-byte pairs, not of raw events, then a count per day. No
    * windows, no distinct-over-range (which Spark can't partial-agg).
    * Output days are restricted to days with events (join with DAU).
    */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) div $dayUs").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        Num.roundTo(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .orderBy("day")
  }

  /** Dense hourly spine with gap-filling: every (hour, type) cell between
    * the corpus' first and last observed hour, zero-filled where no
    * events landed — the calendar-spine prerequisite for honest rolling
    * statistics (a rows-frame window over the RAW aggregate silently
    * skips empty hours; over the spine it means what it says).
    *
    * Scale shape: events collapse to the hourly grid first; the spine is
    * types × sequence(min, max) — O(hours × types) rows generated from a
    * broadcast one-row bounds aggregate, never from raw events — and the
    * gap-fill is a left join between two tiny aggregates.
    */
  def hourlySpine(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val hourly = Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("window_start_us"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val bounds = hourly.agg(min(col("window_start_us")).as("lo"),
                            max(col("window_start_us")).as("hi"))
    val spine = hourly.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("window_start_us"))
    spine.join(hourly, Seq("window_start_us", "event_type"), "left")
      .na.fill(0L, Seq("n_events"))
      .withColumn("is_gap", col("n_events") === 0L)
      .orderBy("window_start_us", "event_type")
  }

  /** Exponentially-weighted moving average over the hourly grid, as a
    * FAN-OUT instead of a recursion: a window-length-K EWMA is
    * Σ_j w_j·x_{t−j} with fixed weights w_j = α(1−α)^j (plus the
    * boundary term for the oldest contribution), so each grid row fans
    * to the K future rows it contributes to, with its weight attached —
    * the e9 trailing-week trick generalized to weighted windows. No
    * recursive dependency, no sequential scan: one fan-out and one
    * aggregation, both partial-aggregating. Every product is cast to
    * DECIMAL(28,12) before summing, so the aggregation order cannot
    * wiggle the result and the oracle replays it exactly.
    *
    * Emitted only where a full K-row trailing history exists (same
    * prefix-stability contract as [[hourlyAnomalies]]); the "hours" are
    * OBSERVED hours — compose with [[hourlySpine]] first when the
    * calendar matters.
    */
  def hourlyEwma(spark: SparkSession, dir: String,
                 alpha: Double = 0.3, k: Int = 12): DataFrame = {
    require(alpha > 0 && alpha <= 1 && k > 0, "need 0 < alpha <= 1, k > 0")
    val hourly = Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("window_start_us"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("window_start_us"))
    val seq = hourly.withColumn("pos", row_number().over(byType).cast("long"))
    // weight of the contribution j rows back: α(1−α)^j for j<k−1, and
    // (1−α)^j for the window's oldest row (the geometric tail folds in)
    val weights = (0 until k).map { j =>
      val w = if (j < k - 1) alpha * math.pow(1 - alpha, j.toDouble)
              else math.pow(1 - alpha, j.toDouble)
      struct(lit(j.toLong).as("off"), lit(w).as("w"))
    }
    seq
      .select(col("event_type"), col("pos"), col("n_events"),
        explode(array(weights: _*)).as("c"))
      .select(col("event_type"), (col("pos") + col("c.off")).as("pos"),
        (col("n_events") * col("c.w")).cast("decimal(28,12)").as("term"),
        lit(1L).as("one"))
      .groupBy("event_type", "pos")
      .agg(sum(col("term")).as("ewma_dec"), sum(col("one")).as("n_terms"))
      .filter(col("n_terms") === k)
      .join(seq.select(col("event_type"), col("pos"), col("window_start_us"), col("n_events")),
            Seq("event_type", "pos"))
      .select(col("window_start_us"), col("event_type"), col("n_events"),
        Num.roundTo(col("ewma_dec").cast("double"), 6).as("ewma"))
      .orderBy("window_start_us", "event_type")
  }

  /** Partial hourly aggregate — the MATERIALIZABLE form of
    * [[hourlyByType]]: counts and DECIMAL sums only (no averages), so two
    * partials merge EXACTLY by re-summing. The incremental-maintenance
    * pattern for a 100 TB history: aggregate each day's events once,
    * store the partial, and answer "all time" queries by merging partials
    * ([[hourlyMerge]]) instead of rescanning history. Decomposable
    * aggregates only — averages/ratios are derived at read time.
    */
  def hourlyPartial(events: DataFrame): DataFrame =
    events
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("window_start_us"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,6)")).as("total_dec"))

  /** Merge partial hourly aggregates ([[hourlyPartial]]) into the exact
    * full-history result — equal row for row to running [[hourlyByType]]
    * over the concatenated raw events (shares e1's oracle): counts add,
    * DECIMAL sums add exactly, and the average is derived from the merged
    * exact numerator. The merge shuffles O(hours × types), never events.
    */
  def hourlyMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("window_start_us"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
           sum(col("total_dec")).as("total_dec"))
      .select(col("window_start_us"), col("event_type"), col("n_events"),
        col("total_dec").cast("double").as("total_value"),
        (col("total_dec").cast("double") / col("n_events")).as("avg_value"))

  /** Rolling anomaly detection over hourly event-type volumes: each
    * (hour, type) count is z-scored against the trailing `lookback`
    * OBSERVED hours of the same type (rows-frame lag window — hours with
    * zero events are absent from the grid, so the baseline is "the last N
    * hours that had traffic"; at production volume every hour has
    * traffic and the two readings coincide). Only rows with a full
    * lookback emit, so the result is prefix-stable as new data arrives.
    *
    * Scale shape: the raw events collapse to the O(hours × types) grid
    * FIRST (one shuffle with map-side partials — same skew guard as e1);
    * the rolling window then runs over the tiny aggregate, partitioned
    * by type. All moments accumulate as exact integer sums (counts), so
    * mean/std/z are single deterministic double expressions the oracle
    * replays bit-for-bit.
    */
  def hourlyAnomalies(spark: SparkSession, dir: String,
                      lookback: Int = 24, zThreshold: Double = 2.0): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("window_start_us"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val trailing = Window.partitionBy(col("event_type"))
      .orderBy(col("window_start_us"))
      .rowsBetween(-lookback, -1)
    val mean = col("sum_prev").cast("double") / col("n_prev")
    val variance = (col("sumsq_prev").cast("double") -
      col("sum_prev").cast("double") * col("sum_prev").cast("double") / col("n_prev")) / col("n_prev")
    hourly
      .withColumn("n_prev", count(lit(1)).over(trailing))
      .withColumn("sum_prev", sum(col("n_events")).over(trailing))
      .withColumn("sumsq_prev", sum(col("n_events") * col("n_events")).over(trailing))
      .filter(col("n_prev") === lookback)
      .withColumn("mean_prev", Num.roundTo(mean, 6))
      .withColumn("z_score",
        when(variance > 0.0,
          Num.roundTo((col("n_events").cast("double") - mean) / sqrt(variance), 6))
          .otherwise(lit(null).cast("double")))
      .withColumn("is_anomaly",
        coalesce(abs(col("z_score")) > zThreshold, lit(false)))
      .select("window_start_us", "event_type", "n_events", "mean_prev", "z_score", "is_anomaly")
      .orderBy("window_start_us", "event_type")
  }

  /** CUSUM changepoint detection over the hourly series, per event
    * type — the sequential-drift companion to [[hourlyAnomalies]]'s
    * pointwise z-score: a level shift too small to trip any single
    * hour's z accumulates in the CUSUM excursion within a few hours.
    *
    * INTEGER-exact internals: with S = the type's total events and
    * H = its hour count, the centered deviation n·H − S is an exact
    * long (n − mean scaled by H), so the cumulative sum and its
    * running extrema never touch a double; the classic reset-at-zero
    * recursion s_t = max(0, s_{t−1} + d_t) is re-expressed closed-form
    * as cum_t − min_{τ≤t} cum_τ (and the downward side via the running
    * max), which distributes as plain window aggregates. Excursions
    * divide by H only on OUTPUT (6dp); the drift flag compares
    * integers: excursion > λ·mean ⇔ s_int > λ·S. Overflow bound:
    * n·H ≤ 2^63 needs hourly-count · hour-count < 9e18 — petabyte-safe
    * for any real retention window.
    *
    * Scale: one hourly pre-aggregation (map-side combined), a
    * broadcast-sized totals join, and windows partitioned BY TYPE over
    * O(hours) rows — the series length is calendar-bounded, not
    * data-bounded, same standing as [[hourlyEwma]].
    */
  def hourlyCusum(spark: SparkSession, dir: String, lambda: Long = 3L): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("window_start_us"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val totals = hourly.groupBy("event_type")
      .agg(sum(col("n_events")).as("s_tot"), count(lit(1)).as("h_tot"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("window_start_us"))
      .rowsBetween(Window.unboundedPreceding, 0)
    hourly.join(totals, Seq("event_type"))
      .withColumn("d", col("n_events") * col("h_tot") - col("s_tot"))
      .withColumn("cum", sum(col("d")).over(byType))
      .withColumn("runmin", min(col("cum")).over(byType))
      .withColumn("runmax", max(col("cum")).over(byType))
      .select(col("window_start_us"), col("event_type"), col("n_events"),
        Num.roundTo((col("cum") - col("runmin")).cast("double") / col("h_tot"), 6)
          .as("cusum_pos"),
        Num.roundTo((col("runmax") - col("cum")).cast("double") / col("h_tot"), 6)
          .as("cusum_neg"),
        ((col("cum") - col("runmin")) > lit(lambda) * col("s_tot") ||
         (col("runmax") - col("cum")) > lit(lambda) * col("s_tot")).as("is_drift"))
      .orderBy("window_start_us", "event_type")
  }

  /** Per-user inter-event cadence: gap statistics between consecutive
    * events (lag over the user's timeline). The mean accumulates as an
    * exact integer sum of micros (no floating drift), emitted as one
    * rounded double division. Single shuffle on user_id; the lag window
    * and the aggregate reuse the same partitioning.
    */
  def interEventGaps(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(byUser))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
           count(col("gap_us")).as("n_gaps"),
           max(col("gap_us")).as("max_gap_us"),
           when(count(col("gap_us")) > 0,
             Num.roundTo(sum(col("gap_us")).cast("double") / count(col("gap_us")), 4))
             .as("mean_gap_us"))
      .orderBy("user_id")
  }

  /** Event-sequence TRANSITION MATRIX — first-order Markov counts over
    * each user's event-time-ordered stream (tie-broken by event_id so
    * the sequence is total and engine-neutral). The classic journey
    * analysis: which step follows which, corpus-wide. One shuffle on
    * user_id for the lead(), then the transition-pair aggregation is
    * O(|event_type|²) — the per-user sort is Spark's spillable external
    * sort, so a power-user with millions of events never has to fit in
    * memory. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Top session PATHS — the navigation-mining report: event-type
    * TRIGRAMS within a session (same 30-minute-gap sessionization as
    * [[userSessions]], exact integer micros), counted corpus-wide with
    * a fully tie-broken top-N. [[transitions]] (e15) says which step
    * follows which; this exposes the common three-step ROUTES through
    * them — the what-do-users-actually-do report behind funnel design.
    *
    * Plan shape: ONE exchange on user_id serves both window passes (the
    * (user, session) window's clustering is satisfied by the user hash),
    * then the trigram space (|event_types|³ at most) aggregates with
    * map-side combine and TakeOrdered bounds the result — no global
    * sort.
    */
  def sessionPaths(spark: SparkSession, dir: String, gapMinutes: Int = 30,
                   topN: Int = 20): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("us"), col("event_id"))
    sess
      .withColumn("t2", lead(col("event_type"), 1).over(bySess))
      .withColumn("t3", lead(col("event_type"), 2).over(bySess))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"), col("t3").as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(topN)
  }

  /** SCD TYPE-2 history build: compress each user's event-time-ordered
    * stream of states (event_type here standing in for any mutable
    * attribute feed) into validity intervals — one row per state CHANGE,
    * `[valid_from, valid_to)` half-open, open-ended current row last.
    * The warehouse dimension-history pattern: a CDC feed becomes a
    * point-in-time-joinable dimension (the `z1_asof_join` probe side).
    *
    * Plan shape: one shuffle on user_id; the change-point filter and
    * both window passes share the same (partition, order) spec, so
    * Spark plans ONE exchange + sort. Per-user history never has to fit
    * in memory (spillable external sort), and the output is strictly
    * smaller than the input — change rows only.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type").as("state"))
      .withColumn("prev_state", lag(col("state"), 1).over(byUser))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("state"))
      .withColumn("valid_to_us", lead(col("us"), 1).over(byUser))
      .select(col("user_id"), col("state"), col("us").as("valid_from_us"),
              col("valid_to_us"), col("valid_to_us").isNull.as("is_current"))
      // `state` tiebreaker: two state changes for one user at the same
      // microsecond (distinct event_ids) tie on (user_id, valid_from_us);
      // the oracle SQL orders identically
      .orderBy("user_id", "valid_from_us", "state")
  }

  /** Multi-touch CONVERSION ATTRIBUTION: for every `convType` event,
    * find the user's `touchTypes` events in the strictly-preceding
    * `lookbackHours` window, then credit each touch type under the
    * classic models — first-touch, last-touch, and raw touch volume —
    * all as exact integer counts (fractional linear credit is left to
    * the reader of `n_touch_events`/`n_conversions_touched`; integer
    * outputs keep the query in the hash gate).
    *
    * Scale shape: conversions ⋈ touches is a per-user interval join —
    * both sides hash-partition on user_id, fan-out bounded by per-user
    * activity inside the lookback window (the same bound every
    * sessionization query already lives with). The per-conversion
    * argmin/argmax collapse via min_by/max_by on (us, event_id) structs
    * — total order, engine-neutral tie-break, partial-aggregation
    * friendly — and everything after is O(|touch types|).
    */
  /** LINEAR multi-touch attribution — the third credit model next to
    * [[attribution]]'s first/last-touch: every conversion's credit
    * (10,000 basis points, so credit stays INTEGER and the oracle
    * replays it exactly) splits equally across its lookback touches;
    * the integer-division remainder goes to the EARLIEST touch
    * ((touch_us, touch_id) min — deterministic, and conservation is
    * exact: Σ credit_bp = 10000 × conversions-with-touches, spec'd).
    * Same one interval join as e17; the per-conversion touch count and
    * first-touch marker come from ONE aggregate joined back, no window.
    */
  def linearAttribution(spark: SparkSession, dir: String,
                        convType: String = "purchase",
                        touchTypes: Seq[String] = Seq("click", "view"),
                        lookbackHours: Int = 168): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type"))
    val conv = ev.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"), col("us").as("conv_us"))
    val touch = ev.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_id").as("touch_id"),
              col("us").as("touch_us"), col("event_type").as("touch_type"))
    val lookbackUs = lookbackHours.toLong * 3600L * 1000000L
    val paired = conv.join(touch, Seq("user_id"))
      .filter(col("touch_us") < col("conv_us") &&
              col("touch_us") >= col("conv_us") - lit(lookbackUs))
      .select(col("conv_id"), col("touch_id"), col("touch_us"), col("touch_type"))
    val sizes = paired.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_touches"),
           min(struct(col("touch_us"), col("touch_id"))).as("first_t"))
    val credited = paired.join(sizes, "conv_id")
      .withColumn("credit_bp",
        expr("CAST(10000 AS BIGINT) DIV n_touches") +
        when(struct(col("touch_us"), col("touch_id")) === col("first_t"),
          expr("CAST(10000 AS BIGINT) % n_touches")).otherwise(lit(0L)))
    val denom = broadcast(sizes.agg(count(lit(1)).as("n_convs")))
    credited.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touch_events"), sum(col("credit_bp")).as("credit_bp"))
      .crossJoin(denom)
      .select(col("touch_type"), col("n_touch_events"), col("credit_bp"),
        Num.roundTo(col("credit_bp").cast("double")
          / (col("n_convs").cast("double") * 10000.0), 6).as("credit_share"))
      .orderBy("touch_type")
  }

  def attribution(spark: SparkSession, dir: String,
                  convType: String = "purchase",
                  touchTypes: Seq[String] = Seq("click", "view"),
                  lookbackHours: Int = 168): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type"))
    val conv = ev.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"), col("us").as("conv_us"))
    val touch = ev.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_id").as("touch_id"),
              col("us").as("touch_us"), col("event_type").as("touch_type"))
    val lookbackUs = lookbackHours.toLong * 3600L * 1000000L
    val paired = conv.join(touch, Seq("user_id"))
      .filter(col("touch_us") < col("conv_us") &&
              col("touch_us") >= col("conv_us") - lit(lookbackUs))
    val perConv = paired.groupBy(col("conv_id"))
      .agg(min_by(col("touch_type"), struct(col("touch_us"), col("touch_id"))).as("first_touch"),
           max_by(col("touch_type"), struct(col("touch_us"), col("touch_id"))).as("last_touch"))
    val firsts = perConv.groupBy(col("first_touch").as("touch_type"))
      .agg(count(lit(1)).as("n_first"))
    val lasts = perConv.groupBy(col("last_touch").as("touch_type"))
      .agg(count(lit(1)).as("n_last"))
    paired.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touch_events"),
           countDistinct(col("conv_id")).as("n_conversions_touched"))
      .join(firsts, Seq("touch_type"), "left")
      .join(lasts, Seq("touch_type"), "left")
      .select(col("touch_type"),
              coalesce(col("n_first"), lit(0L)).as("n_first"),
              coalesce(col("n_last"), lit(0L)).as("n_last"),
              col("n_touch_events"), col("n_conversions_touched"))
      .orderBy("touch_type")
  }
}
