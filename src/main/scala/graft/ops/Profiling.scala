package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-profiling operators — the capability behind a production version of
  * the reference's stats endpoint (`/root/reference/api.py:205-246`, which
  * only reports COUNT(*) + column names): per-column null/distinct
  * profiles and exact quantiles.
  *
  * Scale: the column profile is ONE aggregation pass over the table — all
  * per-column counters accumulate in the same partial-aggregate buffer, so
  * profiling a 100 TB table costs a single scan + a one-row shuffle. The
  * per-column rows are produced by exploding the one aggregated row (stack)
  * — driver-side-free. Quantiles use exact percentile (sort-based within
  * group) — at extreme scale swap in approx_percentile (t-digest, bounded
  * memory) via `approxQuantiles`.
  */
object Profiling {

  /** Per-column profile of the orders table: nulls + distincts + count.
    * One pass: aggregate all counters at once, then unpivot.
    */
  def columnProfile(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = columns.flatMap { c =>
      Seq(count(lit(1)).as(s"__n_$c"),
          count(col(c)).as(s"__nn_$c"),
          countDistinct(col(c)).as(s"__nd_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = columns.map(c =>
      s"'$c', __n_$c - __nn_$c, __nd_$c").mkString(", ")
    one.selectExpr(
      s"stack(${columns.size}, $stackExpr) as (column_name, n_nulls, n_distinct)")
      .orderBy("column_name")
  }

  /** Exact interpolated quantiles of a value column per group (percentile
    * — the same linear-interpolation definition as SQL quantile_cont). */
  def quantilesByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        Num.roundTo(percentile(col(valueCol), lit(0.25)), 6).as("p25"),
        Num.roundTo(percentile(col(valueCol), lit(0.5)), 6).as("p50"),
        Num.roundTo(percentile(col(valueCol), lit(0.75)), 6).as("p75"),
        min(col(valueCol)).as("vmin"),
        max(col(valueCol)).as("vmax"))
      .orderBy(groupCol)

  /** IQR OUTLIER report (p13) — the Tukey-fence profile per group: the
    * interquartile range from the same interpolated quartiles as
    * [[quantilesByGroup]], fences at q1 − 1.5·IQR / q3 + 1.5·IQR, and
    * the count/share of rows outside them — the per-column anomaly
    * summary a data-quality pass reads next to [[winsorizeReport]]
    * (which CLIPS at rank fences; this one COUNTS at value fences).
    *
    * Cross-engine determinism: both fences derive from the 6dp-ROUNDED
    * quartiles by the identical double expression, so the strict
    * comparisons classify every cell identically on both engines.
    * Scale: two passes over the value column (one quartile aggregate,
    * one broadcast-fence count), both map-side partial — no window, no
    * sort of the data.
    */
  def outlierReport(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val s = df.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("x"))
      .filter(col("x").isNotNull)
    val q = s.groupBy("grp")
      .agg(Num.roundTo(percentile(col("x"), lit(0.25)), 6).as("q1"),
           Num.roundTo(percentile(col("x"), lit(0.75)), 6).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo_fence", col("q1") - lit(1.5) * col("iqr"))
      .withColumn("hi_fence", col("q3") + lit(1.5) * col("iqr"))
    s.join(broadcast(q), Seq("grp"))
      .groupBy(col("grp"), col("q1"), col("q3"), col("iqr"),
               col("lo_fence"), col("hi_fence"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("x") < col("lo_fence"), 1L).otherwise(0L)).as("n_low"),
           sum(when(col("x") > col("hi_fence"), 1L).otherwise(0L)).as("n_high"))
      .withColumn("outlier_share", Num.roundTo(
        (col("n_low") + col("n_high")).cast("double") / col("n").cast("double"), 6))
      .select(col("grp").as(groupCol), col("n"), col("q1"), col("q3"), col("iqr"),
        col("lo_fence"), col("hi_fence"), col("n_low"), col("n_high"),
        col("outlier_share"))
      .orderBy(groupCol)
  }

  /** Approx sibling for the 100 TB path: t-digest, constant memory. */
  def approxQuantilesByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(approx_percentile(col(valueCol), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000))
        .as("quantiles_approx"))
      .orderBy(groupCol)

  /** Declarative data-quality validation — the "expectations" pass a
    * pipeline runs before training ingestion: every row-level rule
    * (null/range/set membership, any boolean Column) is counted in ONE
    * aggregation pass (violation counters share the partial-aggregate
    * buffer, like [[columnProfile]]), then unpivoted to a per-rule
    * report. Uniqueness is a second, separate aggregate (it needs a
    * distinct, which cannot share the row-level pass) over the key
    * columns only. Output: (rule, n_violations, n_rows) with
    * violation-free rules included — the report proves checks RAN, not
    * just that failures exist.
    */
  def validate(df: DataFrame, rowRules: Seq[(String, org.apache.spark.sql.Column)],
               uniqueKeys: Seq[(String, Seq[String])] = Seq.empty): DataFrame = {
    require(rowRules.nonEmpty || uniqueKeys.nonEmpty, "no rules given")
    // rule names are spliced into a stack() expression — identifiers only
    require((rowRules.map(_._1) ++ uniqueKeys.map(_._1))
      .forall(_.matches("[A-Za-z0-9_]+")), "rule names must be [A-Za-z0-9_]+")
    // duplicate names would build duplicate __v_<name> agg columns and
    // surface as an opaque ambiguous-column AnalysisException — fail clear
    locally {
      val names = rowRules.map(_._1) ++ uniqueKeys.map(_._1)
      require(names.distinct.size == names.size,
        s"rule names must be unique, got duplicates: ${names.diff(names.distinct).distinct.mkString(", ")}")
    }
    val rowReport = if (rowRules.isEmpty) None else Some {
      val aggs = count(lit(1)).as("__n") +:
        rowRules.map { case (name, rule) =>
          sum(when(!coalesce(rule, lit(false)), 1L).otherwise(0L)).as(s"__v_$name")
        }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val stackExpr = rowRules.map { case (name, _) => s"'$name', __v_$name" }.mkString(", ")
      one.selectExpr(s"stack(${rowRules.size}, $stackExpr) AS (rule, n_violations)", "__n AS n_rows")
    }
    val uniqReports = uniqueKeys.map { case (name, keys) =>
      df.agg(count(lit(1)).as("n_rows"),
             (count(lit(1)) - countDistinct(col(keys.head), keys.tail.map(col): _*)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"), col("n_rows"))
    }
    (rowReport.toSeq ++ uniqReports).reduce(_ unionByName _).orderBy("rule")
  }

  /** Quantile bucketing without ntile: per-key exact sums are bucketed by
    * the GLOBAL quartile boundaries, which come from one percentile
    * aggregate broadcast back as a single row — no global sort, no
    * single-partition window (ntile's fatal shape at scale). Boundaries
    * are rounded to 6dp on both engines so the strict `>` comparisons
    * bucket identically; ties stay in the lower bucket.
    */
  def quantileBuckets(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val spend = df.groupBy(col(keyCol))
      .agg(Num.exactSum(col(valueCol)).as("spend"))
    val bounds = spend.agg(
      Num.roundTo(percentile(col("spend"), lit(0.25)), 6).as("q1"),
      Num.roundTo(percentile(col("spend"), lit(0.5)), 6).as("q2"),
      Num.roundTo(percentile(col("spend"), lit(0.75)), 6).as("q3"))
    spend.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        (lit(1) + (col("spend") > col("q1")).cast("int")
                + (col("spend") > col("q2")).cast("int")
                + (col("spend") > col("q3")).cast("int")).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_keys"),
           Num.exactSum(col("spend")).as("total_value"))
      .orderBy("bucket")
  }

  /** RFM customer segmentation — the classic retention/marketing cut:
    * per customer Recency (corpus-max order time − their last order, in
    * exact integer microseconds — no date arithmetic), Frequency (order
    * count) and Monetary (decimal-exact spend), each quartile-scored
    * 1–4 against broadcast thresholds (the [[quantileBuckets]]
    * discipline: 6dp-rounded percentile bounds, strict-greater compare),
    * then aggregated to the 64-cell segment grid.
    *
    * Scale shape: one groupBy(customer) pass, two one-row broadcast
    * aggregates (corpus max time, the 9 quartile bounds), one final
    * 64-row aggregate — the corpus shuffles once, on the customer key.
    */
  def rfmSegments(orders: DataFrame, custCol: String = "o_custkey",
                  dateCol: String = "o_orderdate",
                  valCol: String = "o_totalprice"): DataFrame = {
    val per = orders.select(col(custCol).as("cust"),
        unix_micros(col(dateCol)).as("us"), col(valCol).as("v"))
      .groupBy("cust")
      .agg(max(col("us")).as("last_us"), count(lit(1)).as("f"),
           Num.exactSum(col("v")).as("m"))
    val nowRow = per.agg(max(col("last_us")).as("now_us"))
    // recency in whole DAYS, not micros: the natural RFM unit — and the
    // values stay small enough for Num.roundTo's floor(x·10⁶ + 0.5),
    // whose Spark `floor` returns a LONG (a micros-scale quantile would
    // overflow it at ×10⁶; DuckDB's floor stays double — divergence)
    val withR = per.crossJoin(broadcast(nowRow))
      .withColumn("r_days",
        floor((col("now_us") - col("last_us")) / lit(86400000000.0)).cast("long"))
    def q(c: String, p: Double, as: String) =
      Num.roundTo(percentile(col(c), lit(p)), 6).as(as)
    val bounds = withR.agg(
      q("r_days", 0.25, "rq1"), q("r_days", 0.5, "rq2"), q("r_days", 0.75, "rq3"),
      q("f", 0.25, "fq1"), q("f", 0.5, "fq2"), q("f", 0.75, "fq3"),
      q("m", 0.25, "mq1"), q("m", 0.5, "mq2"), q("m", 0.75, "mq3"))
    def score(c: String, q1: String, q2: String, q3: String) =
      (lit(1) + (col(c) > col(q1)).cast("int")
              + (col(c) > col(q2)).cast("int")
              + (col(c) > col(q3)).cast("int")).cast("long")
    withR.crossJoin(broadcast(bounds))
      .withColumn("r_score", score("r_days", "rq1", "rq2", "rq3"))
      .withColumn("f_score", score("f", "fq1", "fq2", "fq3"))
      .withColumn("m_score", score("m", "mq1", "mq2", "mq3"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"), Num.exactSum(col("m")).as("total_spend"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Pairwise Pearson correlations over numeric columns, in ONE
    * aggregation pass: every Σx, Σx², Σxy accumulates in the same
    * partial-aggregate buffer (DECIMAL(38,6) — exact, so the result is
    * order-independent and oracle-replayable, unlike Spark's built-in
    * corr whose float accumulation drifts with partitioning). The
    * pair rows unfold from the single aggregated row by exploding a
    * struct array — no second scan, no driver loop over data.
    */
  def correlationMatrix(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.size >= 2, "need at least two columns")
    val pairs = for {
      (a, i) <- columns.zipWithIndex; b <- columns.drop(i + 1)
    } yield (a, b)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")
    val aggs =
      Seq(count(lit(1)).cast("double").as("n")) ++
      columns.flatMap(c => Seq(
        sum(dec(col(c))).cast("double").as(s"s_$c"),
        sum(dec(col(c) * col(c))).cast("double").as(s"ss_$c"))) ++
      pairs.map { case (a, b) =>
        sum(dec(col(a) * col(b))).cast("double").as(s"sp_${a}_$b") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val pairStructs = array(pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        Num.roundTo(
          (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
            (sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
             sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))), 6)
          .as("corr"))
    }: _*)
    one.select(col("n").cast("long").as("n_rows"), explode(pairStructs).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
              col("n_rows"), col("p.corr").as("corr"))
      .orderBy("col_a", "col_b")
  }

  /** Population-stability drift report — the monitoring op a training
    * pipeline runs between corpus snapshots: fixed-width value bins per
    * group, baseline window vs current window, one Laplace-smoothed PSI
    * term per (group, bin). Emitting PER-BIN terms (not one summed
    * statistic) keeps every output value a function of four exact
    * integer counts — no cross-engine float-summation-order hazard —
    * and is what a dashboard wants anyway (which bins drifted, not just
    * that some did). Two aggregations over one scan; the 0..nBins-1
    * grid is generated, so empty bins still report (their smoothed term
    * is nonzero by design — absence IS drift evidence). PSI > 0.2 per
    * common practice flags action; the spec pins sign/zero properties.
    */
  def psiDrift(df: DataFrame, groupCol: String, valueCol: String,
               tsCol: String, cutTs: String,
               binWidth: Double = 50.0, nBins: Int = 10): DataFrame = {
    require(binWidth > 0 && nBins > 1)
    val bucketed = df.select(col(groupCol), col(tsCol), col(valueCol))
      // clamp BOTH ends: without the greatest(), v < 0 lands on a bucket
      // outside the 0..nBins-1 grid — counted in the totals but dropped
      // by the grid join, silently skewing every smoothed probability
      .withColumn("bucket",
        greatest(lit(0L),
          least(floor(col(valueCol) / binWidth), lit(nBins - 1L))).cast("long"))
      .withColumn("is_base",
        when(col(tsCol) < lit(cutTs).cast("timestamp"), 1L).otherwise(0L))
    val counts = bucketed.groupBy(col(groupCol), col("bucket"))
      .agg(sum(col("is_base")).as("n_base"),
           sum(lit(1L) - col("is_base")).as("n_cur"))
    val totals = counts.groupBy(col(groupCol))
      .agg(sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc"))
    val grid = totals.select(col(groupCol), col("tb"), col("tc"),
      explode(sequence(lit(0L), lit(nBins - 1L))).as("bucket"))
    val pb = (col("n_base") + lit(1.0)) / (col("tb") + lit(nBins)).cast("double")
    val pc = (col("n_cur") + lit(1.0)) / (col("tc") + lit(nBins)).cast("double")
    grid.join(counts, Seq(groupCol, "bucket"), "left")
      .na.fill(0L, Seq("n_base", "n_cur"))
      .select(col(groupCol), col("bucket"), col("n_base"), col("n_cur"),
              Num.roundTo((pc - pb) * log(pc / pb), 6).as("psi_term"))
      .orderBy(groupCol, "bucket")
  }

  /** Two-sample KOLMOGOROV–SMIRNOV statistic between the `valueCol`
    * distributions of two groups — the bin-free drift test [[psiDrift]]
    * can't give (PSI needs a bin grid and misses shifts inside a bin;
    * KS is the sup-distance between the two EMPIRICAL CDFs, sensitive
    * to any distributional change).
    *
    * Exactness: D = max over observed values v of
    * |cntA(≤v)·nB − cntB(≤v)·nA| / (nA·nB) — the numerator stays an
    * exact integer argmax (products < 2^53 for samples to ~60M rows a
    * side; grow to DECIMAL beyond), and only the final ratio divides.
    *
    * Scale shape: values collapse to the distinct-value count table
    * first (map-side partial aggregation), then the running counts and
    * the sample sizes are one [[Prefix]] sum — no global single-task
    * window anywhere; the argmax is a TakeOrdered(1). The value domain, not the row count, bounds every
    * post-aggregation stage.
    */
  def ksDrift(df: DataFrame, groupCol: String, valueCol: String,
              groupA: String, groupB: String): DataFrame = {
    val s = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).as("v"),
              when(col(groupCol) === groupA, 1L).otherwise(0L).as("ia"))
    val perV = s.groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), (count(lit(1)) - sum(col("ia"))).as("cb"))
    Prefix.sums(perV, Nil, Seq(col("v")), "a" -> col("ca"), "b" -> col("cb"))
      .select(col("v"), col("a_total").as("na"), col("b_total").as("nb"),
              abs(col("a_cum") * col("b_total") - col("b_cum") * col("a_total")).as("num"))
      .orderBy(col("num").desc, col("v")).limit(1)
      .select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
              col("na").as("n_a"), col("nb").as("n_b"),
              col("v").as("d_at_value"),
              Num.roundTo(col("num").cast("double") /
                (col("na").cast("double") * col("nb").cast("double")), 6).as("ks_d"))
  }

  /** CHI-SQUARE homogeneity drift for a CATEGORICAL column between two
    * time slices — the third leg of the drift triad: [[psiDrift]] (binned
    * numeric, smoothed), [[ksDrift]] (bin-free numeric, exact), and this
    * (categorical, exact counts). Emits one row per category with the
    * observed counts, expected-under-homogeneity counts, and the
    * category's χ² contribution (Σ over the output is the statistic;
    * dof = categories − 1 for the two-slice table).
    *
    * Determinism: counts are exact integers from one map-side-combined
    * aggregation; expecteds and terms are fixed-shape double expressions
    * (products before quotients, 6dp-rounded on OUTPUT only) the oracle
    * replays verbatim. Totals ride as a broadcast 1-row cross join.
    * Scale: one shuffle keyed by category — O(categories) rows move.
    * Precondition: both slices non-empty (a zero slice total makes the
    * expecteds zero and the test undefined).
    */
  def chiSquareDrift(df: DataFrame, catCol: String, tsCol: String,
                     cutTs: String): DataFrame = {
    val s = df.select(col(catCol).as("category"),
      when(col(tsCol) < lit(cutTs).cast("timestamp"), 1L).otherwise(0L).as("is_base"))
    chiSquareTerms(s.groupBy("category")
      .agg(sum(col("is_base")).as("n_base"),
           (count(lit(1)) - sum(col("is_base"))).as("n_cur")))
  }

  /** WINSORIZATION report — per-group robust clipping at exact rank
    * percentiles: the clip bounds are the values at 1-based ranks
    * ceil(pLow·n) and ceil(pHigh·n) within each group's sorted values,
    * and the report carries the bounds, how many rows each tail clips,
    * and the mean before/after (the magnitude a tail-trim moves the
    * statistic). Percentiles are INTEGER RATIONALS (numerator/denominator)
    * so the rank targets are exact integer arithmetic — no FP product
    * deciding a boundary rank differently across engines.
    *
    * Scale shape: quantiles by rank over per-(group, value) COUNTS, a
    * [[Prefix]] sum per group — no per-group single-task sort. Bounds are O(groups) rows and broadcast
    * back for the one-pass clip report. Ties are safe: equal values
    * share a rank range but the bound VALUE is identical whichever
    * instance the target rank lands on, and the clip counts compare
    * strictly against the bound.
    */
  def winsorizeReport(df: DataFrame, groupCol: String, valueCol: String,
                      lowNum: Long = 1L, highNum: Long = 99L,
                      den: Long = 100L): DataFrame = {
    require(den > 0 && lowNum >= 0 && highNum <= den && lowNum <= highNum,
      "need 0 <= lowNum <= highNum <= den")
    val s = df.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("x"))
      .filter(col("x").isNotNull)
    val perV = s.groupBy("grp", "x").agg(count(lit(1)).as("c"))
    // the bounds and the clip pass both read the checkpointed per-value
    // count table inside `cum`, not the raw rows again. The weighted forms
    // are exact: c · decimal(x) sums in decimal, so c repetitions of x and
    // one c-weighted term are the same rational number, and the final
    // decimal→double conversion is identical.
    val cum = Prefix.sums(perV, Seq("grp"), Seq(col("x")), "c" -> col("c"))
      .withColumnRenamed("c_total", "n")
    val bounds = cum
      .withColumn("lo_t", expr(s"(n * $lowNum + ${den - 1}) div $den"))
      .withColumn("hi_t", expr(s"(n * $highNum + ${den - 1}) div $den"))
      .groupBy("grp", "n")
      .agg(min(when(col("c_cum") >= col("lo_t"), col("x"))).as("lo"),
           min(when(col("c_cum") >= col("hi_t"), col("x"))).as("hi"))
    val clipped = greatest(col("lo"), least(col("hi"), col("x")))
    cum.select("grp", "x", "c").join(broadcast(bounds), Seq("grp"))
      .groupBy("grp", "n", "lo", "hi")
      .agg(sum(when(col("x") < col("lo"), col("c")).otherwise(0L)).as("n_clipped_low"),
           sum(when(col("x") > col("hi"), col("c")).otherwise(0L)).as("n_clipped_high"),
           Num.roundTo((sum(col("c") * col("x").cast("decimal(18,6)")).cast("double") /
             sum(col("c"))), 6).as("mean_before"),
           Num.roundTo((sum(col("c") * clipped.cast("decimal(18,6)")).cast("double") /
             sum(col("c"))), 6).as("mean_after"))
      .select(col("grp"), col("n"), col("lo").as("p_low_value"),
        col("hi").as("p_high_value"), col("n_clipped_low"), col("n_clipped_high"),
        col("mean_before"), col("mean_after"))
      .orderBy("grp")
  }

  /** KEY-SKEW profile for a prospective shuffle/join key — the report an
    * engineer reads BEFORE keying a 100 TB shuffle on a column: row and
    * distinct-key totals, the heaviest key's count, skew factor
    * (max/mean — 1.0 is uniform, 100 means the hottest partition does
    * 100× the average work), top-10 key share, and the key-distribution
    * entropy with its ratio to the uniform maximum ln(n_keys) (1.0 =
    * perfectly spread, → 0 = one key dominates). The quantified version
    * of the judgement calls in SkewSpec.
    *
    * Determinism: counts are exact; the entropy sum uses the
    * [[Num.exactSum]] decimal discipline (order-independent), every
    * ratio is a fixed-shape double rounded on output. Scale: ONE
    * aggregation keyed by the profiled column (map-side combined; the
    * count table materializes once and feeds all three reductions),
    * top-10 via TakeOrderedAndProject (per-partition heads, never a
    * global sort), everything else O(1) rows.
    */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("k"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = counts.agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
      max(col("c")).as("max_count"))
    val p = col("c").cast("double") / col("n_rows").cast("double")
    val ent = counts.crossJoin(broadcast(tot))
      .select((-p * log(p)).as("term"))
      .agg(Num.exactSum(col("term")).as("entropy_raw"))
    val t10 = counts.orderBy(col("c").desc, col("k")).limit(10)
      .agg(sum(col("c")).as("top10"))
    tot.crossJoin(ent).crossJoin(t10)
      .select(lit(keyCol).as("key_col"), col("n_rows"), col("n_keys"), col("max_count"),
        Num.roundTo(col("max_count").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double"), 6).as("skew_factor"),
        Num.roundTo(col("top10").cast("double") / col("n_rows").cast("double"), 6)
          .as("top10_share"),
        Num.roundTo(col("entropy_raw"), 6).as("entropy"),
        when(col("n_keys") > 1L,
          Num.roundTo(col("entropy_raw") / log(col("n_keys").cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("entropy_ratio"))
  }

  /** [[chiSquareDrift]]'s expected-count/term stage over a prepared
    * (category, n_base, n_cur) contingency table — split out so the
    * streaming twin can feed it the sink's count snapshot joined with
    * staged base counts and land on the identical output rows.
    */
  def chiSquareTerms(counts: DataFrame): DataFrame = {
    val totals = counts.agg(sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc"))
    val n = (col("tb") + col("tc")).cast("double")
    val rowT = (col("n_base") + col("n_cur")).cast("double")
    val eb = col("tb").cast("double") * rowT / n
    val ec = col("tc").cast("double") * rowT / n
    val db = col("n_base").cast("double") - eb
    val dc = col("n_cur").cast("double") - ec
    counts.crossJoin(broadcast(totals))
      .select(col("category"), col("n_base"), col("n_cur"),
        Num.roundTo(eb, 6).as("exp_base"),
        Num.roundTo(ec, 6).as("exp_cur"),
        Num.roundTo(db * db / eb + dc * dc / ec, 6).as("chisq_term"))
      .orderBy("category")
  }

  /** SAMPLED QUANTILES (p14) — the bounded-state scale path next to
    * [[quantilesByGroup]]'s exact pass: a bottom-k-by-hash uniform
    * sample per group (k rows with the smallest `splitmix64(rowKey)`,
    * ties broken by value — a simple random sample, Cohen & Kaplan
    * PODC 2007) estimates the quartiles to O(1/√k) rank error, and the
    * exact quartiles ride along as the audit columns so the report
    * certifies its own estimator.
    *
    * Scale: the sample selection is `row_number() <= k` under a
    * (hash, value) window — Spark rewrites it to WindowGroupLimit, so
    * every map task forwards at most k rows per group and the sort
    * never sees the full table; the sample is MERGEABLE (bottom-k of a
    * union = trim of the unioned bottom-k's, the [[graft.functions.BottomKPairs]]
    * aggregate — the streaming twin st25 runs that form with O(k)
    * state per group). The exact columns are the one full
    * `percentile` pass — the audit you drop first at 100 TB, where the
    * estimate column is the product.
    */
  def sampleQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                      rowKey: org.apache.spark.sql.Column,
                      k: Int = 256): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    // Null-key contract: rows whose rowKey is NULL are EXCLUDED from
    // both the sample and the exact audit columns. Without this filter
    // the three evaluation paths diverge on nullable keys: Spark's
    // window ORDER BY sorts NULL hashes first (always sampled), the
    // DuckDB oracle sorts them last (almost never sampled), and the
    // BottomKPairs aggregate (st25) skips them entirely. Filtering the
    // key up front makes window path ≡ aggregate path ≡ SQL replay.
    val s = df
      .select(col(groupCol).as("grp"), col(valueCol).cast("double").as("x"),
        call_function("splitmix64", rowKey.cast("long")).as("h"))
      .filter(col("x").isNotNull && col("h").isNotNull)
    val w = Window.partitionBy(col("grp")).orderBy(col("h"), col("x"))
    val samp = s.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    val est = samp.groupBy("grp").agg(
      count(lit(1)).as("n_sample"),
      Num.roundTo(percentile(col("x"), lit(0.25)), 6).as("est_p25"),
      Num.roundTo(percentile(col("x"), lit(0.5)), 6).as("est_p50"),
      Num.roundTo(percentile(col("x"), lit(0.75)), 6).as("est_p75"))
    val exact = s.groupBy("grp").agg(
      count(lit(1)).as("n_rows"),
      Num.roundTo(percentile(col("x"), lit(0.25)), 6).as("p25"),
      Num.roundTo(percentile(col("x"), lit(0.5)), 6).as("p50"),
      Num.roundTo(percentile(col("x"), lit(0.75)), 6).as("p75"))
    est.join(exact, Seq("grp"))
      .select(col("grp").as(groupCol), col("n_rows"), col("n_sample"),
        col("est_p25"), col("est_p50"), col("est_p75"),
        col("p25"), col("p50"), col("p75"),
        Num.roundTo(abs(col("est_p50") - col("p50")), 6).as("err_p50"))
      .orderBy(groupCol)
  }

  /** Stat projection over a (grp, n_rows, sk) bottom-k-sample sketch
    * table ([[graft.functions.BottomKPairs]] output): sample size +
    * estimated quartiles of the sampled values. Shared by the st25
    * streaming twin (which lands sketches in a Complete-mode sink) and
    * any at-rest sketch store; runs on O(groups · k) rows.
    */
  def sampleQuantileStatsOf(sketches: DataFrame, groupCol: String): DataFrame =
    sketches
      .select(col(groupCol).as("grp"), col("n_rows"),
        explode(col("sk")).as("p"))
      .select(col("grp"), col("n_rows"), col("p.x").as("x"))
      .groupBy("grp", "n_rows")
      .agg(
        count(lit(1)).as("n_sample"),
        Num.roundTo(percentile(col("x"), lit(0.25)), 6).as("est_p25"),
        Num.roundTo(percentile(col("x"), lit(0.5)), 6).as("est_p50"),
        Num.roundTo(percentile(col("x"), lit(0.75)), 6).as("est_p75"))
      .select(col("grp").as(groupCol), col("n_rows"), col("n_sample"),
        col("est_p25"), col("est_p50"), col("est_p75"))
      .orderBy(groupCol)

  /** CORPUS SNAPSHOT DIFF (p15) — the "what changed between crawls"
    * report run before any re-processing decision: two corpus
    * snapshots compare by (id, content hash) and every doc classifies
    * as `added` (in B only), `removed` (in A only), `changed` (both,
    * content hash differs) or `unchanged`, aggregated per status ×
    * group (source). Both snapshots project to (id, 8-byte fnv1a64,
    * group) BEFORE the full-outer join — at 100 TB the diff shuffles
    * 24-byte rows keyed on the id, never text; downstream pipelines
    * re-process `added ∪ changed` only (the incremental-crawl
    * discipline; x6/st5 handle dedup of the additions, this report
    * sizes the work and catches silent mass-changes — a parser change
    * that rewrites half the corpus shows here first).
    *
    * Named `snapshotDiffReport` (not `snapshotDiff`) deliberately:
    * [[graft.ops.TextStats.snapshotDiff]] is the PER-DOC classifier
    * (xxhash64 identity, one row per doc); this is the per-group
    * AGGREGATE report (fnv1a64 identity — the corpus-maintenance
    * family's shared content hash, same as t41/st29). Distinct names
    * keep the two semantics from masquerading as one API.
    */
  def snapshotDiffReport(snapA: DataFrame, snapB: DataFrame,
                         groupCol: String = "source",
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    // presence flags, not hash nullness, decide membership — a NULL
    // text in one snapshot must read as present-with-null-content
    // (null-safe <=> compares the hashes), never as added/removed
    def proj(df: DataFrame, tag: String) = df.select(
      col(idCol),
      lit(true).as(s"in_$tag"),
      call_function("fnv1a64", col(textCol)).as(s"h_$tag"),
      col(groupCol).as(s"g_$tag"),
      coalesce(length(col(textCol)).cast("long"), lit(0L)).as(s"len_$tag"))
    val j = proj(snapA, "a").join(proj(snapB, "b"), Seq(idCol), "full_outer")
    val status = when(col("in_a").isNull, lit("added"))
      .when(col("in_b").isNull, lit("removed"))
      .when(col("h_a") <=> col("h_b"), lit("unchanged"))
      .otherwise(lit("changed"))
    j.select(status.as("status"),
        coalesce(col("g_b"), col("g_a")).as(groupCol),
        coalesce(col("len_b"), col("len_a")).as("n_chars"))
      .groupBy(col("status"), col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("status", groupCol)
  }

  /** INCREMENTAL corpus-profile maintenance (t41) — the e11 discipline
    * on the documents domain, composing with [[snapshotDiffReport]]:
    * the per-(lang, source) profile of snapshot B is the STORED
    * profile of A plus adjustments from ONLY the diff rows — never a
    * rescan of B. Each adjusted doc contributes two legs: its A-side
    * group loses (−1 doc, −len) and its B-side group gains (+1, +len)
    * — which also handles docs whose lang/source moved between
    * snapshots, since each leg carries its own group. A row is
    * filtered out as truly unchanged only when content hash AND both
    * group keys agree (null-safely) — a doc whose text is byte-stable
    * but whose lang/source reassigned between crawls still produces
    * its two legs, so the maintained profile tracks group moves
    * exactly. Char totals use per-row coalesce(length, 0) (a null-text
    * doc counts, contributes zero chars — the contract both the oracle
    * and the recompute spec share), and the 4dp average derives from
    * the maintained exact integer sums, so incremental ≡ recompute to
    * the digit — the spec pins a content-unchanged group move and a
    * NULL group key against the recompute. All group-key comparisons
    * and the final base/adjustment merge are null-safe (`<=>`), so a
    * NULL lang or source is one group on both sides, exactly as
    * GROUP BY treats it. Scale: the base aggregate is O(groups) rows
    * at rest; the adjustment legs are the diff's 24-byte projections.
    */
  def incrementalProfile(snapA: DataFrame, snapB: DataFrame,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    import graft.ops.Num
    val chars = coalesce(length(col(textCol)).cast("long"), lit(0L))
    val base = snapA.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(chars).as("total_chars"))
    def proj(df: DataFrame, tag: String) = df.select(
      col(idCol), lit(true).as(s"in_$tag"),
      call_function("fnv1a64", col(textCol)).as(s"h_$tag"),
      col("lang").as(s"lang_$tag"), col("source").as(s"src_$tag"),
      chars.as(s"len_$tag"))
    val j = proj(snapA, "a").join(proj(snapB, "b"), Seq(idCol), "full_outer")
      .filter(!(col("in_a").isNotNull && col("in_b").isNotNull &&
        (col("h_a") <=> col("h_b")) &&
        (col("lang_a") <=> col("lang_b")) && (col("src_a") <=> col("src_b"))))
    val legA = j.filter(col("in_a").isNotNull)
      .select(col("lang_a").as("lang"), col("src_a").as("source"),
        lit(-1L).as("dn"), (-col("len_a")).as("dc"))
    val legB = j.filter(col("in_b").isNotNull)
      .select(col("lang_b").as("lang"), col("src_b").as("source"),
        lit(1L).as("dn"), col("len_b").as("dc"))
    val adj = legA.unionByName(legB).groupBy("lang", "source")
      .agg(sum(col("dn")).as("adj_n"), sum(col("dc")).as("adj_c"))
      .withColumnsRenamed(Map("lang" -> "lang_j", "source" -> "src_j"))
    // null-safe merge: a NULL lang/source group must land on ONE row,
    // matching how the groupBy legs above (and a recompute) treat it
    base.join(adj,
        (col("lang") <=> col("lang_j")) && (col("source") <=> col("src_j")),
        "full_outer")
      .select(coalesce(col("lang"), col("lang_j")).as("lang"),
        coalesce(col("source"), col("src_j")).as("source"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("adj_n"), lit(0L))).as("n_docs"),
        (coalesce(col("total_chars"), lit(0L)) + coalesce(col("adj_c"), lit(0L))).as("total_chars"))
      .filter(col("n_docs") > 0)
      .select(col("lang"), col("source"), col("n_docs"), col("total_chars"),
        Num.roundTo(col("total_chars").cast("double") / col("n_docs").cast("double"), 4)
          .as("avg_chars"))
      .orderBy("lang", "source")
  }
}
