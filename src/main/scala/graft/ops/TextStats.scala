package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis over the `documents` table: token counting, quality
  * scoring, language-ID, and document fingerprinting — the per-document
  * feature extraction a training-data pipeline runs before filtering.
  *
  * All of it is narrow (per-row, no shuffle): built-in codegen'd string
  * functions over the scanned column, so at 100 TB this is a single
  * map-only pass fused into the scan. Aggregation shapes at the end reduce
  * with map-side combine.
  */
object TextStats {

  /** Whitespace token count: number of \S+ runs. */
  def tokenCount(c: Column): Column = size(regexp_extract_all(c, lit("\\S+"), lit(0)))

  /** BPE-ish subword proxy: word pieces + digits + punctuation as separate
    * tokens (a deterministic regex stand-in for a real tokenizer's count).
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "on", "for", "with", "at", "by", "from", "as", "it", "that")

  /** Quality features: length, token count, mean token length, punctuation
    * ratio, digit ratio, stopword ratio, uppercase ratio. Deterministic
    * arithmetic only — oracle-expressible.
    */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val c = col(textCol)
    val nChars = length(c).cast("double")
    val nTok = tokenCount(c).cast("double")
    val nPunct = length(c) - length(regexp_replace(c, "[^A-Za-z0-9\\s]", ""))
    val nDigit = length(c) - length(regexp_replace(c, "[0-9]", ""))
    val nUpper = length(c) - length(regexp_replace(c, "[A-Z]", ""))
    val stopPattern = "(?i)\\b(" + stopwords.mkString("|") + ")\\b"
    val nStop = size(regexp_extract_all(c, lit(stopPattern), lit(0))).cast("double")
    df.withColumn("n_chars_m", length(c).cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("mean_token_len",
        Num.roundTo(when(nTok > 0, (nChars - (nTok - 1)) / nTok).otherwise(0.0), 4))
      .withColumn("punct_ratio", Num.roundTo(nPunct / greatest(nChars, lit(1.0)), 4))
      .withColumn("digit_ratio", Num.roundTo(nDigit / greatest(nChars, lit(1.0)), 4))
      .withColumn("upper_ratio", Num.roundTo(nUpper / greatest(nChars, lit(1.0)), 4))
      .withColumn("stopword_ratio", Num.roundTo(nStop / greatest(nTok, lit(1.0)), 4))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * punctuation/digit noise and a sane stopword share. The exact weights
    * are a documented heuristic, not learned.
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val f = qualityFeatures(df, textCol)
    f.withColumn("quality_score", Num.roundTo(
      greatest(lit(0.0), least(lit(1.0),
        lit(0.25) * least(col("n_tokens").cast("double") / 20.0, lit(1.0)) +
        lit(0.25) * (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))) +
        lit(0.25) * (lit(1.0) - least(col("digit_ratio") * 5.0, lit(1.0))) +
        lit(0.25) * (lit(1.0) - abs(col("stopword_ratio") - 0.4)))), 4))
  }

  /** Per-document tf-idf top-k terms — the classic rarity-weighted term
    * salience report (what is this document ABOUT), the feature a topic
    * router or domain-mix auditor reads per doc. tf = in-document count,
    * df = documents containing the term, idf = ln(N/df); the product
    * rounds once at 6dp (the t11/p7 ln discipline: N/df is an exact
    * double division identical in both engines, so only the final ulp of
    * ln is at stake under the rounding) and rank ties break on the term
    * string (binary collation both sides).
    *
    * Scale shape: tokens reduce to (doc, term, tf) with map-side combine;
    * df is a second key-partial aggregate over rows already collapsed to
    * one per (doc, term); the per-doc top-k window partitions by doc_id —
    * bounded by document length, no hot key. N arrives as a broadcast
    * one-row aggregate (the histogram-bounds pattern), so the whole
    * operator stays LAZY — no job at plan-construction time.
    */
  def tfidfTopTerms(df: DataFrame, k: Int = 5, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = broadcast(df.agg(count(lit(1)).cast("double").as("nd")))
    val tf = df.select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(nDocs)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        Num.roundTo(col("tf").cast("double") *
          log(col("nd") / col("df").cast("double")), 6).as("tfidf"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Language-ID: character/stopword n-gram heuristic over a small profile
    * table per language. Scores each language by distinctive-marker hits
    * per token and takes the argmax (ties broken alphabetically).
    * At scale: pure map-side expression — the profiles are literals baked
    * into codegen, no lookup join.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " is ", " to ", " that ", "ing "),
    "de" -> Seq(" der ", " die ", " und ", " ist ", " das ", " nicht ", "sch"),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des ", " est ", " que "),
    "es" -> Seq(" el ", " la ", " y ", " los ", " de ", " es ", " una "),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Non-overlapping occurrence count of marker `m`, replace-based:
    * (len(c) - len(replace(c, m, ''))) / len(m) — the same arithmetic the
    * DuckDB oracle runs, so scores match exactly. */
  private def markerCount(c: Column, m: String): Column =
    (length(c) - length(replace(c, lit(m), lit("")))) / m.length

  def langScore(c: Column, lang: String): Column =
    langMarkers(lang).map(markerCount(c, _)).reduce(_ + _).cast("double")

  def detectLang(c: Column): Column = {
    val padded = concat(lit(" "), lower(c), lit(" "))
    // argmax with alphabetical tie-break: fold over languages in sorted
    // order, replace the running best only on strictly greater score.
    val scored = langMarkers.keys.toSeq.sorted.map { l =>
      struct(langScore(padded, l).as("score"), lit(l).as("lang"))
    }
    val best = scored.reduce((a, b) =>
      when(b.getField("score") > a.getField("score"), b).otherwise(a))
    best.getField("lang")
  }

  /** Per-document analysis frame used by the registered queries. */
  def analyze(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    qualityScore(docs)
      .withColumn("detected_lang", detectLang(col("text")))
      .withColumn("fingerprint", fingerprint(col("text")))
  }

  /** Document fingerprint: 64-bit FNV-1a over the text's Unicode code
    * points — the codegen'd [[graft.functions.Fnv1a64]]. FNV-1a (not
    * xxhash64) because the fold is plain mod-2^64 arithmetic the DuckDB
    * oracle can replay exactly, so the fingerprint query is gated by a
    * value-level oracle compare rather than a rows-only check.
    */
  def fingerprint(c: Column): Column = call_function("fnv1a64", c)

  /** Deterministic STRATIFIED downsampling — corpus rebalancing by a
    * categorical stratum (language, source, domain): each stratum keeps
    * `rates(stratum)` percent (default `defaultPct` for unlisted strata),
    * chosen by CONTENT hash so the kept set is stable under re-sharding
    * and re-ingestion, and re-running with a higher rate only ADDS docs
    * (the kept set is monotone in the rate — incremental-crawl friendly).
    * The hash is domain-separated from [[assignSplit]]'s ("sample:"
    * prefix) so sampling is independent of split assignment — sampling
    * on the split hash would systematically thin specific split buckets.
    * Map-only, fused into the scan; no shuffle, no rand(), replayable by
    * the SQL oracle.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String,
                       rates: Map[String, Int], defaultPct: Int = 100,
                       textCol: String = "text"): DataFrame = {
    require(defaultPct >= 0 && defaultPct <= 100 &&
            rates.values.forall(r => r >= 0 && r <= 100), "rates must be 0..100 pct")
    val bucket = pmod(
      call_function("fnv1a64", concat(lit("sample:"), col(textCol))), lit(100L))
    val rate = rates.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Probability-proportional-to-SIZE sampling — the weighted companion
    * to [[stratifiedSample]]'s uniform-within-stratum draw: each doc is
    * kept with probability weight/max(weight) (weight = whitespace
    * token count here), so long documents are oversampled in proportion
    * to the tokens they contribute — the curation-time approximation of
    * token-level (not document-level) uniform sampling.
    *
    * Determinism: the coin is a content hash (domain-separated from the
    * split/sample hashes), the threshold compare is an exact integer
    * cross-multiplication `u·w_max < w·10^9` — no doubles anywhere — and
    * max(weight) is a broadcast one-row aggregate (the
    * [[Profiling.histogram]] bounds pattern), so the decision is
    * reproducible per document at any partitioning and replayable in
    * SQL. Map-only except the O(1) bounds row: no shuffle at any scale.
    */
  def weightedSample(df: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val w = tokenCount(col(textCol)).cast("long")
    val u = pmod(call_function("fnv1a64", concat(lit("wsample:"), col(textCol))),
                 lit(1000000000L))
    val weighted = df.select(col(idCol).as("doc_id"), w.as("n_tokens"), u.as("u"))
    val bounds = weighted.agg(max(col("n_tokens")).as("w_max"))
    weighted.crossJoin(broadcast(bounds))
      .filter(col("u") * col("w_max") < col("n_tokens") * lit(1000000000L))
      .select(col("doc_id"), col("n_tokens"), col("u"))
      .orderBy("doc_id")
  }

  /** N-gram NOVELTY scoring — per-doc fraction of distinct w-shingles
    * absent from a reference corpus: the data-curation signal for "how
    * much genuinely new text does this batch add" (prioritize crawls,
    * price near-duplicate sources, cap epochs over stale data). Inverse
    * of [[graft.ops.Dedup.decontaminate]]'s overlap measure, but with
    * the OPPOSITE build-side economics: the reference corpus is the big
    * side here, so no broadcast hint — the join keys on the 8-byte
    * shingle hash and Catalyst/AQE picks the strategy (hash-partitioned
    * at 100 TB; the doc texts never ride the join). Left join + null
    * count, not anti-join, because the denominator needs every shingle.
    */
  def noveltyScore(newDocs: DataFrame, reference: DataFrame,
                   textCol: String = "text", idCol: String = "doc_id",
                   w: Int = 3): DataFrame = {
    val nd = newDocs.select(col(idCol).as("doc_id"),
      explode(Dedup.shingleHashes(col(textCol), w)).as("shingle"))
    val ref = reference
      .select(explode(Dedup.shingleHashes(col(textCol), w)).as("shingle"))
      .distinct().withColumn("seen", lit(1L))
    nd.join(ref, Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
              Num.roundTo(col("n_novel").cast("double") / col("n_shingles"), 6)
                .as("novelty"))
      .orderBy("doc_id")
  }

  /** Inverse-frequency CLASS WEIGHTS — the rebalancing dual of
    * [[stratifiedSample]]: instead of dropping rows, emit a per-stratum
    * example weight `total / (n_strata · n_stratum)` that equalizes each
    * stratum's total weight mass (mean weight 1.0 across the corpus).
    * One map-side-partial aggregation over the corpus plus a broadcast
    * of the one-row totals — O(strata) result, no second corpus pass.
    */
  def balanceWeights(df: DataFrame, stratumCol: String): DataFrame = {
    val per = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_docs"))
    val totals = per.agg(sum(col("n_docs")).as("total"),
                         count(lit(1)).as("n_strata"))
    per.crossJoin(broadcast(totals))
      .select(col(stratumCol), col("n_docs"),
              Num.roundTo(col("total").cast("double") /
                (col("n_strata") * col("n_docs")), 6).as("weight"))
  }

  /** Deterministic train/val/test assignment by CONTENT hash — the
    * standard split discipline for training corpora: keyed on the text
    * (not the row id or position), so it is stable under re-sharding,
    * re-ingestion order, and partial re-crawls, and exact duplicates
    * always land in the same split (no train/test leakage through dups).
    * bucket = fnv1a64(text) mod 100; [0,train) → "train",
    * [train,train+val) → "val", rest → "test". Map-only, fused into the
    * scan; oracle-replayable because the FNV fold is plain arithmetic.
    */
  def assignSplit(df: DataFrame, textCol: String = "text",
                  trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100, "bad split percentages")
    val bucket = pmod(call_function("fnv1a64", col(textCol)), lit(100L))
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Leakage-PROOF split: [[assignSplit]]'s content-hash buckets, but
    * keyed on each doc's dup-cluster CANONICAL text — the component
    * representative from [[Dedup.resolveDuplicates]] over the given
    * near-dup `pairs` — so exact and near duplicates land in the SAME
    * split by construction, closing the contamination channel
    * [[leakageReport]] measures (a per-doc hash split cannot: near-dups
    * hash independently). Docs in no pair are their own component and get
    * exactly their [[assignSplit]] assignment.
    *
    * Scale shape: the pair graph is corpus-scale-small (candidates only),
    * so the extra cost over t7 is connected components on that graph plus
    * one hash join from docs to their component's bucket — both sized to
    * the graph, not the corpus.
    */
  def assignSplitByComponent(docs: DataFrame, pairs: DataFrame,
                             textCol: String = "text", idCol: String = "doc_id",
                             trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100, "bad split percentages")
    val resolved = Dedup.resolveDuplicates(docs, pairs, idCol)
    // bucket of the CANONICAL doc's text; components are doc ids, so this
    // is a doc_id-keyed lookup — computed map-side, joined once
    val canon = docs.select(col(idCol).as("component"),
      pmod(call_function("fnv1a64", col(textCol)), lit(100L)).as("bucket"))
    resolved.select(col(idCol), col("component"))
      .join(canon, Seq("component"))
      .select(col(idCol), col("component"), col("bucket"),
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test").as("split"))
  }

  /** Intra-document repetition signals — the published Gopher/RefinedWeb
    * quality-rule family: heavily repetitious text (boilerplate, spam,
    * scraper loops) shows up as a high fraction of duplicate tokens and
    * duplicate word 2-grams. Pure per-row array expressions (no
    * shuffle), fused into the scan like [[qualityFeatures]].
    */
  def repetitionSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    val n = size(toks)
    val bigrams = when(n >= 2,
      transform(sequence(lit(0), n - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    val nb = size(bigrams)
    df.withColumn("dup_token_frac", Num.roundTo(
        when(n > 0, lit(1.0) - size(array_distinct(toks)) / n.cast("double"))
          .otherwise(0.0), 6))
      .withColumn("dup_2gram_frac", Num.roundTo(
        when(nb > 0, lit(1.0) - size(array_distinct(bigrams)) / nb.cast("double"))
          .otherwise(0.0), 6))
  }

  /** Weighted corpus mixing — deterministic downsampling per group (lang,
    * source, …), the knob for rebalancing a training mix: keep a row iff
    * fnv1a64(text) mod 10000 < weight·10000. Content-keyed like
    * [[assignSplit]], so the kept subset is stable under re-sharding and
    * identical texts are kept or dropped together. Weights are snapped
    * to basis points (integer thresholds) so the oracle compares exact
    * integers, never floats. Map-only filter, fused into the scan.
    */
  def mixCorpus(df: DataFrame, weights: Map[String, Double],
                keyCol: String = "lang", textCol: String = "text",
                defaultWeight: Double = 1.0): DataFrame = {
    require((weights.values.toSeq :+ defaultWeight).forall(w => w >= 0.0 && w <= 1.0),
      "weights must be in [0, 1]")
    def bps(w: Double): Int = math.round(w * 10000).toInt
    val thr = weights.toSeq.sortBy(_._1).foldLeft(lit(bps(defaultWeight)): Column) {
      case (acc, (k, w)) => when(col(keyCol) === k, bps(w)).otherwise(acc)
    }
    df.filter(pmod(call_function("fnv1a64", col(textCol)), lit(10000L)) < thr)
  }

  /** Per-language TOKEN-BUDGET fill — the other half of mix design next
    * to [[mixCorpus]]'s rate thinning: a training mix is usually specified
    * as "N tokens of lang X" (a budget), not "keep X%" (a rate). Docs in
    * each language take a seeded splitmix permutation order (the
    * [[shuffleShard]] key: content-independent, seed-separable) and fill
    * the language's budget front to back; a doc is kept iff the budget is
    * not yet exhausted when it starts, so the fill overshoots by at most
    * one document — the deterministic "take until full" rule, replayable
    * as a prefix-sum comparison. Output: the kept docs with their token
    * count and running total.
    *
    * Scale shape: the running total is a [[Prefix]] sum per language (a
    * bare PARTITION BY lang window puts each language in ONE task — the
    * dominant language of a 100 TB corpus is most of the corpus). Budgets
    * enter as a literal CASE — no join.
    */
  def tokenBudgetMix(df: DataFrame, budgets: Map[String, Long],
                     defaultBudget: Long = Long.MaxValue, seed: Long = 42L,
                     langCol: String = "lang", textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require((budgets.values.toSeq :+ defaultBudget).forall(_ >= 0L),
      "budgets must be non-negative")
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget): Column) {
      case (acc, (l, b)) => when(col(langCol) === l, lit(b)).otherwise(acc)
    }
    // NULL text is excluded EXPLICITLY (matching the sibling TextStats
    // operators): without the filter a null n_tokens would propagate
    // into cum_before and silently null-drop the row at the budget
    // comparison — same rows, but by accident instead of by contract
    val keyed = df.filter(col(textCol).isNotNull).select(col(idCol), col(langCol),
      size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).cast("long").as("n_tokens"),
      call_function("splitmix64",
        call_function("splitmix64", col(idCol).cast("long")).bitwiseXOR(lit(seed)))
        .as("skey"))
    Prefix.sums(keyed, Seq(langCol), Seq(col("skey"), col(idCol)), "tok" -> col("n_tokens"))
      .filter(col("tok_cum") - col("n_tokens") < budget)
      .select(col(idCol), col(langCol), col("n_tokens"), col("tok_cum").as("cum_tokens"))
      .orderBy(idCol)
  }

  /** TEMPERATURE-WEIGHTED MIXTURE (c27) — the budget DERIVATION in
    * front of [[tokenBudgetMix]]'s allocator: per-language token
    * budgets proportional to n_lang^α with α = 1/2 (temperature
    * sampling — upweight low-resource languages relative to their
    * natural share; the mixture rule of multilingual pretraining, e.g.
    * Conneau et al. XLM-R 2020 §5.1, with √ the classic temperature).
    * budget_l = ⌊(r_l · B) / Σr⌋ where r_l = round6(√n_l) — α = 1/2
    * specifically because IEEE-754 requires sqrt be correctly rounded,
    * so unlike pow/exp the weight is bit-identical on every engine;
    * the denominator is the DECIMAL-exact sum of the 6dp-rounded
    * weights (order-free), and the floor runs on the same double
    * expression both sides.
    *
    * Scale: the per-language totals are one map-side-combined
    * aggregation; the budget table is O(|languages|) rows — pulled to
    * the driver like the BPE merge tables (a documented model-artifact
    * collect, coordination not data) and re-entering as
    * [[tokenBudgetMix]]'s literal CASE. Allocation itself is t26's
    * range-repartition prefix-sum discipline, unchanged.
    */
  def temperatureMix(docs: DataFrame, totalBudget: Long = 8000L,
                     seed: Long = 42L, langCol: String = "lang",
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(totalBudget >= 0L, "totalBudget must be non-negative")
    val perLang = docs.filter(col(textCol).isNotNull)
      .select(col(langCol),
        size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).cast("long").as("n_tokens"))
      .groupBy(langCol).agg(sum("n_tokens").as("lang_tokens"))
      .collect()  // O(|languages|) rows — model-artifact pull
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val r6 = perLang.map { case (l, n) => (l, round6(math.sqrt(n.toDouble))) }
    // DECIMAL-exact denominator: sum of the 6dp weights, order-free
    // (mirrors CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE))
    val tot = r6.map { case (_, r) =>
      new java.math.BigDecimal(r).setScale(6, java.math.RoundingMode.HALF_UP)
    }.foldLeft(java.math.BigDecimal.ZERO)(_ add _).doubleValue
    val budgets: Map[String, Long] = r6.map { case (l, r) =>
      l -> math.floor((r * totalBudget.toDouble) / tot).toLong
    }.toMap
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(0L): Column) {
      case (acc, (l, b)) => when(col(langCol) === l, lit(b)).otherwise(acc)
    }
    tokenBudgetMix(docs, budgets, defaultBudget = 0L, seed = seed,
        langCol = langCol, textCol = textCol, idCol = idCol)
      .withColumn("lang_budget", budgetCol)
      .orderBy(idCol)
  }

  /** Corpus SNAPSHOT DIFF — the incremental-crawl report between two
    * corpus generations: per document, `added` (new id), `removed`
    * (gone id), `changed` (same id, different content hash) or
    * `unchanged`. Content compares by xxhash64 of the text (the x1
    * exact-dedup identity), so two 100 TB snapshots diff by moving
    * (id, 8-byte hash) pairs through ONE full-outer join — text never
    * shuffles. The report that sizes an incremental re-process run
    * (only `added` + `changed` re-enter the pipeline).
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def hashed(df: DataFrame, h: String) =
      df.select(col(idCol), xxhash64(col(textCol)).as(h))
    hashed(oldDocs, "h_old").join(hashed(newDocs, "h_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"))
      .orderBy(idCol)
  }

  /** ZIPF / HEAPS corpus diagnostics — the two power laws a healthy
    * natural-language corpus obeys and synthetic or templated text
    * visibly violates: the rank-frequency slope (OLS fit of ln freq on
    * ln rank over the top `topN` terms; natural text sits near −1) and
    * the Heaps exponent proxy ln V / ln N (vocabulary growth rate;
    * natural text ~0.4–0.6, templated corpora collapse toward 0).
    * One row — the corpus-health dashboard entry t4's profile feeds.
    *
    * Determinism: term counts are exact; the regression runs over a
    * CONSTANT topN rows (TakeOrderedAndProject — per-partition heads,
    * no global sort), with every Σ under the [[Num.exactAvg]] decimal
    * discipline and the closed-form slope (n·Σxy − Σx·Σy)/(n·Σx² −
    * Σx·Σx) as one fixed-shape double expression. The rank is a
    * [[Prefix]] row count over the topN rows (tok is unique, so the
    * order is tie-free).
    */
  def zipfReport(docs: DataFrame, topN: Int = 100,
                 textCol: String = "text"): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_vocab"))
    val byFreq = Seq(col("c").desc, col("tok"))
    val top = Prefix.sums(counts.orderBy(byFreq: _*).limit(topN), Nil, byFreq, "rows" -> lit(1L))
    val pts = top.select(log(col("rows_cum").cast("double")).as("x"),
      log(col("c").cast("double")).as("y"))
    val sums = pts.agg(count(lit(1)).cast("double").as("n"),
      Num.exactSum(col("x")).as("sx"), Num.exactSum(col("y")).as("sy"),
      Num.exactSum(col("x") * col("y")).as("sxy"),
      Num.exactSum(col("x") * col("x")).as("sxx"))
    sums.crossJoin(broadcast(totals))
      .select(col("n_tokens"), col("n_vocab"), col("n").cast("long").as("n_fit_terms"),
        Num.roundTo((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"),
        Num.roundTo(log(col("n_vocab").cast("double")) /
          log(col("n_tokens").cast("double")), 6).as("heaps_beta"))
  }

  /** READABILITY scoring — Flesch reading ease from three exact integer
    * counts: words (whitespace tokens), sentences (runs of [.!?], floor
    * 1 so headline-style fragments don't divide by zero), and syllables
    * approximated as VOWEL GROUPS (maximal [aeiouy]+ runs — the
    * standard dictionary-free estimator; whitespace breaks groups, so
    * the whole-text count equals the per-word sum). Flesch = 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words), the score
    * quality filters bucket on (very low ⇒ boilerplate/code; very
    * high ⇒ fragment soup).
    *
    * Map-only: three regexp counts + one fixed-shape double formula
    * (6dp on output), no shuffle at all — the cheapest per-doc scorer
    * in the t-family. Both regexes stay in the Java∩RE2 common subset
    * so the oracle replays them verbatim.
    */
  def readability(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val words = tokenCount(col(textCol)).cast("long")
    val sentences = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"))
    val syllables = size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0)))
      .cast("long")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .filter(col("n_words") > 0L)
      .withColumn("flesch", Num.roundTo(
        lit(206.835) -
        lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double")) -
        lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")), 6))
      .orderBy(idCol)
  }

  /** Deterministic per-GROUP cap — keep at most `k` documents per group,
    * chosen by the seeded splitmix permutation (the c10 shuffle key), so
    * the survivors are an unbiased-but-reproducible sample and a re-run
    * (any partitioning, any engine) keeps the identical set. The
    * balanced-corpus counterpart to [[tokenBudgetMix]]: that fills a
    * token budget, this hard-caps the head classes (the standard
    * anti-domination pass before mixing a multilingual corpus).
    *
    * Scale shape: the rank is a [[Prefix]] row count per group — no
    * per-group single-task window; a billion-doc language costs one range
    * shuffle. Emits (id, group, cap_rank) for survivors; cap_rank < k is
    * the keep rule replayed verbatim by the oracle.
    */
  def groupCap(df: DataFrame, k: Long, seed: Long = 42L,
               groupCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    require(k >= 0L, "cap must be non-negative")
    val keyed = df.select(col(idCol), col(groupCol),
      call_function("splitmix64",
        call_function("splitmix64", col(idCol).cast("long")).bitwiseXOR(lit(seed)))
        .as("skey"))
    Prefix.sums(keyed, Seq(groupCol), Seq(col("skey"), col(idCol)), "rows" -> lit(1L))
      .withColumn("cap_rank", col("rows_cum") - 1L)
      .filter(col("cap_rank") < k)
      .select(col(idCol), col(groupCol), col("cap_rank"))
      .orderBy(idCol)
  }

  /** Per-source CURATION REPORT (c18) — the crawl-ops dashboard a
    * 100 TB ingest reads FIRST, before spending compute on pair
    * generation or training mixes: it composes the t18 dup profile
    * ([[Dedup.dupProfile]]'s distinct-text accounting), the t1 quality
    * score ([[qualityScore]]) and the c16 cap policy ([[groupCap]]'s
    * keep rule) into one pass over the corpus. Per source: doc and
    * token counts, the exact-duplicate rate, interpolated quality
    * quartiles (the p2 percentile definition), corpus share, and a cap
    * recommendation — the largest doc count keeping the source at or
    * under `maxShareBp` basis points of the CURRENT corpus (the
    * first-order, one-shot recommendation: capping shrinks the total,
    * so the post-cap shares differ — iterating to the water-filling
    * fixpoint is a policy choice this report deliberately leaves to the
    * operator), plus `n_over_cap`, exactly what [[groupCap]] at that k
    * would drop. NULL-text docs are excluded by contract (the
    * [[tokenBudgetMix]] rule).
    *
    * Scale shape: ONE aggregation keyed by source with map-side
    * partials — the distinct-text term keys on xxhash64(text), 8 bytes,
    * never the body; the corpus total rides back as a broadcast one-row
    * join. Quartiles use the exact interpolated percentile (source
    * cardinality is crawl-catalog-sized, and per-source value sets fit
    * the aggregate buffers at report granularity); at extreme scale
    * swap in [[Profiling.approxQuantilesByGroup]]'s t-digest. Output is
    * one row per source — dashboard-sized at any corpus size.
    */
  def curationReport(docs: DataFrame, maxShareBp: Long = 2500L,
                     sourceCol: String = "source", textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(maxShareBp > 0L && maxShareBp <= 10000L,
      "maxShareBp is basis points in (0, 10000]")
    val scored = qualityScore(docs.filter(col(textCol).isNotNull), textCol)
    // materialize the catalog-sized per-source table ONCE: the corpus
    // total derives from it, and without the checkpoint Spark would
    // re-run the full corpus scan + aggregation for the broadcast side
    // (a 2× read at 100 TB for a kilobyte of output)
    val per = Iterate.materialize(scored.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("n_tokens"),
           countDistinct(xxhash64(col(textCol))).as("n_distinct_texts"),
           Num.roundTo(percentile(col("quality_score"), lit(0.25)), 6).as("q25_quality"),
           Num.roundTo(percentile(col("quality_score"), lit(0.5)), 6).as("median_quality"),
           Num.roundTo(percentile(col("quality_score"), lit(0.75)), 6).as("q75_quality")))
    val tot = broadcast(per.agg(sum(col("n_docs")).as("total_docs")))
    per.crossJoin(tot)
      .withColumn("dup_rate", Num.roundTo(
        (col("n_docs") - col("n_distinct_texts")).cast("double") /
          col("n_docs").cast("double"), 6))
      .withColumn("share", Num.roundTo(
        col("n_docs").cast("double") / col("total_docs").cast("double"), 6))
      .withColumn("cap_recommended",
        least(col("n_docs"), expr(s"(total_docs * $maxShareBp) div 10000")))
      .withColumn("n_over_cap", greatest(lit(0L), col("n_docs") - col("cap_recommended")))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"), col("n_distinct_texts"),
        col("dup_rate"), col("q25_quality"), col("median_quality"), col("q75_quality"),
        col("share"), col("cap_recommended"), col("n_over_cap"))
      .orderBy(sourceCol)
  }

  /** Conservative patterns shared (verbatim) by the Spark queries and the
    * DuckDB oracle — kept to syntax both Java regex and RE2 read
    * identically: char classes, +, explicit {m,n}, no backrefs, no
    * lookaround, no \b (word-boundary semantics differ across engines).
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val phonePattern = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

  /** TRAINING-EPOCH allocation plan (c19) — the data-constrained
    * budgeting step after [[curationReport]]: given a total token
    * budget and a repetition ceiling (the diminishing-returns cap on
    * re-reading data, after Muennighoff et al. 2023, arXiv:2305.16264),
    * fill the budget with the BEST sources first — sources rank by
    * median quality (desc, source name tie-break), each contributes up
    * to maxEpochs·tokens, and the marginal source splits into full
    * epochs plus a remainder (integer division — every cell is exact).
    * The same take-until-full prefix-sum rule as [[tokenBudgetMix]],
    * lifted from documents to sources with an epochs multiplier.
    *
    * Output per source (quality order): n_tokens, median_quality,
    * quality_rank, alloc_tokens (budget actually granted),
    * epochs_full = alloc div tokens, rem_tokens = alloc mod tokens.
    * Σ alloc_tokens = min(budget, maxEpochs·Σ tokens) by construction.
    *
    * Scale: per-source tokens + quality are one source-keyed aggregate
    * (map-side partials); the rank and the exclusive running cap are
    * [[Prefix]] sums over SOURCE rows (source is the group key, so the
    * order is tie-free).
    */
  def epochPlan(docs: DataFrame, budget: Long, maxEpochs: Long = 4L,
                sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    require(budget >= 0L && maxEpochs >= 1L, "need budget >= 0 and maxEpochs >= 1")
    val scored = qualityScore(docs.filter(col(textCol).isNotNull), textCol)
    val per = scored
      .groupBy(col(sourceCol))
      .agg(sum(col("n_tokens")).as("n_tokens"),
           Num.roundTo(percentile(col("quality_score"), lit(0.5)), 6).as("median_quality"))
      .filter(col("n_tokens") > 0)
    val cap = col("n_tokens") * maxEpochs
    Prefix.sums(per, Nil, Seq(col("median_quality").desc, col(sourceCol)),
        "rows" -> lit(1L), "cap" -> cap)
      // rows_cum is never null; the coalesce keeps quality_rank non-nullable
      .withColumn("quality_rank", coalesce(col("rows_cum"), lit(0L)))
      .withColumn("cum_before", col("cap_cum") - cap)
      .withColumn("alloc_tokens", greatest(lit(0L), least(lit(budget) - col("cum_before"), cap)))
      .withColumn("epochs_full", expr("alloc_tokens div n_tokens"))
      .withColumn("rem_tokens", col("alloc_tokens") % col("n_tokens"))
      .select(col(sourceCol), col("quality_rank"), col("median_quality"),
        col("n_tokens"), col("alloc_tokens"), col("epochs_full"), col("rem_tokens"))
      .orderBy("quality_rank")
  }

  /** PII scrub — the redaction pass a pipeline runs before training:
    * emails and phone-shaped numbers replaced with placeholder tokens,
    * with per-doc match counts for audit. Map-only (regexp_replace +
    * regexp_extract_all inside the scan projection, no shuffle).
    */
  def scrubPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val c = col(textCol)
    df.withColumn("n_emails",
        size(regexp_extract_all(c, lit(emailPattern), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(c, lit(phonePattern), lit(0))).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(c, emailPattern, "<EMAIL>"),
                       phonePattern, "<PHONE>"))
  }

  /** Composite training-data cleaning pipeline: quality gate → language
    * gate → exact dedup (keep min doc_id) → per-source yield stats. The
    * canonical "raw crawl → training corpus" reduction, end to end in one
    * lazy plan: the quality/lang gates are map-side filters fused into the
    * scan; dedup is the only shuffle (on text hash); the final per-source
    * rollup rides map-side partial aggregation.
    */
  def cleanCorpus(spark: SparkSession, dir: String,
                  minQuality: Double = 0.5, lang: String = "en"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val gated = qualityScore(docs)
      .filter(col("quality_score") >= minQuality && col("lang") === lang)
    val keep = gated.groupBy(xxhash64(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
    gated.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           Num.roundTo(Num.exactAvg(col("quality_score")), 4).as("avg_quality"))
      .orderBy("source")
  }

  /** END-TO-END pretraining assembly (c21) — the curation stages
    * composed as ONE lazy plan: per-language cap ([[groupCap]], the
    * anti-domination pass) → per-language quality-median gate
    * ([[qualityGate]], thresholds computed over the CAPPED corpus —
    * stage semantics, not global) → exact dedup (keep min doc_id per
    * text hash, the x1 rule) → context-window packing
    * ([[contextPack]]). The output IS c20's pack table computed over
    * the curated survivors — the "raw crawl → train-ready windows"
    * path a pretraining job actually runs.
    *
    * Scale: the cap and the pack are the distributed-rank shapes, the
    * gate is a broadcast threshold comparison, dedup is one
    * 8-byte-hash shuffle — four stages, four exchanges, corpus text
    * crosses the wire only in the dedup hash grouping (as a hash) and
    * never collects. Note the stage discipline is NOT fully lazy: the
    * cap and the pack each pin their permutation order with an eager
    * localCheckpoint (exactly as their standalone forms do), so
    * constructing this frame runs those stage jobs — the price of
    * rank determinism, same as calling the stages by hand.
    */
  def pretrainPipeline(spark: SparkSession, dir: String, capK: Long = 40L,
                       pct: Double = 0.5, contextLen: Long = 512L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val capped = docs.join(
      groupCap(docs, capK).select(col("doc_id")), Seq("doc_id"), "left_semi")
    val gated = capped.join(
      qualityGate(capped, pct).select(col("doc_id")), Seq("doc_id"), "left_semi")
    val keep = gated.groupBy(xxhash64(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val deduped = gated.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
    contextPack(deduped, contextLen)
  }

  /** Token-window document chunking — the pre-embedding/pre-training
    * splitter: overlapping windows of `chunkSize` tokens every `stride`
    * tokens. Pure per-row expression (no shuffle): chunk count
    * k = max(1, ceil((n − overlap)/stride)), chunk i covers tokens
    * [i·stride, i·stride + chunkSize). Fan-out is the only cost — at
    * 100 TB the output is repartitioned by size before writing.
    */
  def chunk(df: DataFrame, chunkSize: Int = 64, stride: Int = 48,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(stride > 0 && chunkSize >= stride, "need chunkSize >= stride > 0")
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    val n = size(toks)
    val overlap = chunkSize - stride
    val k = greatest(lit(1),
      ceil((n.cast("double") - overlap) / stride).cast("int"))
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), k - 1), i => struct(
          array_join(slice(toks, i * stride + 1, lit(chunkSize)), " ").as("txt"),
          // = size of the slice, without materializing it a second time
          greatest(least(lit(chunkSize), n - i * stride), lit(0))
            .cast("long").as("ntk"))))
      .as(Seq("chunk_id", "c")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("c.txt").as("chunk_text"), col("c.ntk").as("n_chunk_tokens"))
  }

  /** Token-budget sequence packing — concat-and-chop, the standard
    * pre-training step after chunking: lay every chunk's tokens on one
    * global tape (ordered by (doc_id, chunk_id)) and cut a sequence
    * every `budget` tokens. Emits each chunk's absolute `token_start`
    * and the `seq_id` of the sequence its first token lands in.
    *
    * Scale shape: the tape is a [[Prefix]] sum in (doc_id, chunk_id)
    * order — a global `Window.orderBy` with no partition key would be a
    * single-task scan — so the result is deterministic under any
    * partitioning.
    */
  def packChunks(chunks: DataFrame, budget: Int = 512,
                 docCol: String = "doc_id", chunkCol: String = "chunk_id",
                 tokCol: String = "n_chunk_tokens"): DataFrame = {
    require(budget > 0, "budget must be positive")
    Prefix.sums(chunks, Nil, Seq(col(docCol), col(chunkCol)), "__tok" -> col(tokCol))
      .withColumn("token_start", col("__tok_cum") - col(tokCol))
      .withColumn("seq_id", floor(col("token_start") / budget).cast("long"))
      .drop("__tok_cum", "__tok_total")
  }

  /** UNIGRAM-LM tokenizer induction (SentencePiece-style), the other
    * half of production tokenization next to [[bpeMerges]]: seed a
    * substring vocabulary from the corpus word counts, then run a fixed
    * number of EM rounds — the VITERBI (hard-EM) variant: the E-step
    * segments every distinct word by its maximum-likelihood piece
    * sequence under the current model, the M-step re-estimates piece
    * counts from those segmentations, and a final prune keeps the
    * `keepTop` highest-count pieces (single characters always survive,
    * so the model stays able to segment anything).
    *
    * Every step is engine-exact, which is what buys the DuckDB hash
    * gate: piece counts are INTEGERS; piece probabilities are single
    * IEEE divisions c/T; the per-word Viterbi DP multiplies doubles in
    * a fixed left-to-right recurrence (no transcendentals, no
    * accumulation-order ambiguity — products and comparisons are
    * bit-identical in any IEEE engine); argmax ties break on the later
    * split point (the shorter last piece), a total order because one
    * (i, j) pair names exactly one piece. Hard-EM (not forward-backward
    * posteriors) is the deliberate choice: expected counts would be
    * corpus-order-dependent doubles needing lossy decimal rounding,
    * while Viterbi counts replay exactly.
    *
    * Scale shape: the model fits on the DISTINCT word-count table (the
    * [[bpeMerges]] discipline — induction cost scales with |vocab|,
    * never corpus tokens). The whole per-level recurrence runs as ONE
    * row-local aggregate() fold inside a single projection — zero
    * per-level exchanges — with the bounded piece model riding in as a
    * literal map; words longer than `maxWordLen` are excluded from
    * INDUCTION (documented, replayed by the oracle) — they would only
    * stretch the DP tail for vanishing count mass.
    */
  def unigramVocab(df: DataFrame, seedTop: Int = 64, keepTop: Int = 48,
                   maxPieceLen: Int = 4, maxWordLen: Int = 12, emRounds: Int = 2,
                   textCol: String = "text"): DataFrame = {
    require(seedTop > 0 && keepTop > 0 && maxPieceLen > 0 && emRounds >= 0,
      "unigramVocab params must be positive")
    val words = Iterate.materialize(
      df.select(explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).as("w"))
        .filter(length(col("w")) <= maxWordLen)
        .groupBy("w").agg(count(lit(1)).as("n")))
    // seed candidates: every substring of length 1..maxPieceLen, counted
    // once per occurrence position per word weighted by the word count
    val subs = words
      .select(col("w"), col("n"), explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("n"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i") + 1))).as("l"))
      .select(col("w").substr(col("i"), col("l")).as("piece"), col("n"))
      .groupBy("piece").agg(sum(col("n")).as("c"))
    val subsM = Iterate.materialize(subs)
    val chars = subsM.filter(length(col("piece")) === 1)
    def withSingles(top: DataFrame): DataFrame =
      top.unionByName(
        chars.join(top.select("piece"), Seq("piece"), "left_anti"))
    var pieces = Iterate.materialize(withSingles(
      subsM.orderBy(col("c").desc, col("piece")).limit(seedTop)))

    for (_ <- 1 to emRounds) {
      // The model is O(seedTop + |chars|) rows by construction (every EM
      // round's counts come from segmentations that only use model
      // pieces), so pulling it to the driver is a bounded model-artifact
      // pull — the same class as the IVF centroid/codebook pulls — and
      // buys the E-step a literal-map probability lookup instead of a
      // per-level broadcast join. T and p are computed exactly as the
      // distributed form did (integer sum, one double division each).
      val model = pieces.select(col("piece"), col("c").cast("long")).collect()
      val t = model.iterator.map(_.getLong(1)).sum
      val pMap = model.iterator
        .map(r => r.getString(0) -> (r.getLong(1).toDouble / t.toDouble)).toMap
      // E-step: per-word Viterbi over the DISTINCT word table as PURE
      // ROW-LOCAL EXPRESSIONS — the DP state of word w never depends on
      // any other row, so the former per-level groupBy/shuffle pipeline
      // (one hash exchange per consumed-prefix length) was moving rows
      // only to compare a word with itself. One codegen'd projection
      // chain computes all maxWordLen levels in a single pass: level j
      // keeps struct(sc, seg) = the best of up to maxPieceLen candidates
      // struct(score_{j-k} · p(piece), i0 = j-k, seg ++ piece), chosen by
      // array_max over (sc, i0) — identical IEEE multiply order and
      // identical (sc DESC, i0 DESC) tie-break as the oracle's
      // row_number replay; array_max skips NULL candidates (unreachable
      // states / pieces outside the model) exactly as the former inner
      // join dropped them. Each level is its own withColumn so
      // CollapseProject keeps the (non-cheap, multiply-referenced)
      // level structs as distinct projections — plan depth stays linear
      // in maxWordLen instead of the 4^level tree that forced the old
      // per-level lazy checkpoints.
      val fin = viterbiSegment(words, pMap, maxPieceLen, maxWordLen)
      val newCounts = fin.select(col("n"), explode(col("seg")).as("piece"))
        .groupBy("piece").agg(sum(col("n")).as("c"))
      // single chars stay in the model at zero count — segmentability
      pieces = Iterate.materialize(
        newCounts.unionByName(
          chars.select(col("piece"), lit(0L).as("c"))
            .join(newCounts.select("piece"), Seq("piece"), "left_anti")))
    }
    // final prune: single chars re-enter with their CURRENT model count
    // (pieces always contains every seed char by the round-end union)
    val top = pieces.orderBy(col("c").desc, col("piece")).limit(keepTop)
    top.unionByName(
        pieces.filter(length(col("piece")) === 1)
          .join(top.select("piece"), Seq("piece"), "left_anti"))
      .select(col("piece"), col("c").as("n_piece"))
      .orderBy(col("n_piece").desc, col("piece"))
  }

  /** Viterbi ENCODE with a learned unigram vocab ([[unigramVocab]]
    * output) — the tokenizer-encode stage that consumes what t25 trains,
    * the unigram twin of [[bpeEncode]]: every distinct corpus word is
    * segmented by its maximum-likelihood piece sequence under the pruned
    * model (probabilities c/Σc, the same fixed left-to-right DP
    * recurrence and (score, later-split) tie-break as induction), and
    * the per-doc report joins the encoded vocabulary back to the word
    * stream. Words longer than `encodeMaxLen`, or with no piece path
    * (a character the pruned vocab lost), fall back to one piece per
    * character — SentencePiece's byte/char fallback, deterministic and
    * oracle-replayable.
    *
    * The DP carries (score, piece COUNT) — not the piece arrays — so
    * encode state is a fixed-width row per (word, level). Same scale
    * shape as induction: cost scales with |distinct words| × levels,
    * never corpus tokens; the corpus pays one tokenize-explode and one
    * join against the vocab-sized encode table. The level recurrence is
    * the same row-local aggregate() fold as [[unigramVocab]] — a single
    * projection, no per-level checkpoints.
    */
  def unigramEncode(docs: DataFrame, vocab: DataFrame, maxPieceLen: Int = 4,
                    encodeMaxLen: Int = 16, textCol: String = "text"): DataFrame = {
    require(maxPieceLen > 0 && encodeMaxLen > 0, "positive lengths required")
    val words = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"),
        explode(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).as("w"))
    val distinctW = words.select("w").distinct()
    // Bounded model pull (|vocab| ≤ keepTop + chars rows): same T and
    // per-piece division as the former crossJoin/broadcast form, but the
    // probabilities become a literal map so the whole Viterbi pass is
    // one row-local projection chain over the distinct-word table (see
    // [[viterbiSegment]]) — no per-level exchanges, no checkpoints.
    val model = vocab.select(col("piece"), col("n_piece").cast("long")).collect()
    val t = model.iterator.map(_.getLong(1)).sum
    val pMap = model.iterator
      .map(r => r.getString(0) -> (r.getLong(1).toDouble / t.toDouble)).toMap
    // Words longer than encodeMaxLen have no DP level to read (the seg
    // when-chain yields NULL) and fall back to one piece per char, the
    // same contract as before; n_pieces = |seg| replays the old DP's
    // piece COUNT exactly (both count the chosen pieces).
    val enc = viterbiSegment(distinctW, pMap, maxPieceLen, encodeMaxLen)
      .select(col("w"),
        coalesce(when(col("seg").isNotNull, size(col("seg")).cast("long")),
          length(col("w")).cast("long")).as("n_pieces"))
    words.join(enc, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_unigram_tokens"))
      .withColumn("pieces_per_word",
        Num.roundTo(col("n_unigram_tokens").cast("double") / col("n_words"), 4))
      .orderBy("doc_id")
  }

  /** Shared Viterbi segmentation pass for [[unigramVocab]]'s E-step and
    * [[unigramEncode]]: per input row (must carry a string column `w`),
    * appends `seg` = the maximum-likelihood piece sequence of `w` under
    * the literal probability map `pMap`, or NULL when `w` is longer than
    * `maxLen` or has no piece path.
    *
    * The DP is ROW-LOCAL — word w's state never depends on another row —
    * so the whole recurrence runs as ONE `aggregate()` fold over the
    * level sequence 1..maxLen inside a single projection: the
    * accumulator is the array of per-level states struct(sc, seg)
    * (element i = level i−1), and step j appends the best of up to
    * `maxPieceLen` candidates struct(sc = score_{j-k} · p(substr(w,
    * j-k+1, k)), i0 = j-k, seg ++ piece), selected by `array_max` whose
    * struct comparison is exactly the (sc DESC, i0 DESC) order of the
    * oracle's row_number replay (i0 is unique per level, so the seg
    * field never participates). NULL candidates (unreachable predecessor
    * state, piece outside the model, j past the word) are skipped by
    * array_max just as the former per-level inner join dropped them; the
    * IEEE multiply score_{j-k} · p is the same single multiplication in
    * the same order, so every score is bit-identical to the shuffled
    * form this replaces. The fold keeps expression SIZE linear in
    * maxPieceLen (a per-level column chain would be inlined by
    * CollapseProject into a 4^maxLen tree — measured as a driver hang in
    * the optimizer); evaluation is iterative per row. Array and map
    * accesses are CASE-guarded / `try_element_at` so the expression is
    * ANSI-safe at every index.
    */
  private[ops] def viterbiSegment(words: DataFrame, pMap: Map[String, Double],
                                  maxPieceLen: Int, maxLen: Int): DataFrame = {
    val pLit = typedLit(pMap)
    // The accumulator's element type MUST stay containsNull=true: states
    // past the word's length are NULL elements, and Concat types the
    // fold's result from its FIRST child (the accumulator), so a
    // non-null init element type would make the Unsafe array writer
    // skip per-element null checks and NPE on the first unreachable
    // state. A `when(lit(true), …)` shim is NOT enough — ConstantFolding
    // collapses it back to a non-nullable struct — so the nullability is
    // pinned with an explicit cast to the DDL type (nullable by
    // construction, survives every optimizer rewrite).
    val init = array(struct(lit(1.0).as("sc"),
      array().cast("array<string>").as("seg")))
      .cast("array<struct<sc:double,seg:array<string>>>")
    val dp = aggregate(
      sequence(lit(1), lit(maxLen)),
      init,
      (acc: Column, j: Column) => {
        val cands = (1 to maxPieceLen).map { k =>
          val prev = element_at(acc, j - lit(k) + 1)
          val piece = col("w").substr(j - lit(k) + 1, lit(k))
          val p = try_element_at(pLit, piece)
          // outer guard first: element_at(acc, j-k+1) is only evaluated
          // once j >= k bounds the index inside [1, |acc|]
          when(j >= lit(k) && length(col("w")) >= j,
            when(prev.isNotNull && p.isNotNull,
              struct((prev.getField("sc") * p).as("sc"), (j - lit(k)).as("i0"),
                concat(prev.getField("seg"), array(piece)).as("seg"))))
        }
        val best = array_max(array(cands: _*))
        concat(acc, array(when(best.isNotNull,
          struct(best.getField("sc").as("sc"), best.getField("seg").as("seg")))))
      })
    words.withColumn("seg",
      when(length(col("w")) <= maxLen,
        element_at(dp, length(col("w")) + 1).getField("seg")))
  }

  /** CONTEXT-WINDOW packing plan (c20) — the GPT-style pretraining
    * pack: documents concatenate in a seeded permutation order (the
    * [[shuffleShard]] key: content-independent, seed-separable) into
    * one token stream that splits at fixed `contextLen` boundaries.
    * Emits, per document, its global pack rank, token start offset and
    * the first/last window it lands in — `n_windows > 1` marks docs
    * split across a context boundary (the fraction a curator watches
    * when choosing contextLen vs document length distribution; window
    * w's content = every doc with window_first <= w <= window_last).
    * Zero-token and NULL-text docs are excluded by contract.
    *
    * Deterministic and engine-replayable: the offsets are one global
    * prefix sum over integer token counts in (skey, id) order, and the
    * window ids are integer divisions of those offsets.
    *
    * Scale shape: rank and offset are one [[Prefix]] sum in (skey, id)
    * order — no single-task data-sized window.
    */
  def contextPack(df: DataFrame, contextLen: Long, seed: Long = 42L,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(contextLen >= 1L, "contextLen must be positive")
    val keyed = df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).cast("long").as("n_tokens"),
        call_function("splitmix64",
          call_function("splitmix64", col(idCol).cast("long")).bitwiseXOR(lit(seed)))
          .as("skey"))
      .filter(col("n_tokens") > 0)
    Prefix.sums(keyed, Nil, Seq(col("skey"), col(idCol)),
        "tok" -> col("n_tokens"), "rows" -> lit(1L))
      .withColumn("pack_rank", col("rows_cum") - 1L)
      .withColumn("start_offset", col("tok_cum") - col("n_tokens"))
      .withColumn("window_first", expr(s"start_offset div $contextLen"))
      .withColumn("window_last", expr(s"(start_offset + n_tokens - 1) div $contextLen"))
      .select(col(idCol), col("pack_rank"), col("n_tokens"), col("start_offset"),
        col("window_first"), col("window_last"),
        (col("window_last") - col("window_first") + 1L).as("n_windows"))
      .orderBy(idCol)
  }

  /** 0-based integer NTILE(n) of the 0-based `rank` over `total` rows:
    * the first total mod n tiles carry ceil(total/n) rows, the rest floor
    * — all integer DIV/%, so any engine reproduces the cut points exactly;
    * greatest(…, 1) guards the (never-taken) total < n branch. */
  private def intNtile(rank: String, total: String, n: Int): Column = expr(
    s"""CAST(CASE
       |  WHEN $rank < ($total % $n) * (($total DIV $n) + 1)
       |  THEN $rank DIV (($total DIV $n) + 1)
       |  ELSE ($total % $n) +
       |    ($rank - ($total % $n) * (($total DIV $n) + 1))
       |      DIV greatest($total DIV $n, 1)
       |END AS BIGINT)""".stripMargin)

  /** Deterministic corpus SHUFFLE-AND-SHARD — the last-mile operator of
    * every training-data pipeline: impose a seeded pseudo-random global
    * order on the curated corpus and cut it into `nShards` equal shards
    * (sizes differ by at most one doc, larger shards first — exact
    * SQL-standard NTILE semantics). The permutation key is
    * splitmix64(splitmix64(doc_id) XOR seed): content-independent (a
    * re-ingested doc keeps its slot), seed-separable (a new seed is a
    * fresh permutation), and integer-replayable by the DuckDB oracle.
    *
    * Scale shape: the rank is a [[Prefix]] row count in (skey, id) order,
    * because NTILE as a bare window function is a single-task global
    * sort; the shard follows from rank by integer arithmetic. Every shard
    * boundary is a pure function of (N, nShards, rank) — re-sharding with
    * a different partition count reproduces the identical assignment
    * (spec-pinned).
    */
  def shuffleShard(df: DataFrame, nShards: Int, seed: Long = 42L,
                   idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val keyed = df.select(col(idCol),
      call_function("splitmix64",
        call_function("splitmix64", col(idCol).cast("long")).bitwiseXOR(lit(seed)))
        .as("skey"))
    Prefix.sums(keyed, Nil, Seq(col("skey"), col(idCol)), "rows" -> lit(1L))
      .withColumn("rank", col("rows_cum") - 1L)
      .withColumn("shard", intNtile("rank", "rows_total", nShards))
      .select(col(idCol), col("skey"), col("rank"), col("shard"))
  }

  /** CURRICULUM ordering plan (c23) — the training-order step after
    * curation: every doc gets a global `train_rank` that presents the
    * corpus quality-ascending — band 1 (lowest-quality quartile) first,
    * band `nBands` last, so training ENDS on the best data (the
    * data-ordering/annealing recipe: finish on highest quality rather
    * than sprinkle it uniformly) — with a seeded deterministic shuffle
    * WITHIN each band so no spurious order (crawl date, source
    * adjacency) leaks into the schedule.
    *
    * Bands are exact integer ntile cuts over the global
    * (quality_score, id) rank; both the band rank and the final
    * training rank are [[Prefix]] row counts. Every cut point and
    * shuffle key is integer arithmetic the oracle replays exactly
    * (ntile + splitmix64).
    */
  def curriculumOrder(docs: DataFrame, nBands: Int = 4, seed: Long = 42L,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nBands > 0, "nBands must be positive")
    val scored = qualityScore(docs.filter(col(textCol).isNotNull), textCol)
      .select(col(idCol), col("quality_score"))
    // pass A: quality band
    val banded = Prefix.sums(scored, Nil, Seq(col("quality_score"), col(idCol)), "rows" -> lit(1L))
      .withColumn("qrank", col("rows_cum") - 1L)
      .withColumn("band", intNtile("qrank", "rows_total", nBands) + 1L)
      .select(col(idCol), col("quality_score"), col("band"))
    // pass B: global training rank over (band, seeded shuffle key, id)
    val keyed = banded.withColumn("skey",
      call_function("splitmix64",
        call_function("splitmix64", col(idCol).cast("long")).bitwiseXOR(lit(seed))))
    Prefix.sums(keyed, Nil, Seq(col("band"), col("skey"), col(idCol)), "rows" -> lit(1L))
      .select(col(idCol), col("band"), col("quality_score"), col("rows_cum").as("train_rank"))
  }

  /** TRAINER-READY per-doc manifest (c24's row table) — the one plan
    * that chains what c23/c4/c10/c11 each do alone: curriculum order →
    * token-tape packing ALONG that order → contiguous curriculum shards.
    * Per packable doc (non-null text, ≥ 1 token — zero-token docs can't
    * occupy tape, so they are dropped BEFORE banding and ranks stay
    * tape-contiguous): its quality `band` and global `train_rank`
    * ([[curriculumOrder]] verbatim), the absolute `start_offset` of its
    * first token on the training tape laid out in train_rank order
    * (NOT c20's seeded permutation — the whole point of a curriculum is
    * that the tape FOLLOWS it), the context-window span that offset
    * implies, and the `shard` from exact integer ntile cuts over the
    * curriculum rank (contiguous — shard 0 trains first; [[shuffleShard]]
    * would destroy the ordering c23 just built).
    *
    * Scale shape: [[curriculumOrder]]'s two [[Prefix]] passes plus ONE
    * more for the token prefix sum in train_rank order. Everything
    * downstream of the quality scorer moves 8-byte ids and counts.
    */
  def trainingManifest(docs: DataFrame, contextLen: Long = 512L, nShards: Int = 8,
                       nBands: Int = 4, seed: Long = 42L,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(contextLen >= 1L, "contextLen must be positive")
    require(nShards > 0, "nShards must be positive")
    val packable = docs.filter(col(textCol).isNotNull)
      .filter(tokenCount(col(textCol)) > 0)
    val ord = curriculumOrder(packable, nBands, seed, textCol, idCol)
    val toks = packable.select(col(idCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val keyed = ord.join(toks, idCol)
    Prefix.sums(keyed, Nil, Seq(col("train_rank")), "tok" -> col("n_tokens"), "rows" -> lit(1L))
      .withColumn("start_offset", col("tok_cum") - col("n_tokens"))
      .withColumn("window_first", expr(s"start_offset div $contextLen"))
      .withColumn("window_last", expr(s"(start_offset + n_tokens - 1) div $contextLen"))
      .withColumn("rank0", col("train_rank") - 1L)
      // the c10 integer ntile cut rule, applied to the CURRICULUM rank
      .withColumn("shard", intNtile("rank0", "rows_total", nShards))
      .select(col(idCol), col("band"), col("train_rank"), col("n_tokens"),
        col("start_offset"), col("window_first"), col("window_last"), col("shard"))
  }

  /** Per-shard TRAINING manifest (c24) — what the trainer actually reads
    * before touching data: for each contiguous curriculum shard, doc and
    * token sums plus its rank and context-window spans. Because shards
    * are contiguous in train_rank, `rank_first..rank_last` ARE the
    * training schedule and adjacent shards share at most one boundary
    * window. One groupBy over [[trainingManifest]].
    */
  def trainingShardManifest(docs: DataFrame, contextLen: Long = 512L,
                            nShards: Int = 8, nBands: Int = 4, seed: Long = 42L,
                            textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    trainingManifest(docs, contextLen, nShards, nBands, seed, textCol, idCol)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
           min(col("train_rank")).as("rank_first"), max(col("train_rank")).as("rank_last"),
           min(col("window_first")).as("window_first"), max(col("window_last")).as("window_last"))
      .orderBy("shard")

  /** Per-shard MANIFEST for [[shuffleShard]] — the handoff artifact a
    * training job reads before touching data: doc and token counts plus
    * the rank span of every shard. One groupBy over the assignment
    * joined to the map-only token count; O(nShards) output rows.
    */
  def shardManifest(df: DataFrame, nShards: Int, seed: Long = 42L,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))
    shuffleShard(df, nShards, seed, idCol)
      .join(toks, idCol)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
           min(col("rank")).as("rank_first"), max(col("rank")).as("rank_last"))
      .orderBy("shard")
  }

  /** Bigram language-model cross-entropy per document — the CCNet-style
    * quality signal: train an add-k-smoothed bigram LM on the corpus and
    * score each doc by the mean negative log-probability of its bigrams
    * (low = fluent/common constructions, high = gibberish, boilerplate
    * soup, wrong-language residue). Self-trained here; the two-corpus
    * variant (train on reference, score the crawl) is the same plan with
    * `train` swapped in.
    *
    * P(w2|w1) = (C(w1,w2) + k) / (C(w1) + k·V), score = −mean ln P.
    *
    * Scale shape: the count tables are partial-aggregated (map-side
    * combine) shuffles keyed on the bigram/unigram — O(distinct bigrams),
    * the compressible side of the join; scoring joins the doc bigrams
    * back on the same keys. Vocabulary size rides a broadcast one-row
    * aggregate (no driver collect). The token pipeline feeds three
    * consumers (c2, c1, scoring), so at corpus scale persist the bigram
    * table first — same lineage trade as [[Dedup.minhashLsh]].
    * Determinism for the oracle: ln values are pre-rounded to 6dp, the
    * per-doc mean uses the decimal-exact numerator, and the final score
    * rounds to 4dp — both engines replay the identical IEEE expressions.
    * Docs with fewer than two tokens have no bigrams and are excluded.
    */
  def bigramCrossEntropy(docs: DataFrame, k: Double = 0.5,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val base = docs.select(col(idCol), toks.as("t")).filter(size(col("t")) >= 2)
    val bg = base.select(col(idCol),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = base.select(explode(col("t")).as("w")).agg(countDistinct("w").as("v"))
    bg.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        Num.roundTo(log((col("c12") + k) / (col("c1") + lit(k) * col("v"))), 6).as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
           Num.roundTo(-Num.exactAvg(col("lp")), 4).as("cross_entropy"))
  }

  /** CCNet-style per-language PERPLEXITY BUCKETING (c25) — the fluency
    * filter that runs after heuristic gating (c6) in a real pretraining
    * funnel: every doc scored by the self-trained bigram cross-entropy
    * ([[bigramCrossEntropy]], the t11 signal), ranked per LANGUAGE
    * (lowest CE = most fluent first — cross-language CE values are not
    * comparable, which is why CCNet buckets per language), and cut into
    * `nBuckets` exact integer ntiles: head / middle / tail for the
    * default 3. `keep` drops the tail bucket — CCNet's standard policy.
    *
    * The per-group rank is a [[Prefix]] row count per language (no
    * single-task per-language window), and the cut points are the c10
    * integer rule, which DuckDB's NTILE replays exactly.
    * Docs with < 2 tokens have no bigrams and are out of scope (the
    * t11 contract).
    */
  def perplexityBuckets(docs: DataFrame, nBuckets: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val ce = bigramCrossEntropy(docs, 0.5, textCol, idCol)
      .join(docs.select(col(idCol), col("lang")), idCol)
    Prefix.sums(ce, Seq("lang"), Seq(col("cross_entropy"), col(idCol)), "rows" -> lit(1L))
      .withColumn("rank0", col("rows_cum") - 1L)
      .withColumn("bucket", intNtile("rank0", "rows_total", nBuckets) + 1L)
      .withColumn("keep", col("bucket") < nBuckets)
      .select(col(idCol), col("lang"), col("cross_entropy"), col("bucket"), col("keep"))
      .orderBy(idCol)
  }

  /** COLLOCATION mining via pointwise mutual information: for adjacent
    * token bigrams seen at least `minCount` times,
    * PMI = ln( p(w1,w2) / (p(w1)·p(w2)) ) with bigram probability over
    * the corpus bigram total and unigram probabilities over the corpus
    * token total — the classic measure separating true multi-word
    * units ("new york") from frequent-but-independent neighbors. High
    * PMI + high count = phrase-vocabulary candidates for tokenizers
    * (t22/t25's input view) and stop-phrase lists.
    *
    * Determinism: exact integer counts from map-side-combined
    * aggregations; the probability ratio is a fixed-shape double
    * expression (each quotient before the multiply, 6dp-rounded on
    * output) the oracle replays verbatim. Totals ride as broadcast
    * 1-row cross joins. Scale: two token-keyed shuffles (bigram and
    * unigram counts), both pre-aggregated map-side; the `minCount`
    * prune lands BEFORE the unigram joins so only surviving bigrams
    * join.
    */
  def collocations(docs: DataFrame, minCount: Long = 25,
                   textCol: String = "text"): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val base = docs.filter(col(textCol).isNotNull).select(toks.as("t"))
    val bg = base.filter(size(col("t")) >= 2).select(
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = base.select(explode(col("t")).as("w"))
    val cBg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val cUni = uni.groupBy("w").agg(count(lit(1)).as("n_w"))
    val totals = uni.agg(count(lit(1)).as("nuni"))
      .crossJoin(bg.agg(count(lit(1)).as("nbi")))
    val ratio = (col("n_ab").cast("double") / col("nbi").cast("double")) /
      ((col("n_a").cast("double") / col("nuni").cast("double")) *
       (col("n_b").cast("double") / col("nuni").cast("double")))
    cBg
      .join(cUni.select(col("w").as("w1"), col("n_w").as("n_a")), Seq("w1"))
      .join(cUni.select(col("w").as("w2"), col("n_w").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        Num.roundTo(log(ratio), 6).as("pmi"))
      .orderBy("w1", "w2")
  }

  /** Cross-split near-dup contamination report — the leakage a
    * content-hash split canNOT prevent (exact dups co-locate by
    * construction; near-dups hash independently): near-dup pairs whose
    * endpoints landed in different splits.
    *
    * Takes the pair table as an ARGUMENT rather than recomputing it:
    * pair generation (the x4 shingle pipeline) is the expensive pass
    * over a corpus, and AQE cannot reuse its exchanges across
    * differently-pruned scans — so the caller materializes pairs ONCE
    * (persist / checkpoint / a parquet round-trip) and feeds every
    * consumer (dup resolution, incremental dedup, this report) from the
    * same table. `pairs` needs (doc_a, doc_b, jaccard); the report adds
    * two map-only split joins and a filter — nothing corpus-sized.
    */
  def leakageReport(docs: DataFrame, pairs: DataFrame,
                    trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val splits = assignSplit(docs, trainPct = trainPct, valPct = valPct)
      .select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("split_a"), col("split_b"))
  }

  /** Vocabulary coverage curve: for each K in `ks`, the share of all
    * corpus tokens covered by the K most frequent terms — the
    * tokenizer-sizing question ("how big a vocab before coverage
    * plateaus?"). Ranking ties break lexicographically so the curve is
    * deterministic.
    *
    * Scale shape: the corpus collapses to the term-frequency table in one
    * shuffle (map-side partials soak Zipf's head); the top-max(K) slice
    * is a TakeOrdered (no global sort — K is bounded by the caller),
    * ranked by a [[Prefix]] row count (term is unique, so the order is
    * tie-free), and the per-K sums run over ≤ max(K) rows crossed with
    * the (tiny) K list. The total-token count is a one-row aggregate that broadcasts.
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(10, 100, 1000),
                    textCol: String = "text"): DataFrame = {
    require(ks.nonEmpty, "vocabCoverage needs at least one K")
    val spark = docs.sparkSession
    import spark.implicits._
    val freq = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
    val total = freq.agg(sum(col("n")).as("total_tokens"))
    val byFreq = Seq(col("n").desc, col("term"))
    val top = Prefix.sums(freq.orderBy(byFreq: _*).limit(ks.max), Nil, byFreq, "rows" -> lit(1L))
    top.crossJoin(broadcast(ks.toDF("k")))
      .filter(col("rows_cum") <= col("k"))
      .groupBy(col("k").cast("long").as("k"))
      .agg(count(lit(1)).as("n_terms"), sum(col("n")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("n_terms"), col("covered_tokens"),
        Num.roundTo(col("covered_tokens").cast("double") / col("total_tokens"), 6)
          .as("coverage"))
      .orderBy("k")
  }

  /** Exact heavy hitters by the two-pass sketch pattern: terms occurring
    * in at least `phi` of all token positions. Pass 1 runs the
    * Misra–Gries sketch ([[graft.functions.MisraGries]]) and the total
    * count in ONE aggregation — constant memory per partition, no
    * term-frequency shuffle; the sketch guarantees every term above
    * n/capacity survives as a candidate (capacity must exceed 1/phi —
    * enforced). Pass 2 re-counts ONLY the candidates exactly (broadcast
    * join — the candidate set is ≤ capacity rows) and filters on the true
    * threshold, so the result is exact and independent of encounter
    * order, partitioning, and the sketch's lower-bound counts. At 100 TB
    * this is two map-heavy scans instead of shuffling every distinct
    * term; the classic one-pass groupBy is the oracle's formulation.
    */
  def heavyHitters(docs: DataFrame, phi: Double = 0.01, capacity: Int = 256,
                   textCol: String = "text"): DataFrame = {
    require(capacity > 1.0 / phi,
      s"capacity $capacity must exceed 1/phi = ${1.0 / phi} for the superset guarantee")
    val terms = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    // one row (sketch, total); localCheckpoint pins it so the candidate
    // explode and the total read the SAME pass — without it each consumer
    // would replay the sketch scan (same fix as packChunks' offset table)
    val sketch = terms.agg(
      call_function("misra_gries", col("term"), lit(capacity)).as("sketch"),
      count(lit(1)).as("total_tokens"))
      .localCheckpoint()
    val candidates = sketch
      .select(explode(col("sketch")).as("e"))
      .select(col("e.term").as("term"))
    terms.join(broadcast(candidates), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(sketch.select(col("total_tokens"))))
      .filter(col("n") >= ceil(lit(phi) * col("total_tokens")).cast("long"))
      .select(col("term"), col("n"))
      .orderBy(col("n").desc, col("term"))
  }

  /** Per-language quality gating (the CCNet-style filter): keep documents
    * STRICTLY above their own language's quality median, so no language
    * is wholesale dropped for scoring low on another language's scale.
    * The per-language thresholds are one tiny percentile aggregate
    * broadcast back; the gate itself is a map-side comparison. Thresholds
    * round to 6dp on both engines and the comparison is strict, so ties
    * at the median are excluded deterministically.
    */
  def qualityGate(docs: DataFrame, pct: Double = 0.5,
                  langCol: String = "lang"): DataFrame =
    qualityGateOn(qualityScore(docs), "quality_score", pct, langCol)

  /** The gate generalized over ANY per-doc score column — the upgrade
    * path from the t1 heuristic to [[classifierScore]]'s model output
    * (or any future learned scorer): per-language `pct`-quantile
    * threshold, keep strictly-above. The threshold table is one tiny
    * broadcast; the corpus never shuffles.
    */
  def qualityGateOn(scored: DataFrame, scoreCol: String, pct: Double = 0.5,
                    langCol: String = "lang"): DataFrame = {
    val s2 = scored.select(col("doc_id"), col(langCol), col(scoreCol))
    s2.join(broadcast(qualityThresholds(s2, scoreCol, pct, langCol)), Seq(langCol))
      .filter(col(scoreCol) > col("q_threshold"))
      .select(col("doc_id"), col(langCol), col(scoreCol))
  }

  /** The gate's per-language threshold table on its own — a few rows,
    * computed once per corpus snapshot and staged like any model
    * artifact, so the STREAMING gate can apply it map-only. */
  def qualityThresholds(scored: DataFrame, scoreCol: String = "quality_score",
                        pct: Double = 0.5, langCol: String = "lang"): DataFrame =
    scored.groupBy(col(langCol))
      .agg(Num.roundTo(percentile(col(scoreCol), lit(pct)), 6).as("q_threshold"))

  /** Fixed-weight linear quality classifier — the production pattern the
    * heuristic [[qualityScore]] graduates to (fastText-style):
    * `sigmoid(w·x + b)` over the [[qualityFeatures]] vector. The weight
    * table is a literal baked into the codegen'd expression (no join, no
    * shuffle, map-only at any corpus size); swapping in trained
    * coefficients changes no plan shape. Deterministic given the
    * weights, hence DuckDB-replayable — the features are 4dp-rounded
    * upstream and the single exp() per row hash-matches at 6dp (the
    * p7_psi ln() precedent). `clf_keep` is the 0.5 decision on the
    * ROUNDED score, so both engines decide on identical inputs.
    */
  def classifierScore(docs: DataFrame,
                      weights: Map[String, Double] = defaultClassifierWeights,
                      bias: Double = -0.5): DataFrame = {
    val f = qualityFeatures(docs)
    val x: Map[String, Column] = Map(
      "tok_sat" -> least(col("n_tokens").cast("double") / 20.0, lit(1.0)),
      "mean_token_len" -> col("mean_token_len"),
      "punct_ratio" -> col("punct_ratio"),
      "digit_ratio" -> col("digit_ratio"),
      "upper_ratio" -> col("upper_ratio"),
      "stopword_ratio" -> col("stopword_ratio"))
    require(weights.keySet.subsetOf(x.keySet),
      s"unknown feature(s): ${weights.keySet.diff(x.keySet).mkString(", ")}")
    val z = weights.toSeq.sortBy(_._1)
      .map { case (k, w) => lit(w) * x(k) }
      .reduceOption(_ + _).getOrElse(lit(0.0)) + lit(bias)
    f.withColumn("clf_score", Num.roundTo(lit(1.0) / (lit(1.0) + exp(-z)), 6))
      .withColumn("clf_keep", col("clf_score") >= 0.5)
  }

  /** Stand-in coefficients (documented, not learned): reward token mass
    * and stopword share, penalize punctuation/digit/uppercase noise —
    * the same signal directions the t1 heuristic encodes.
    */
  val defaultClassifierWeights: Map[String, Double] = Map(
    "tok_sat" -> 1.5, "mean_token_len" -> 0.1, "punct_ratio" -> -3.0,
    "digit_ratio" -> -3.0, "upper_ratio" -> -1.0, "stopword_ratio" -> 1.0)

  /** CLASSIFIER CALIBRATION report (c28) — the reliability diagram for
    * the [[classifierScore]] gate: fixed-width probability bins
    * (floor(score·bins), the standard reliability binning) against the
    * above-median [[qualityScore]] heuristic as pseudo-label, per bin:
    * count, mean predicted probability, observed pass rate, and the
    * |mean − observed| calibration gap. The diagnostic a curation team
    * reads before trusting a model gate's probabilities as sampling
    * weights (a score used as a WEIGHT — c25/t28 — needs calibration;
    * a score used only as a THRESHOLD doesn't).
    *
    * Scale: binning is map-only arithmetic on the 6dp score (no NTILE,
    * no global sort — fixed-width bins are the point), the median
    * pseudo-label threshold is one broadcast scalar, and the report is
    * one map-side-combined aggregation over `bins` groups. Exact-
    * decimal averages keep every cell partitioning-independent.
    */
  def classifierCalibration(docs: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val sc = classifierScore(docs).select(col("doc_id"), col("clf_score"))
    val q = qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val med = q.agg(
      Num.roundTo(percentile(col("quality_score"), lit(0.5)), 6).as("m"))
    sc.join(q, Seq("doc_id"))
      .crossJoin(broadcast(med))
      .withColumn("label", col("quality_score") > col("m"))
      .withColumn("bin",
        least(floor(col("clf_score") * lit(bins.toDouble)), lit(bins - 1.0)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        Num.roundTo(Num.exactAvg(col("clf_score")), 6).as("mean_score"),
        Num.roundTo(Num.exactAvg(when(col("label"), lit(1.0)).otherwise(lit(0.0))), 6)
          .as("obs_rate"))
      .withColumn("calibration_gap",
        Num.roundTo(abs(col("mean_score") - col("obs_rate")), 6))
      .orderBy("bin")
  }

  /** BPE-style vocabulary induction: the `k` highest-count adjacent
    * symbol-pair merges over the corpus token table — the missing
    * LLM-pipeline stage between chunking (c2) and packing (c4).
    *
    * Same bounded-iteration discipline as `trainIvfCodebook` /
    * `connectedComponents`: the distributed work per round is ONE
    * aggregation over the (small) distinct-token table — the corpus is
    * scanned once, up front, for token frequencies, never again. The
    * driver pulls back exactly one argmax row per round to pick the
    * merge (the coordination pattern, not a data collect).
    *
    * Symbol sequences ride as `|`-delimited strings (`"cat"` →
    * `"|c|a|t|"`); applying a merge is then ONE codegen'd
    * `replace(ss, "|l|r|", "|lr|")` — and because `replace` scans
    * left-to-right non-overlapping, it implements greedy BPE merge
    * application exactly ("aaa" + (a,a) → "aa"+"a", not "a"+"aa").
    * DuckDB's `replace` has identical semantics, which makes every
    * round integer-exact and oracle-replayable. Tokens containing the
    * delimiter are excluded (both engines) — a real tokenizer would
    * escape instead; the fixtures contain none.
    *
    * Pair counts weight by token frequency and count every adjacent
    * position (overlaps included, the classic formulation); ties break
    * lexicographically on (lhs, rhs). Output: (merge_rank, lhs, rhs,
    * pair_count), one row per merge, rank-ordered.
    */
  def bpeMerges(docs: DataFrame, k: Int = 8, textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "" && !col("tok").contains("|"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .select(concat(lit("|"), array_join(filter(split(col("tok"), ""), c => c =!= ""), "|"),
                     lit("|")).as("ss"),
              col("n"))
    var cur = words
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (rank <- 0 until k if !exhausted) {
      val syms = filter(split(col("ss"), "\\|"), c => c =!= "")
      // sequence(1, 0) counts DOWN in Spark — single-symbol tokens must
      // yield an empty pair array (explode then drops the row)
      val pairsOf = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          j => struct(element_at(syms, j).as("lhs"),
                      element_at(syms, j + 1).as("rhs"))))
        .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
      val top = cur
        .select(col("n"), explode(pairsOf).as("pr"))
        .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
        .agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank.toLong, l, r, c))
        cur = cur.withColumn("ss",
          replace(col("ss"), lit(s"|$l|$r|"), lit(s"|$l$r|")))
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank")
  }

  /** Parallel-BPE merge training — the production-scale twin of
    * [[bpeMerges]]. Textbook BPE is one driver round-trip PER MERGE
    * (inherent: merge k+1's pair counts depend on merge k), so a 50k-
    * merge production vocab means 50k sequential Spark jobs. The
    * standard parallel-BPE move: per ROUND, take the top candidate
    * pairs and apply every pair whose symbols are DISJOINT from all
    * higher-ranked selections — disjoint merges can't interact, so one
    * round-trip buys up to `m` merges and the job count drops ~m×.
    *
    * Declared semantics (its own contract, NOT always equal to
    * sequential BPE — counts of lower-ranked pairs may shift after a
    * higher merge, which sequential BPE would observe and this batch
    * doesn't): run exactly `rounds` rounds; each round ranks pair
    * counts by (count DESC, lhs, rhs), scans the top `4·m + 8`
    * candidates in rank order, greedily selecting pairs whose lhs and
    * rhs both avoid every symbol already selected this round (capped
    * at `m`), then applies the selections in rank order via the same
    * greedy non-overlapping `replace` as [[bpeMerges]]. With m = 1 the
    * selection is the sequential argmax, so `bpeMergesBatched(docs, k,
    * 1) == bpeMerges(docs, k)` exactly — the equality the spec pins.
    *
    * Per round the driver pulls the top-candidate LIST (≤ 4m+8 rows —
    * a model artifact, same coordination class as [[bpeMerges]]'s
    * argmax row); selection runs on those rows driver-side. Output
    * schema matches [[bpeMerges]]; merge_rank numbers selections in
    * (round, within-round rank) order.
    */
  def bpeMergesBatched(docs: DataFrame, rounds: Int = 4, m: Int = 8,
                       textCol: String = "text"): DataFrame =
    bpeMergesBatchedWithJobs(docs, rounds, m, textCol)._1


  /** Instrumented [[bpeMergesBatched]]: also returns the number of
    * driver round-trips (pair-count collects — what the ≥m×-fewer-jobs
    * spec asserts against sequential BPE's one-per-merge) and the
    * per-round selection sizes (the spec's round boundaries for the
    * within-round disjointness check).
    */
  private[graft] def bpeMergesBatchedWithJobs(
      docs: DataFrame, rounds: Int, m: Int,
      textCol: String = "text"): (DataFrame, Int, Seq[Int]) = {
    require(rounds > 0 && m > 0, "rounds and m must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val candLimit = 4 * m + 8
    val words = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "" && !col("tok").contains("|"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .select(concat(lit("|"), array_join(filter(split(col("tok"), ""), c => c =!= ""), "|"),
                     lit("|")).as("ss"),
              col("n"))
    var cur = words
    var jobs = 0
    var rank = 0L
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val roundSizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var exhausted = false
    for (_ <- 0 until rounds if !exhausted) {
      val syms = filter(split(col("ss"), "\\|"), c => c =!= "")
      val pairsOf = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          j => struct(element_at(syms, j).as("lhs"),
                      element_at(syms, j + 1).as("rhs"))))
        .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
      val top = cur
        .select(col("n"), explode(pairsOf).as("pr"))
        .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
        .agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(candLimit).collect()
      jobs += 1
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val chosen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        for (r <- top if chosen.size < m) {
          val (l, rr) = (r.getString(0), r.getString(1))
          if (!used(l) && !used(rr)) {
            used += l; used += rr
            chosen += ((l, rr, r.getLong(2)))
          }
        }
        roundSizes += chosen.size
        for ((l, r, c) <- chosen) {
          merges += ((rank, l, r, c))
          rank += 1
          cur = cur.withColumn("ss",
            replace(col("ss"), lit(s"|$l|$r|"), lit(s"|$l$r|")))
        }
      }
    }
    (merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank"), jobs, roundSizes.toSeq)
  }

  /** Apply a learned BPE merge table ([[bpeMerges]] output) to the corpus
    * and report per-document subword counts — the tokenizer-encode stage
    * that consumes what t22 trains.
    *
    * The scale move: merges are applied to the DISTINCT-token vocabulary
    * (vocab-sized, not corpus-sized — `k` codegen'd `replace` passes over
    * one small table), then token occurrences join back to the encoded
    * vocab for per-doc sums. At 100 TB the corpus is never rewritten
    * `k` times; it pays one tokenize-explode + one join against a
    * vocabulary AQE broadcasts. The merge table itself is a model
    * artifact (`k` rows) pulled to the driver to become replace
    * literals — coordination, not a data collect.
    *
    * Same delimiter contract as [[bpeMerges]]: `|`-rendered symbol
    * strings, greedy left-to-right non-overlapping application (Spark
    * and DuckDB `replace` agree), delimiter-bearing tokens excluded.
    * Output per doc: whitespace-word count, post-merge subword count,
    * and mean subwords/word (floor-rounded 4dp).
    */
  def bpeEncode(docs: DataFrame, merges: DataFrame,
                textCol: String = "text"): DataFrame = {
    val ms = merges.select("merge_rank", "lhs", "rhs")
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val words = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"),
        explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("tok"))
      .filter(!col("tok").contains("|"))
    val vocab = words.select("tok").distinct()
      .withColumn("ss", concat(lit("|"),
        array_join(filter(split(col("tok"), ""), c => c =!= ""), "|"), lit("|")))
    val encoded = ms.foldLeft(vocab) { case (df, (l, r)) =>
      df.withColumn("ss", replace(col("ss"), lit(s"|$l|$r|"), lit(s"|$l$r|")))
    }.select(col("tok"),
      size(filter(split(col("ss"), "\\|"), c => c =!= "")).cast("long").as("n_syms"))
    words.join(encoded, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe_tokens"))
      .withColumn("syms_per_word",
        Num.roundTo(col("n_bpe_tokens").cast("double") / col("n_words"), 4))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed-n-gram features are under a
    * target domain than under the raw corpus — the data-selection stage
    * that upgrades uniform sampling when you have a small high-quality
    * target (here: the `targetLang` slice stands in for the target
    * domain).
    *
    * Features are token-unigram buckets: `bucket = fnv1a64(token) mod
    * nBuckets` — the SQL-replayable hash family shared with t3/x2/x3.
    * Per-bucket smoothed log-ratio `w[b] = ln(((tgt[b]+1)(T_r+B)) /
    * ((raw[b]+1)(T_t+B)))` uses ONE `ln` per bucket floor-rounded to 6dp
    * (the p7 discipline: a single correctly-rounded-input `ln` per
    * value hash-matches DuckDB), and per-doc weights sum `n·w` in exact
    * DECIMAL, so the result is partitioning- and order-independent.
    *
    * Scale shape: one tokenize-explode pass collapses to (doc, bucket)
    * counts with map-side combine; bucket tallies are `nBuckets` rows
    * cross-joined against a one-row total and broadcast back. Nothing
    * is all-pairs, nothing rescans the corpus.
    */
  def importanceWeights(docs: DataFrame, targetLang: String = "en",
                        nBuckets: Int = 256,
                        textCol: String = "text"): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), col("lang"),
        explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("tok"))
      .withColumn("bucket", pmod(call_function("fnv1a64", col("tok")), lit(nBuckets.toLong)))
    val docBuckets = toks.groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("n"))
    docBuckets.join(bucketWeights(docs, targetLang, nBuckets, textCol), "bucket")
      .groupBy("doc_id", "lang")
      .agg(sum("n").as("n_tokens"),
           sum(col("n").cast("decimal(18,0)") * col("w").cast("decimal(18,6)"))
             .cast("double").as("log_weight"))
      .orderBy("doc_id")
  }

  /** The DSIR per-BUCKET log-ratio weight table on its own — `nBuckets`
    * rows, computed once per corpus snapshot and staged like any model
    * artifact (the streaming twin bakes it into a literal map). Each
    * factor goes to double BEFORE the multiply: counts at corpus scale
    * overflow a long product, and double mul/div are correctly rounded
    * so both engines see the identical ln argument. */
  def bucketWeights(docs: DataFrame, targetLang: String = "en",
                    nBuckets: Int = 256, textCol: String = "text"): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col("lang"),
        explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("tok"))
      .withColumn("bucket", pmod(call_function("fnv1a64", col("tok")), lit(nBuckets.toLong)))
    val tallies = toks.groupBy("bucket")
      .agg(sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("n_t"),
           count(lit(1)).as("n_r"))
    val totals = tallies.agg(sum("n_t").as("tt"), sum("n_r").as("tr"))
    tallies.crossJoin(totals).select(col("bucket"),
      Num.roundTo(log(
        ((col("n_t") + lit(1L)).cast("double") * (col("tr") + lit(nBuckets.toLong)).cast("double")) /
        ((col("n_r") + lit(1L)).cast("double") * (col("tt") + lit(nBuckets.toLong)).cast("double"))), 6)
        .as("w"))
  }

  /** DSIR importance RESAMPLING — the step [[importanceWeights]] (t23)
    * exists to feed: keep each document with probability
    * exp(log_weight − max(log_weight)) — self-normalized against the
    * corpus max so the best-matched doc is kept with certainty and the
    * rest thin exponentially with distance from the target distribution.
    *
    * Determinism: the coin is a domain-separated content hash
    * (`isample:`), and the acceptance threshold is
    * floor(exp(lw − lw_max)·10⁹ + 0.5) — an integer both engines derive
    * from the identical (decimal-exact) log-weight difference, the one
    * exp per doc sitting under the same floor discipline as the t11/p7
    * ln calls. Map-only after the t23 aggregates plus one broadcast
    * one-row max; re-shard stable and replayable in SQL.
    */
  def importanceSample(docs: DataFrame, targetLang: String = "en",
                       nBuckets: Int = 256,
                       textCol: String = "text"): DataFrame = {
    val w = importanceWeights(docs, targetLang, nBuckets, textCol)
    val mx = w.agg(max(col("log_weight")).as("lw_max"))
    val u = pmod(call_function("fnv1a64", concat(lit("isample:"), col(textCol))),
                 lit(1000000000L))
    val thr = floor(exp(col("log_weight") - col("lw_max")) * lit(1.0e9) + lit(0.5))
      .cast("long")
    docs.select(col("doc_id"), col(textCol))
      .join(w, Seq("doc_id"))
      .crossJoin(broadcast(mx))
      .filter(u < thr)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("log_weight"))
      .orderBy("doc_id")
  }

  /** Text normalization — the pass that runs BEFORE any content hashing
    * (exact dedup, split assignment, fingerprinting), because hash keys
    * treat "a  b" and "a b" as different documents: collapse all
    * whitespace runs to single spaces, trim, and strip C0 control
    * characters. Map-only codegen'd regexps; normalized length comes
    * along for filter pipelines.
    */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("normalized",
        trim(regexp_replace(
          regexp_replace(col(textCol), "[\\x00-\\x08\\x0E-\\x1F]", ""),
          "\\s+", " ")))
      .withColumn("n_norm_chars", length(col("normalized")).cast("long"))

  /** END-TO-END corpus preparation — the full curation funnel a
    * training-data user runs as ONE composed DataFrame pipeline:
    * normalize ([[normalizeText]]) → exact-dedup on the NORMALIZED text
    * (whitespace-variant dups collapse; 8-byte hash keys, min-doc_id
    * survivor — the x1 rule) → model quality gate
    * ([[classifierScore]]'s fixed-weight sigmoid, keep ≥ 0.5) → chunk
    * accounting ([[chunk]]'s window formula). Returns the per-source
    * funnel report (n_raw → n_dedup → n_gated → n_chunks), all exact
    * integers — the corpus-health dashboard row, and the shape that
    * proves the stages COMPOSE: one lazy plan, no materialization
    * between stages, each stage's shuffle keyed as its standalone twin.
    */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keep = normalizeText(docs)
      .groupBy(xxhash64(col("normalized")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val surv = docs.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
    val gated = surv.join(
      classifierScore(surv).filter(col("clf_keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    // c2's chunk-count formula: ceil((n − overlap)/stride), ≥ 1
    val n = tokenCount(col("text"))
    val k = greatest(lit(1),
      ceil((n.cast("double") - 16) / 48.0).cast("int")).cast("long")
    val r1 = docs.groupBy("source").agg(count(lit(1)).as("n_raw"))
    val r2 = surv.groupBy("source").agg(count(lit(1)).as("n_dedup"))
    val r3 = gated.select(col("source"), k.as("k"))
      .groupBy("source").agg(count(lit(1)).as("n_gated"), sum(col("k")).as("n_chunks"))
    r1.join(r2, Seq("source"), "left").join(r3, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
              coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
              coalesce(col("n_gated"), lit(0L)).as("n_gated"),
              coalesce(col("n_chunks"), lit(0L)).as("n_chunks"))
      .orderBy("source")
  }

  /** Typo/variant clustering over the vocabulary: pairs of frequent terms
    * within `maxDist` edit distance (codegen'd `levenshtein`). The
    * vocabulary is bounded FIRST — a TakeOrdered top-`maxVocab` slice by
    * frequency, the same bounding discipline as [[vocabCoverage]] — so
    * the all-pairs comparison is maxVocab², a deliberate caller-set
    * budget, never corpus². (Unbounded fuzzy joins need LSH-style
    * q-gram blocking; for vocab-level typo mining the bounded exact form
    * is the right tool and the result is exact over that slice.)
    */
  def fuzzyTermPairs(docs: DataFrame, maxVocab: Int = 1000, maxDist: Int = 2,
                     textCol: String = "text"): DataFrame = {
    val freq = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
    val top = freq.orderBy(col("n").desc, col("term")).limit(maxVocab)
    val a = top.select(col("term").as("term_a"), col("n").as("n_a"))
    val b = top.select(col("term").as("term_b"), col("n").as("n_b"))
    a.join(b, col("term_a") < col("term_b") &&
              levenshtein(col("term_a"), col("term_b")) <= maxDist)
      .select(col("term_a"), col("term_b"),
        levenshtein(col("term_a"), col("term_b")).cast("long").as("dist"),
        col("n_a"), col("n_b"))
      .orderBy("term_a", "term_b")
  }

  /** Positional-inverted-index phrase search (t33): derive the `topQ`
    * most frequent token n-grams of the corpus (ties break
    * lexicographically, so the query set is deterministic and
    * self-contained), then count every occurrence of each phrase via the
    * positional index — the IR query plan, not a re-scan. Per phrase,
    * candidate starts come from the postings of its RAREST token only
    * (lowest corpus frequency, ties to the smallest offset — the reason
    * search engines intersect from the rarest term first), and each
    * candidate is verified by n equi-join lookups on (doc, position).
    *
    * Scale shape: the index is ONE posexplode of the corpus, shuffled by
    * its join keys; phrase tables are topQ / topQ×n rows (explicitly
    * broadcast — bounded by construction); candidate volume is bounded by
    * the rarest token's postings list, and the verification probe side is
    * candidates×n rows joined hash-on-(doc,pos) against the index — left
    * unhinted so AQE broadcasts it when the lead token is rare and
    * degrades to a shuffle join when a pathological phrase makes
    * candidates corpus-sized. Matches (case-folded, whitespace-split)
    * exact token sequences, the decontamination-probe semantics.
    */
  /** The `topQ` most frequent token n-grams of the corpus, ties broken
    * lexicographically — the deterministic query-set derivation shared by
    * [[phraseSearch]] (t33) and the streaming phrase gate (st24). A
    * TakeOrdered over the n-gram frequency table, never a global sort.
    */
  def topNgrams(docs: DataFrame, n: Int = 3, topQ: Int = 5,
                textCol: String = "text"): DataFrame = {
    require(n >= 2, "n must be >= 2")
    require(topQ >= 1, "topQ must be >= 1")
    val toksArr = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val grams = docs.select(toksArr.as("ts")).filter(size(col("ts")) >= n)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - (n - 1)),
        i => concat_ws(" ", slice(col("ts"), i, lit(n))))).as("phrase"))
    grams.groupBy("phrase").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("phrase")).limit(topQ)
  }

  def phraseSearch(docs: DataFrame, n: Int = 3, topQ: Int = 5,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    phraseSearchFromPostings(positionalSegment(docs, textCol, idCol),
      topNgrams(docs, n, topQ, textCol), n, idCol)

  /** The POSITIONAL index segment — the phrase-serving at-rest unit of
    * the retrieval family, the positions-bearing sibling of
    * [[indexSegment]]'s tf rows: `(doc_id, tokpos, tok)` with 1-based
    * positions, one map-only posexplode over ONLY the given docs (no
    * aggregation at all, so building a segment for a new batch is
    * O(batch) and the at-rest corpus postings are never rescanned).
    * Segments are doc-disjoint, so their UNION is row-identical to the
    * one-shot rebuild's postings — which is what makes add-then-phrase
    * ≡ rebuild-then-phrase exact ([[phraseSearchFromSegments]],
    * spec-pinned and gated by t33's oracle over the union corpus).
    */
  def positionalSegment(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val toksArr = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    docs.select(col(idCol), posexplode(toksArr).as(Seq("tp0", "tok")))
      .select(col(idCol), (col("tp0") + 1).cast("long").as("tokpos"), col("tok"))
  }

  /** The topQ most frequent n-grams derived FROM the positional index
    * itself — [[topNgrams]] without touching corpus text: consecutive
    * positions chain by n−1 equi-joins on (doc, position), so a
    * base+segments store can derive its own query set at rest. Postings
    * are the tokenized text verbatim (1-based positions from one
    * posexplode), so the derived set — counts, ties, ordering — is
    * EXACTLY [[topNgrams]]'s over the same docs.
    */
  def topNgramsFromPostings(postings: DataFrame, n: Int = 3, topQ: Int = 5,
                            idCol: String = "doc_id"): DataFrame = {
    require(n >= 2, "n must be >= 2")
    require(topQ >= 1, "topQ must be >= 1")
    val base = postings.select(col(idCol), col("tokpos").as("pos"), col("tok").as("g"))
    val grams = (1 until n).foldLeft(base) { (acc, i) =>
      acc.join(postings.select(col(idCol), (col("tokpos") - i).as("pos"),
          col("tok").as("nxt")), Seq(idCol, "pos"))
        .select(col(idCol), col("pos"), concat_ws(" ", col("g"), col("nxt")).as("g"))
    }
    grams.select(col("g").as("phrase"))
      .groupBy("phrase").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("phrase")).limit(topQ)
  }

  /** Phrase search THROUGH positional segments (t42 — the phrase twin
    * of t38's BM25-through-segments): the at-rest base postings plus
    * any number of added segments serve phrase queries together
    * WITHOUT a rebuild. Segments are doc-disjoint, so their union IS
    * the rebuild's positional index row for row — both the derived
    * query set ([[topNgramsFromPostings]], no corpus rescan) and every
    * match count are exactly the one-shot [[phraseSearch]]'s, and the
    * t33 oracle over the union corpus gates this plan verbatim.
    */
  def phraseSearchFromSegments(segments: Seq[DataFrame], n: Int = 3,
                               topQ: Int = 5, idCol: String = "doc_id"): DataFrame = {
    require(segments.nonEmpty, "segments must be non-empty")
    val postings = segments.reduce(_ unionByName _)
    phraseSearchFromPostings(postings,
      topNgramsFromPostings(postings, n, topQ, idCol), n, idCol)
  }

  /** Phrase search in TOMBSTONE mode after a delete (t44 — t43's
    * positional sibling, closing the takedown story for BOTH serving
    * paths): the at-rest positional segments are NOT rewritten —
    * deleted docs' postings are skipped by ONE serve-time anti-join on
    * the delete list, and everything downstream (the index-native
    * query-set derivation included) sees exactly the retained corpus's
    * postings, so matches AND the derived phrases equal a rebuild over
    * the retained docs bit for bit — t33's oracle over the retained
    * corpus gates the plan verbatim. Unlike BM25 (t43) there are no
    * global statistics to maintain: phrase counts are per-doc, so the
    * anti-join is the entire takedown cost.
    */
  def phraseSearchTombstone(segments: Seq[DataFrame], deleteDocs: DataFrame,
                            n: Int = 3, topQ: Int = 5,
                            idCol: String = "doc_id"): DataFrame = {
    require(segments.nonEmpty, "segments must be non-empty")
    val delKeys = deleteDocs.select(col(idCol)).distinct()
    val postings = segments.reduce(_ unionByName _)
      .join(delKeys, Seq(idCol), "left_anti")
    phraseSearchFromPostings(postings,
      topNgramsFromPostings(postings, n, topQ, idCol), n, idCol)
  }

  /** t33's candidate/verify query plan over any postings source — the
    * shared core of [[phraseSearch]] (postings built inline) and
    * [[phraseSearchFromSegments]] (postings unioned from at-rest
    * segments). Candidates come from the postings of each phrase's
    * RAREST token only; each candidate is verified by n equi-join
    * lookups on (doc, position).
    */
  private[ops] def phraseSearchFromPostings(postings: DataFrame,
                                            topPhrases: DataFrame, n: Int,
                                            idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val phraseToks = topPhrases
      .select(col("phrase"), posexplode(split(col("phrase"), " ")).as(Seq("off0", "ptok")))
      .select(col("phrase"), col("off0").cast("long").as("off"), col("ptok"))
    // lead with the rarest token of each phrase
    val tokFreq = postings.groupBy("tok").agg(count(lit(1)).as("tf"))
    val byRarity = Window.partitionBy(col("phrase")).orderBy(col("tf"), col("off"))
    val lead = broadcast(phraseToks).join(tokFreq, col("ptok") === col("tok"))
      .withColumn("rk", row_number().over(byRarity)).filter(col("rk") === 1)
      .select(col("phrase"), col("off").as("lead_off"), col("ptok").as("lead_tok"))
    val candidates = postings.join(broadcast(lead), col("tok") === col("lead_tok"))
      .select(col("phrase"), col(idCol), (col("tokpos") - col("lead_off")).as("start"))
    // verification: n positional lookups per candidate against the index
    val probes = candidates.join(broadcast(phraseToks), Seq("phrase"))
      .select(col("phrase"), col(idCol), col("start"),
        (col("start") + col("off")).as("probe_pos"), col("ptok"))
    val index = postings.select(
      col(idCol).as("i_doc"), col("tokpos").as("i_pos"), col("tok").as("i_tok"))
    val hitStarts = probes.join(index,
        col(idCol) === col("i_doc") && col("probe_pos") === col("i_pos") &&
        col("ptok") === col("i_tok"))
      .groupBy(col("phrase"), col(idCol), col("start"))
      .agg(count(lit(1)).as("found"))
      .filter(col("found") === n)
    hitStarts.groupBy(col("phrase"), col(idCol))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("phrase"), col(idCol))
  }

  /** BM25 top-k retrieval (t34) — the ranking face of the t33 index:
    * each derived phrase becomes a bag-of-terms query (the
    * [[topNgrams]] set, so the workload is deterministic and
    * self-contained) scored with Okapi BM25 (k1=1.2, b=0.75) over the
    * term-frequency index, top `k` docs per query by (score desc, id).
    *
    * Determinism discipline: every per-term partial is rounded to 6 dp
    * FIRST ([[Num.roundTo]]) and the per-doc score is the DECIMAL sum
    * of those 6 dp partials ([[Num.exactSum]]) — float addition order
    * can never move a score, so ranks are stable under any partitioning
    * and the oracle replays bit-for-bit. Scale shape: the index is two
    * map-side-combined aggregations (tf, df); queries are topQ rows;
    * scoring touches only the postings of query terms; the per-query
    * top-k is a WindowGroupLimit-pruned rank, never a global sort.
    */
  def bm25TopK(docs: DataFrame, n: Int = 3, topQ: Int = 5, k: Int = 10,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (tfs, lens) = indexSegment(docs, textCol, idCol)
    val dfs = tfs.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    bm25ScoreTopK(tfs, dfs, lens, stats,
      bm25QueryToks(docs, n, topQ, textCol), k, idCol)
  }

  /** The tf-index SEGMENT — the at-rest unit of the t33–t38 retrieval
    * family (what a Lucene segment is to its index): `(tok, doc_id,
    * tf)` term frequencies plus `(doc_id, dl)` document lengths, both
    * map-side-combined aggregations over ONLY the given docs. Building
    * a segment for a new document batch is O(batch) — the at-rest
    * corpus index is never rescanned — and because segments hold
    * doc-disjoint rows, every global BM25 statistic (df, N, Σdl) is
    * the exact SUM of per-segment statistics, which is what makes
    * add-then-query ≡ rebuild-then-query exact
    * ([[bm25TopKFromSegments]], spec-pinned).
    */
  def indexSegment(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val toksArr = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val tokBase = docs.select(col(idCol), toksArr.as("ts"))
    val lens = tokBase.select(col(idCol), size(col("ts")).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val tfs = tokBase.select(col(idCol), explode(col("ts")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    (tfs, lens)
  }

  /** The deterministic derived query workload shared by t34/t35/t38:
    * each topQ phrase as a distinct bag of terms. */
  def bm25QueryToks(docs: DataFrame, n: Int = 3, topQ: Int = 5,
                    textCol: String = "text"): DataFrame =
    topNgrams(docs, n, topQ, textCol)
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("tok")).distinct()

  /** BM25 top-k THROUGH the segmented index (t38 — the retrieval
    * analog of v29's post-retrain search): the at-rest base segment
    * plus any number of added segments serve queries together WITHOUT
    * a rebuild. Global statistics merge by pure sums over per-segment
    * aggregates (segments are doc-disjoint: df adds, N adds, Σdl
    * adds), so the scores — and therefore the ranks — are EXACTLY the
    * single-segment rebuild's, not an approximation; the t34 oracle
    * over the union corpus gates this plan verbatim. Scale: stat
    * merging touches per-segment aggregate rows only; scoring touches
    * only the query terms' postings in each segment.
    */
  def bm25TopKFromSegments(segments: Seq[(DataFrame, DataFrame)],
                           qToks: DataFrame, k: Int = 10,
                           idCol: String = "doc_id"): DataFrame = {
    require(segments.nonEmpty, "segments must be non-empty")
    val tfs = segments.map(_._1).reduce(_ unionByName _)
    val dfs = segments.map(_._1.groupBy("tok").agg(count(lit(1)).as("df")))
      .reduce(_ unionByName _)
      .groupBy("tok").agg(sum(col("df")).as("df"))
    val lens = segments.map(_._2).reduce(_ unionByName _)
    val stats = segments.map(
        _._2.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot")))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot")).as("tot"))
    bm25ScoreTopK(tfs, dfs, lens, stats, qToks, k, idCol)
  }

  /** BM25 top-k in TOMBSTONE mode after a delete (t43 — the retrieval
    * twin of v31's post-delete serving, and the serving face of t40's
    * report): the at-rest segments are NOT rewritten — deleted docs are
    * skipped at serve time by one anti-join on the delete list, and
    * every global statistic is the base aggregate MINUS the deleted
    * docs' own contribution (df adjusts per token from an O(deleted
    * postings) semi-join count; N and Σdl subtract the deleted lens
    * sums). Because the retained postings and the subtracted integer
    * stats are EXACTLY what a rebuild over the retained corpus would
    * produce, scores and ranks equal the rebuild's bit for bit — the
    * t34 oracle over the retained corpus gates this plan verbatim, and
    * a spec pins tombstone ≡ rebuild directly. Scale: the segment
    * store stays byte-identical at rest (the cheap right-to-erasure
    * path t40's integer rule recommends until deletes pile up);
    * serve-time cost adds one anti-join and one O(deleted-postings)
    * aggregation to t38's plan.
    */
  def bm25TopKTombstone(segments: Seq[(DataFrame, DataFrame)],
                        deleteDocs: DataFrame, qToks: DataFrame, k: Int = 10,
                        idCol: String = "doc_id"): DataFrame = {
    require(segments.nonEmpty, "segments must be non-empty")
    val delKeys = deleteDocs.select(col(idCol)).distinct()
    val tfsAll = segments.map(_._1).reduce(_ unionByName _)
    val tfs = tfsAll.join(delKeys, Seq(idCol), "left_anti")
    // df maintenance: per-segment sums minus the deleted docs' postings
    val dfsBase = segments.map(_._1.groupBy("tok").agg(count(lit(1)).as("df")))
      .reduce(_ unionByName _)
      .groupBy("tok").agg(sum(col("df")).as("df"))
    val dfsDel = tfsAll.join(delKeys, Seq(idCol), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("ddf"))
    val dfs = dfsBase.join(dfsDel, Seq("tok"), "left")
      .select(col("tok"),
        (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val lensAll = segments.map(_._2).reduce(_ unionByName _)
    val lens = lensAll.join(delKeys, Seq(idCol), "left_anti")
    val statsBase = segments.map(
        _._2.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot")))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot")).as("tot"))
    val statsDel = lensAll.join(delKeys, Seq(idCol), "left_semi")
      .agg(count(lit(1)).as("dn"), coalesce(sum(col("dl")), lit(0L)).as("dtot"))
    val stats = statsBase.crossJoin(statsDel)
      .select((col("n_docs") - col("dn")).as("n_docs"),
        (col("tot") - col("dtot")).as("tot"))
    bm25ScoreTopK(tfs, dfs, lens, stats, qToks, k, idCol)
  }

  /** The shared BM25 scoring tail (t34's ranking over any index
    * source): per-term 6dp-rounded partials, decimal per-doc sums,
    * WindowGroupLimit-pruned per-query top-k. `private[ops]` so specs
    * can pin that SUBTRACTED global stats (the t40 delete path) serve
    * identically to a recompute. */
  private[ops] def bm25ScoreTopK(tfs: DataFrame, dfs: DataFrame, lens: DataFrame,
                                 stats: DataFrame, qToks: DataFrame, k: Int,
                                 idCol: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val scored = broadcast(qToks).join(tfs, Seq("tok"))
      .join(dfs, Seq("tok"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
    val avgdl = col("tot").cast("double") / col("n_docs").cast("double")
    val idf = log(
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val term = Num.roundTo(
      idf * ((col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl").cast("double")) / avgdl))), 6)
    val perDoc = scored.select(col("phrase"), col(idCol), term.as("ts6"))
      .groupBy(col("phrase"), col(idCol))
      .agg(Num.exactSum(col("ts6")).as("score"))
    val byScore = Window.partitionBy(col("phrase")).orderBy(col("score").desc, col(idCol))
    perDoc.withColumn("rank", row_number().over(byScore)).filter(col("rank") <= k)
      .select(col("phrase"), col("rank").cast("long").as("rank"), col(idCol), col("score"))
      .orderBy(col("phrase"), col("rank"))
  }

  /** HYBRID RETRIEVAL FUSION (t35) — reciprocal-rank fusion (Cormack,
    * Clarke & Buettcher, SIGIR 2009) of the two rankers the index
    * already supports: [[bm25TopK]]'s bag-of-terms relevance and an
    * exact-phrase occurrence ranking (docs ordered by how often the
    * phrase literally appears — the t33 match counts). Each derived
    * query's fused score is Σ 1/(kRrf + rank) over the lists the doc
    * appears in (missing list contributes 0 — standard RRF over the
    * union of top-k lists), re-ranked to the final top `k`.
    *
    * Determinism: each reciprocal is one division on a small-integer
    * rank; the two-term sum is a fixed-shape expression both engines
    * evaluate identically, floor-rounded to 6 dp before ranking, ties
    * broken by doc_id — ranks can never move between engines or
    * partitionings. Scale: both input rankings are already top-k-per-
    * query (WindowGroupLimit-pruned), so the fusion joins and re-ranks
    * O(queries · k) rows — free at any corpus size; the corpus-touching
    * work is the two rankers' own (bounded) plans.
    */
  def hybridRrfTopK(docs: DataFrame, n: Int = 3, topQ: Int = 5, k: Int = 10,
                    kRrf: Int = 60, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(kRrf >= 1, "kRrf must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val bm = bm25TopK(docs, n, topQ, k, textCol, idCol)
      .select(col("phrase"), col(idCol), col("rank").as("r_bm"))
    // exact-phrase ranking: per-doc occurrence counts of each derived
    // phrase (the t33/st24 n-gram counts), top k by (count desc, id)
    val toksArr = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val grams = docs.select(col(idCol), toksArr.as("ts")).filter(size(col("ts")) >= n)
      .select(col(idCol), explode(transform(sequence(lit(1), size(col("ts")) - (n - 1)),
        i => concat_ws(" ", slice(col("ts"), i, lit(n))))).as("phrase"))
    val topPhrases = topNgrams(docs, n, topQ, textCol).select("phrase")
    val counts = grams.join(broadcast(topPhrases), Seq("phrase"))
      .groupBy(col("phrase"), col(idCol))
      .agg(count(lit(1)).as("n_matches"))
    val byMatches = Window.partitionBy(col("phrase"))
      .orderBy(col("n_matches").desc, col(idCol))
    val mr = counts.withColumn("r_m", row_number().over(byMatches))
      .filter(col("r_m") <= k).select(col("phrase"), col(idCol), col("r_m"))
    val fused = bm.join(mr, Seq("phrase", idCol), "full_outer")
    val rrf = Num.roundTo(
      coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_bm").cast("double")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_m").cast("double")), lit(0.0)), 6)
    val byRrf = Window.partitionBy(col("phrase"))
      .orderBy(col("rrf6").desc, col(idCol))
    fused.withColumn("rrf6", rrf)
      .withColumn("rank", row_number().over(byRrf)).filter(col("rank") <= k)
      .select(col("phrase"), col("rank").cast("long").as("rank"), col(idCol),
        col("rrf6").as("rrf_score"),
        col("r_bm").cast("long").as("bm25_rank"),
        col("r_m").cast("long").as("match_rank"))
      .orderBy(col("phrase"), col("rank"))
  }

  /** INVERTED-INDEX LAYOUT report (t36) — the at-rest design row for
    * the t33/t34 index (what v21 is for the IVF store): per posting
    * list, the storage cost of sorted-docid DELTA + VARINT encoding
    * (the standard inverted-index layout — 7-bit groups, gap-encoded)
    * against raw 8-byte ids, for the `topTerms` longest lists plus the
    * whole-index ALL row. The report a team reads before choosing the
    * index's storage layout: long (frequent-term) lists have small
    * gaps and compress hardest — exactly the lists that dominate
    * storage and scan cost at corpus scale.
    *
    * Determinism: gap widths are integer CASE thresholds (128^j), the
    * first gap is doc_id+1 (so every encoded value is ≥ 1) — pure
    * integer arithmetic, replayed byte for byte. Scale: one
    * postings-sized shuffle (the per-term lag window — the same
    * distribution the index build itself needs, so at 100 TB this
    * report rides the build's exchange), then map-side-combined sums.
    */
  /** Varint byte width of a positive long gap — the full 64-bit 128^j
    * threshold table (7-bit groups; gaps >= 2^56 take the 9-byte
    * maximum). The r15 ADVICE fix: the earlier 5-byte cap understated
    * storage for doc_id gaps >= 2^35. Shared by [[indexLayoutReport]]
    * (t36) and [[indexAddReport]] (t37); the oracle SQL mirrors the
    * same CASE chain.
    */
  private def varintWidth(delta: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(delta < 128L, 1L)
      .when(delta < 16384L, 2L)
      .when(delta < 2097152L, 3L)
      .when(delta < 268435456L, 4L)
      .when(delta < 34359738368L, 5L)
      .when(delta < 4398046511104L, 6L)
      .when(delta < 562949953421312L, 7L)
      .when(delta < 72057594037927936L, 8L)
      .otherwise(9L)

  def indexLayoutReport(docs: DataFrame, topTerms: Int = 50,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    require(topTerms >= 1, "topTerms must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val toksArr = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val postings = docs.select(col(idCol), explode(toksArr).as("tok")).distinct()
    val w = Window.partitionBy(col("tok")).orderBy(col(idCol))
    val gaps = postings
      .withColumn("prev", lag(col(idCol), 1).over(w))
      .withColumn("delta",
        when(col("prev").isNull, col(idCol) + 1).otherwise(col(idCol) - col("prev")))
    val perTerm = gaps.withColumn("vb", varintWidth(col("delta")))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_postings"), sum(col("vb")).as("varint_bytes"))
    val top = perTerm
      .orderBy(col("n_postings").desc, col("tok")).limit(topTerms)
      .select(col("tok").as("scope"), col("n_postings"), col("varint_bytes"))
    val all = perTerm.agg(
        sum(col("n_postings")).as("n_postings"),
        sum(col("varint_bytes")).as("varint_bytes"))
      .select(lit("ALL").as("scope"), col("n_postings"), col("varint_bytes"))
    top.unionByName(all)
      .select(col("scope"), col("n_postings"),
        (col("n_postings") * 8L).as("raw_bytes"), col("varint_bytes"),
        Num.roundTo((col("n_postings") * 8L).cast("double") /
          col("varint_bytes").cast("double"), 6).as("compression"))
      .orderBy("scope")
  }

  /** INDEX ADD + segment-merge/compaction report (t37) — the retrieval
    * family's maintenance lifecycle row, mirroring the IVF family's
    * v26 add report: a new document batch arrives as its own tf
    * SEGMENT ([[indexSegment]], built O(batch) — the at-rest base
    * index is never rescanned), and this report tells the operator
    * what the add did and whether compaction or a rebuild pays. One
    * row per scope:
    *
    *   - `base`    — the at-rest corpus segment as it stands;
    *   - `add`     — the new batch's segment on its own;
    *   - `merged`  — the two compacted into one segment (posting lists
    *     re-delta'd across the doc_id interleave — the Lucene-style
    *     segment merge, O(index postings), corpus text untouched).
    *
    * Columns: doc/term/posting counts, `n_new_terms` (dictionary
    * growth: add-segment terms unseen in base), `varint_bytes` (the
    * t36 at-rest layout cost of the scope's own lists),
    * `merge_gain_bytes` (bytes compaction recovers: separate-segment
    * cost minus merged cost — interleaved ids shrink deltas and the
    * per-segment first-gap overhead collapses), and the DRIFT RULE
    * `rebuild_recommended`: integer-exact `rebuildNum · |add postings|
    * >= |base postings|` (default: the add half reaching a quarter of
    * the base says merge now) — the t37 analog of v27's retrain flag.
    *
    * Scale: all three scopes' delta chains ride ONE window exchange
    * over the scope-tagged postings (≈ 2× index size — the same
    * distribution the index build itself needs); everything after is
    * map-side-combined sums. Segments hold doc-disjoint rows by
    * contract (the caller splits by doc set), so counts add exactly.
    */
  def indexAddReport(baseTfs: DataFrame, addTfs: DataFrame,
                     rebuildNum: Int = 4,
                     idCol: String = "doc_id"): DataFrame = {
    require(rebuildNum >= 1, "rebuildNum must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val b = baseTfs.select(col("tok"), col(idCol))
    val a = addTfs.select(col("tok"), col(idCol))
    val scoped = b.withColumn("scope", lit("base"))
      .unionByName(a.withColumn("scope", lit("add")))
      .unionByName(b.unionByName(a).withColumn("scope", lit("merged")))
    val w = Window.partitionBy(col("scope"), col("tok")).orderBy(col(idCol))
    val gaps = scoped
      .withColumn("prev", lag(col(idCol), 1).over(w))
      .withColumn("delta",
        when(col("prev").isNull, col(idCol) + 1).otherwise(col(idCol) - col("prev")))
    val per = gaps.withColumn("vb", varintWidth(col("delta")))
      .groupBy(col("scope"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        countDistinct(col("tok")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(col("vb")).as("varint_bytes"))
    val newTerms = a.select("tok").distinct()
      .join(b.select("tok").distinct(), Seq("tok"), "left_anti")
      .agg(count(lit(1)).as("n_new_terms"))
    val totals = per.agg(
      sum(when(col("scope") === "base", col("varint_bytes"))).as("vb_base"),
      sum(when(col("scope") === "add", col("varint_bytes"))).as("vb_add"),
      sum(when(col("scope") === "merged", col("varint_bytes"))).as("vb_merged"),
      sum(when(col("scope") === "base", col("n_postings"))).as("np_base"),
      sum(when(col("scope") === "add", col("n_postings"))).as("np_add"))
    per.crossJoin(broadcast(totals)).crossJoin(broadcast(newTerms))
      .select(col("scope"), col("n_docs"), col("n_terms"),
        when(col("scope") === "base", lit(0L))
          .otherwise(col("n_new_terms")).as("n_new_terms"),
        col("n_postings"), col("varint_bytes"),
        when(col("scope") === "merged",
          col("vb_base") + col("vb_add") - col("vb_merged"))
          .otherwise(lit(0L)).as("merge_gain_bytes"),
        when(col("scope") === "merged",
          lit(rebuildNum.toLong) * col("np_add") >= col("np_base"))
          .otherwise(lit(false)).as("rebuild_recommended"))
      .orderBy("scope")
  }

  /** Segment COMPACTION (c29) — the ACT t37's drift rule recommends,
    * mirroring v28's IVF re-layout: the segments union into ONE at-rest
    * store, range-partitioned by term and sorted (tok, doc_id) within
    * partitions — the sorted-run layout delta+varint encoding wants,
    * with each term's posting list contiguous. Cost is one
    * index-postings-sized shuffle + sort; corpus text is never read.
    * The caller writes the returned frame to the store path.
    */
  def compactSegments(segments: Seq[DataFrame],
                      idCol: String = "doc_id"): DataFrame = {
    require(segments.nonEmpty, "segments must be non-empty")
    segments.reduce(_ unionByName _)
      .repartitionByRange(col("tok"), col(idCol))
      .sortWithinPartitions("tok", idCol)
  }

  /** Post-compaction report (c29's gate face): the t36 varint layout of
    * the COMPACTED store read back from disk, beside the cost of the
    * separate segments it replaced. Because the report derives from
    * re-reading the store, the oracle comparison certifies the
    * compaction WRITE (content-complete, nothing duplicated), not just
    * the plan: n_docs/n_terms/n_postings must equal the segments'
    * union and `merge_gain_bytes = before − after` is non-negative
    * whenever interleaving shrinks deltas or first-gap overhead
    * collapses.
    */
  def indexCompactReport(compacted: DataFrame, segments: Seq[DataFrame],
                         idCol: String = "doc_id"): DataFrame = {
    require(segments.nonEmpty, "segments must be non-empty")
    import org.apache.spark.sql.expressions.Window
    def layout(df: DataFrame) = {
      val w = Window.partitionBy(col("tok")).orderBy(col(idCol))
      df.select(col("tok"), col(idCol))
        .withColumn("prev", lag(col(idCol), 1).over(w))
        .withColumn("delta",
          when(col("prev").isNull, col(idCol) + 1).otherwise(col(idCol) - col("prev")))
        .agg(countDistinct(col(idCol)).as("n_docs"),
          countDistinct(col("tok")).as("n_terms"),
          count(lit(1)).as("n_postings"),
          sum(varintWidth(col("delta"))).as("varint_bytes"))
    }
    val after = layout(compacted)
    val before = segments.map(layout)
      .reduce(_ unionByName _)
      .agg(sum(col("varint_bytes")).as("varint_bytes_before"))
    after.crossJoin(broadcast(before))
      .select(col("n_docs"), col("n_terms"), col("n_postings"),
        col("varint_bytes"), col("varint_bytes_before"),
        (col("varint_bytes_before") - col("varint_bytes")).as("merge_gain_bytes"))
  }

  /** INDEX DELETE report (t40) — t37's other face, the
    * takedown/right-to-erasure path every at-rest corpus store needs:
    * a delete-list of doc ids arrives against the at-rest index, and
    * the report says what removal does WITHOUT rescanning the corpus —
    * the deleted postings fall out of one semi-join against the
    * delete-list (O(|delete| · avg postings) rows), the retained index
    * out of the anti-join. One row per scope (`base` the at-rest
    * index, `delete` the postings leaving, `after` what remains), with
    * `n_vanished_terms` (dictionary shrink: terms whose last posting
    * left) and the integer tombstone-vs-rewrite rule
    * `rewrite_recommended = rebuildDen · |delete postings| >=
    * |base postings|` (default: deletes reaching an eighth of the
    * index say rewrite now; below that, tombstones are cheaper). All
    * three delta chains ride ONE window exchange over the scope-tagged
    * postings (≈ 2× index size, since delete + after partition base).
    * Because segments are doc-disjoint, every global BM25 statistic of
    * the retained index is the exact DIFFERENCE of base and delete
    * stats — delete-then-query ≡ rebuild-on-retained, spec-pinned via
    * [[bm25ScoreTopK]] with subtracted stats.
    */
  def indexDeleteReport(baseTfs: DataFrame, deleteDocs: DataFrame,
                        rebuildDen: Int = 8,
                        idCol: String = "doc_id"): DataFrame = {
    require(rebuildDen >= 1, "rebuildDen must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val b = baseTfs.select(col("tok"), col(idCol))
    val ids = deleteDocs.select(col(idCol))
    val dl = b.join(ids, Seq(idCol), "left_semi")
    val af = b.join(ids, Seq(idCol), "left_anti")
    val scoped = b.withColumn("scope", lit("base"))
      .unionByName(dl.withColumn("scope", lit("delete")))
      .unionByName(af.withColumn("scope", lit("after")))
    val w = Window.partitionBy(col("scope"), col("tok")).orderBy(col(idCol))
    val per = scoped
      .withColumn("prev", lag(col(idCol), 1).over(w))
      .withColumn("delta",
        when(col("prev").isNull, col(idCol) + 1).otherwise(col(idCol) - col("prev")))
      .withColumn("vb", varintWidth(col("delta")))
      .groupBy(col("scope"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        countDistinct(col("tok")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(col("vb")).as("varint_bytes"))
    val totals = per.agg(
      sum(when(col("scope") === "base", col("n_terms"))).as("nt_base"),
      sum(when(col("scope") === "after", col("n_terms"))).as("nt_after"),
      sum(when(col("scope") === "base", col("n_postings"))).as("np_base"),
      sum(when(col("scope") === "delete", col("n_postings"))).as("np_delete"))
    per.crossJoin(broadcast(totals))
      .select(col("scope"), col("n_docs"), col("n_terms"), col("n_postings"),
        col("varint_bytes"),
        when(col("scope") === "after", col("nt_base") - col("nt_after"))
          .otherwise(lit(0L)).as("n_vanished_terms"),
        when(col("scope") === "after",
          lit(rebuildDen.toLong) * col("np_delete") >= col("np_base"))
          .otherwise(lit(false)).as("rewrite_recommended"))
      .orderBy("scope")
  }

  /** TIERED segment-merge policy (t39) — the PLANNING rule between
    * t37's binary add/merge report and a real log-structured index
    * lifecycle (the exact-arithmetic core of Lucene's
    * TieredMergePolicy): segments bucket into size tiers by the
    * integer log2 of their posting count — computed as binary-string
    * length − 1 (`bin()`), so no float log ever decides a tier — and
    * any tier holding ≥ `mergeFactor` segments is recommended for
    * compaction ([[compactSegments]] is the act). One row per segment:
    * stats, tier, tier population, flag. Scale: O(|segments|)
    * aggregate rows end to end — the corpus is never touched beyond
    * the per-segment stats the store already keeps, which is the whole
    * point of a merge POLICY as opposed to a merge.
    */
  def mergePolicy(segStats: DataFrame, mergeFactor: Int = 3): DataFrame = {
    require(mergeFactor >= 2, "mergeFactor must be >= 2")
    val tiered = segStats.select(col("seg_id"), col("n_docs"),
      col("n_postings"), (length(bin(col("n_postings"))) - 1).cast("long").as("tier"))
    val pops = tiered.groupBy("tier").agg(count(lit(1)).as("n_in_tier"))
    tiered.join(broadcast(pops), Seq("tier"))
      .select(col("seg_id"), col("n_docs"), col("n_postings"), col("tier"),
        col("n_in_tier"),
        (col("n_in_tier") >= mergeFactor).as("merge_recommended"))
      .orderBy("seg_id")
  }

  /** PADDING-MINIMIZING shard packing (c30) — the assignment problem
    * c4's concat-and-chop sidesteps: distribute docs across `nBins`
    * training shards so per-shard token totals equalize (synchronous
    * data-parallel steps wait for the FULLEST shard; spread is pure
    * padding/idle). Docs rank by token length DESCENDING and deal to
    * shards in SNAKE order — pass 0 left-to-right, pass 1
    * right-to-left, … — the deterministic distributed approximation of
    * greedy least-loaded LPT (each two-pass round gives every shard
    * one long+one short doc, bounding spread by one doc per round
    * without LPT's sequential state). The rank is a [[Prefix]] row
    * count (no single-task window); the assignment is two integer DIV/MODs the oracle replays. Output:
    * per-shard fill report — docs, tokens, padding vs the fullest
    * shard, 6dp fill ratio.
    */
  def binPackShards(docs: DataFrame, nBins: Int = 16,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
    val per = Prefix.sums(toks, Nil, Seq(col("n_tokens").desc, col(idCol)), "rows" -> lit(1L))
      .withColumn("rank", col("rows_cum") - 1L)
      .withColumn("shard", expr(
        s"CAST(CASE WHEN (rank DIV $nBins) % 2 = 0 THEN rank % $nBins " +
          s"ELSE ${nBins - 1} - rank % $nBins END AS BIGINT)"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    val bounds = per.agg(max(col("total_tokens")).as("max_tokens"))
    per.crossJoin(broadcast(bounds))
      .select(col("shard"), col("n_docs"), col("total_tokens"),
        (col("max_tokens") - col("total_tokens")).as("padding_tokens"),
        Num.roundTo(col("total_tokens").cast("double") /
          col("max_tokens").cast("double"), 6).as("fill"))
      .orderBy("shard")
  }

  /** Corpus-level language/source profile: aggregation shape. */
  def corpusProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(length(col("text"))).cast("long").as("total_chars"),
           Num.roundTo(sum(length(col("text"))).cast("double") / count(lit(1)), 4).as("avg_chars"))
      .orderBy("lang", "source")
}
