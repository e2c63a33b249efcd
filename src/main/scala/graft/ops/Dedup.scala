package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines, over `documents`.
  *
  * Four families, in increasing fuzziness:
  *   - exact: hash group-by on the full text
  *   - MinHash + LSH banding: near-dup by Jaccard over shingles
  *   - SimHash: near-dup by Hamming distance over a 64-bit sketch
  *   - n-gram Jaccard: exact pairwise Jaccard via shared-shingle join
  *
  * Scale design: signatures (minhash/simhash) are computed as pure
  * higher-order-function expressions over the shingle array — map-only,
  * no explode, no UDF, whole-stage-codegen'd. The only shuffles are the
  * LSH band-bucket group-bys, which move (band_hash, doc_id) pairs — tiny
  * compared to the corpus. At 100 TB the band tables are orders of
  * magnitude smaller than the text; candidate verification touches only
  * bucket collisions, never the full cross product.
  */
object Dedup {

  /** Exact dedup: keep the smallest doc_id per identical text. Determinism
    * is why this is groupBy+min rather than dropDuplicates (which keeps an
    * arbitrary row). Group-by on a hashed key: to avoid shuffling full
    * document bodies at scale we aggregate on xxhash64(text) and carry the
    * text through the min-struct, so the shuffle key is 8 bytes.
    */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping full rows: representative row (min id) per text. */
  def exactRows(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keyed = df.withColumn("__h", xxhash64(col(textCol)))
    val keep = keyed.groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
    keyed.join(keep, Seq("__h", idCol), "left_semi").drop("__h")
  }

  /** Per-source duplication profile — the corpus-health report run
    * before spending compute on pair generation: exact-duplicate rate
    * per source from distinct-text counts. Keyed on xxhash64(text) like
    * [[exact]] (8-byte distinct, never the body). At extreme scale the
    * `approx_count_distinct` twin drops the distinct shuffle entirely.
    */
  def dupProfile(docs: DataFrame, sourceCol: String = "source",
                 textCol: String = "text"): DataFrame =
    docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(xxhash64(col(textCol))).as("n_distinct_texts"))
      .select(col(sourceCol), col("n_docs"), col("n_distinct_texts"),
        Num.roundTo((col("n_docs") - col("n_distinct_texts")).cast("double")
          / col("n_docs"), 6).as("dup_rate"))
      .orderBy(sourceCol)

  /** Corpus boilerplate detection: w-shingles appearing in ≥ minDf
    * DISTINCT documents — the repeated headers/footers/disclaimers a
    * training pipeline strips before dedup (near-dup scoring counts them
    * as similarity; quality scoring counts them as fluent text; both are
    * wrong). The readable string form of the OUTPUT is deliberate — the
    * result is an action list for humans and strip rules — but no string
    * crosses a shuffle to produce it: document frequency is aggregated
    * on the codegen'd 8-byte [[shingleHashes]] keys (the only corpus-wide
    * exchange), and the readable strings are recovered by re-deriving
    * each string shingle's hash with the same splitmix64∘fnv1a64
    * arithmetic (identical on BOTH sides since ShingleUtil folds code
    * points — see its scaladoc) and joining against the df ≥ minDf
    * survivors. The survivor join is deliberately UN-hinted: at test
    * scale AQE broadcasts it (the plan spec pins that no string-keyed
    * exchange runs), while on a web corpus — where most shingles clear
    * df = 5 and the survivor set is corpus-scale, not "tiny" — a forced
    * broadcast would OOM the driver; un-hinted it degrades to a long-
    * keyed shuffle join, which is the correct worst case. At 100 TB the
    * old formulation shuffled the whole corpus as w-word STRINGS for a
    * tiny result; this one moves longs on the df pass, and survivors are
    * the only strings that can reach an exchange.
    */
  def boilerplate(docs: DataFrame, minDf: Int = 5, w: Int = 3,
                  textCol: String = "text"): DataFrame = {
    // the fixture parquet is one row group -> a 1-task scan, and both
    // passes' per-occurrence shingle hashing is the query's CPU (pass 2
    // measured as a single 5.9 s serial stage); widen the text stream to
    // the session's cores before the explode (guide: repartition after
    // an unsplittable read). A corpus that scans wider keeps its width.
    val wide = graft.Sizing.widen(docs.select(col(textCol)), graft.Sizing.cores(docs.sparkSession))
    // pass 1: df per hashed shingle — 8-byte shuffle keys, map-side partials
    val dfs = wide.select(explode(shingleHashes(col(textCol), w)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    // pass 2: recover the readable survivor strings. A string shingle is
    // its lowercased tokens joined by a single space, so splitting on " "
    // returns the exact token sequence; its hash is the same
    // splitmix64(h ^ fnv1a64(token)) fold ShingleUtil runs (the dupSpans
    // replay arithmetic). Zero-token docs yield the "" shingle whose hash
    // is the fold seed 0 (split("", " ") would emit a phantom "" token).
    val hashOfShingle =
      when(col("shingle") === "", lit(0L))
        .otherwise(aggregate(split(col("shingle"), " "), lit(0L),
          (h, t) => call_function("splitmix64", h.bitwiseXOR(call_function("fnv1a64", t)))))
    wide.select(explode(shingles(col(textCol), w)).as("shingle"))
      .withColumn("h", hashOfShingle)
      .join(dfs, "h")
      .groupBy(col("h"), col("df")).agg(max(col("shingle")).as("shingle"))
      .select(col("shingle"), col("df"))
      .orderBy(col("df").desc, col("shingle"))
  }

  /** Cross-document DUPLICATE-SPAN profile — the w-token-granular exact
    * substring dedup signal (the operator behind "deduplicating training
    * data" span removal, cf. Lee et al. 2022): every w-token window of
    * every document keyed by an order-sensitive 64-bit hash, a span is
    * duplicated when its hash occurs ≥ 2 times ANYWHERE in the corpus
    * (another doc or a repeat in the same doc — [[dupProfile]]/[[exact]]
    * see only whole-text equality, [[TextStats.repetitionSignals]] only
    * within-doc repeats; this is the cross-cutting one). Output per doc:
    * total spans, duplicated spans, and the duplicated fraction — the
    * report that decides whether span-level removal is worth running.
    *
    * Span identity = splitmix64 fold over FNV-1a token hashes in position
    * order (the [[graft.functions.ShingleUtil]] arithmetic, here built
    * from the injected `fnv1a64`/`splitmix64` functions so every step is
    * codegen'd HOFs and the DuckDB oracle replays it integer-exactly).
    * Docs shorter than w tokens contribute their single all-token span.
    *
    * Scale shape: only (doc_id, span_hash) pairs leave the map side —
    * 16 bytes per token position, never text. Two hash-partitioned
    * aggregations (per-(hash, doc) counts with map-side combine, then
    * per-hash totals) and one join back on the hash — no all-pairs
    * stage, no strings in any shuffle. Span REMOVAL composes on top:
    * filter the position stream by `global_count >= 2` before re-chunking.
    */
  def dupSpans(docs: DataFrame, w: Int = 8, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    require(w > 0, "w must be positive")
    // The token-hash array is materialized as its OWN projection before
    // the span fold references it: expression trees get no common-
    // subexpression elimination inside higher-order functions, so an
    // inlined `th` re-tokenizes and re-hashes the document once PER SPAN
    // POSITION (~w× the scan cost; measured 10 s → ~1 s at sf0.1).
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    val withTh = docs.select(col(idCol),
      transform(toks, t => call_function("fnv1a64", t)).as("th"))
    val th = col("th")
    val m = size(th)
    val spanArr = transform(sequence(lit(1), greatest(m - (w - 1), lit(1))),
      i => aggregate(when(m >= w, slice(th, i, lit(w))).otherwise(th), lit(0L),
        (h, t) => call_function("splitmix64", h.bitwiseXOR(t))))
    // ONE hash exchange of 16-byte rows feeds everything downstream:
    // partitioning by h satisfies the (h, doc) grouping, the h grouping,
    // AND the join clustering, so Catalyst reuses the exchange — the
    // corpus is scanned and span-hashed exactly once (plan-asserted in
    // DedupSpec), where the naive two-branch formulation re-tokenizes
    // the whole corpus for the global-count side.
    val spans = withTh.select(col(idCol), explode(spanArr).as("h"))
      .repartition(col("h"))
    val perDoc = spans.groupBy(col("h"), col(idCol))
      .agg(count(lit(1)).as("c"))
    val global = perDoc.groupBy("h").agg(sum(col("c")).as("g"))
    perDoc.join(global, "h")
      .groupBy(idCol)
      .agg(sum(col("c")).as("n_spans"),
           sum(when(col("g") >= 2, col("c")).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        Num.roundTo(col("n_dup_spans").cast("double") / col("n_spans"), 6))
      .orderBy(idCol)
  }

  /** CONTENT-DEFINED-CHUNK duplication profile (x16) — [[dupSpans]]'s
    * signal at a fraction of its state, and alignment-robust where
    * fixed-grid chunking is not (the rsync/LBFS/gear-CDC idea at token
    * granularity): a chunk boundary falls AFTER token p whenever the
    * w-token window hash ending at p passes the mask test
    * `(H & (G−1)) == 0` — a LOCAL content property, so inserting or
    * deleting a prefix shifts every fixed-grid chunk but CDC boundaries
    * RE-SYNCHRONIZE after w tokens and the remaining chunks hash
    * identically (spec'd: a prefix-shifted twin shares almost all CDC
    * chunks while sharing no fixed-grid chunks). Expected chunk length
    * = G tokens, so the corpus-wide exchange carries ~1/G the rows of
    * the every-position [[dupSpans]] profile — the knob that makes
    * span-style dedup affordable when w-per-token state is not.
    *
    * Arithmetic is [[dupSpans]]'s verbatim (lowercase-token FNV →
    * splitmix window fold; chunk identity = the same fold over the
    * chunk's token hashes), so the oracle replays integer-exactly.
    * Chunking, window hashing, and chunk hashing are ONE map-only pass
    * of codegen'd HOFs — only (chunk_hash, doc_id) longs reach the
    * exchange, and the [[dupSpans]] single-exchange discipline feeds
    * the per-doc and global counts from one shuffle. Docs under w
    * tokens form one whole-doc chunk. Output per doc: chunk count,
    * corpus-duplicated chunk count (global occurrences ≥ 2, same-doc
    * repeats included), duplicated fraction.
    */
  def cdcChunkDedup(docs: DataFrame, w: Int = 8, maskBits: Int = 4,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(w > 0, "w must be positive")
    require(maskBits >= 0 && maskBits < 63, "maskBits must be in [0, 63)")
    val g = (1L << maskBits) - 1L
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    // stage EACH derived array as its own projection before anything
    // references it element-wise: HOFs get no common-subexpression
    // elimination, so an inlined array recomputes per element (the
    // dupSpans w×-scan lesson, worse here — K× the window fold)
    val withTh = docs.select(col(idCol),
      transform(toks, t => call_function("fnv1a64", t)).as("th"))
    val m = size(col("th"))
    val withWin = withTh.filter(m > 0).select(col(idCol), col("th"),
      when(m >= w, transform(sequence(lit(1), m - (w - 1)),
        i => aggregate(slice(col("th"), i, lit(w)), lit(0L),
          (h, t) => call_function("splitmix64", h.bitwiseXOR(t)))))
        .otherwise(array().cast("array<long>")).as("wins"))
    // cut AFTER token i+w-1 where the window hash passes the mask; a
    // trailing cut at position m would open an empty chunk — the
    // (start <= end) filter below drops it before hashing
    val cutEnds = when(size(col("wins")) >= 1,
      filter(
        transform(sequence(lit(1), size(col("wins"))),
          i => when(element_at(col("wins"), i).bitwiseAND(lit(g)) === 0L,
                    i + lit(w - 1)).otherwise(lit(-1))),
        c => c > 0))
      .otherwise(array().cast("array<int>"))
    val mm = size(col("th"))
    val starts = concat(array(lit(1)), transform(cutEnds, c => c + 1))
    val ends = concat(cutEnds, array(mm))
    val chunkArr = transform(
      filter(zip_with(starts, ends, (s, e) => struct(s.as("s"), e.as("e"))),
             p => p.getField("s") <= p.getField("e")),
      p => aggregate(
        slice(col("th"), p.getField("s"), p.getField("e") - p.getField("s") + 1),
        lit(0L), (h, t) => call_function("splitmix64", h.bitwiseXOR(t))))
    val chunks = withWin
      .select(col(idCol), explode(chunkArr).as("h"))
      .repartition(col("h"))
    val perDoc = chunks.groupBy(col("h"), col(idCol))
      .agg(count(lit(1)).as("c"))
    val global = perDoc.groupBy("h").agg(sum(col("c")).as("g"))
    perDoc.join(global, "h")
      .groupBy(idCol)
      .agg(sum(col("c")).as("n_chunks"),
           sum(when(col("g") >= 2, col("c")).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_chunk_frac",
        Num.roundTo(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
      .orderBy(idCol)
  }

  /** CDC CHUNK-level duplicate REMOVAL (c26) — the action on
    * [[cdcChunkDedup]]'s profile, and the affordable form of [[
    * scrubDupSpans]]: of every content-defined chunk occurring ≥ 2
    * times corpus-wide, the globally FIRST occurrence (smallest
    * (doc_id, start)) is kept and every later occurrence drops its
    * covered token positions; kept tokens rebuild in position order
    * with ORIGINAL case. Chunk identity and boundaries are
    * [[cdcChunkDedup]]'s exactly (local mask rule, so near-identical
    * docs re-synchronize and their shared material scrubs even when
    * prefixes shifted). Versus span scrub: coverage rows are one per
    * ~G-token chunk instead of one per position — the same ~1/G state
    * reduction as the profile, at chunk (not token-window) granularity.
    *
    * Scale shape mirrors [[scrubDupSpans]]: the first-occurrence choice
    * is one row_number window PARTITIONED BY chunk hash (hash-parallel,
    * never global); only the final rebuild touches strings, and that
    * shuffle is output-sized.
    *
    * The hash machinery follows [[cdcChunkDedup]]'s staging EXACTLY —
    * filter(m > 0) BEFORE the window projection, no string column
    * carried through it, chunk structs exploded in the projection that
    * defines them. Deviating (a late m-filter, `ts` riding along the
    * heavy projections) lets alias substitution during pushdown copy
    * the O(m·w) hash trees into every consumer: the optimized plan grew
    * to 42 copies of the per-token hash fold and a 500-doc corpus took
    * 67 s. Token strings and lengths come from a separate light branch.
    */
  def scrubDupChunks(docs: DataFrame, w: Int = 8, maskBits: Int = 4,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(w > 0, "w must be positive")
    require(maskBits >= 0 && maskBits < 63, "maskBits must be in [0, 63)")
    import org.apache.spark.sql.expressions.Window
    val g = (1L << maskBits) - 1L
    // light branch: original-case tokens (rebuild) and doc lengths
    val toksArr = filter(split(col(textCol), "\\s+"), t => t =!= "")
    val tokBase = docs.select(col(idCol), toksArr.as("ts"))
    // heavy branch — [[cdcChunkDedup]]'s staged discipline, hashes only
    val withTh = tokBase.select(col(idCol),
      transform(col("ts"), t => call_function("fnv1a64", lower(t))).as("th"))
    val m = size(col("th"))
    val withWin = withTh.filter(m > 0).select(col(idCol), col("th"),
      when(m >= w, transform(sequence(lit(1), m - (w - 1)),
        i => aggregate(slice(col("th"), i, lit(w)), lit(0L),
          (h, t) => call_function("splitmix64", h.bitwiseXOR(t)))))
        .otherwise(array().cast("array<long>")).as("wins"))
    val cutEnds = when(size(col("wins")) >= 1,
      filter(
        transform(sequence(lit(1), size(col("wins"))),
          i => when(element_at(col("wins"), i).bitwiseAND(lit(g)) === 0L,
                    i + lit(w - 1)).otherwise(lit(-1))),
        c => c > 0))
      .otherwise(array().cast("array<int>"))
    val mm = size(col("th"))
    val starts = concat(array(lit(1)), transform(cutEnds, c => c + 1))
    val ends = concat(cutEnds, array(mm))
    val chunkStructs = transform(
      filter(zip_with(starts, ends, (s, e) => struct(s.as("s"), e.as("e"))),
             p => p.getField("s") <= p.getField("e")),
      p => struct(p.getField("s").cast("long").as("s"),
                  p.getField("e").cast("long").as("e"),
                  aggregate(
                    slice(col("th"), p.getField("s"),
                          p.getField("e") - p.getField("s") + 1),
                    lit(0L),
                    (h, t) => call_function("splitmix64", h.bitwiseXOR(t))).as("h")))
    val chunks = withWin
      .select(col(idCol), explode(chunkStructs).as("c"))
      .select(col(idCol), col("c.s").as("s"), col("c.e").as("e"), col("c.h").as("h"))
    val byFirst = Window.partitionBy(col("h")).orderBy(col(idCol), col("s"))
    val removed = chunks.withColumn("rn", row_number().over(byFirst))
      .filter(col("rn") > 1)
    val covered = removed
      .select(col(idCol), explode(sequence(col("s"), col("e"))).as("tokpos"))
      .distinct()
    val toks = tokBase
      .select(col(idCol), posexplode(col("ts")).as(Seq("tp0", "tok")))
      .select(col(idCol), (col("tp0") + 1).cast("long").as("tokpos"), col("tok"))
    val kept = toks.join(covered, Seq(idCol, "tokpos"), "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("tokpos"), col("tok")))),
          s => s.getField("tok")), " ").as("scrubbed"))
    tokBase.select(col(idCol), size(col("ts")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
      .orderBy(idCol)
  }

  /** Scrub-effectiveness AUDIT (x17) — closes the dedup lifecycle the
    * way v26→v28 closed the IVF one: profile (x16) → act (c26) →
    * VERIFY the action worked. Re-runs [[cdcChunkDedup]]'s profile on
    * [[scrubDupChunks]]'s rebuilt corpus and reports, per doc, the
    * before/after duplicate-chunk fractions next to the removal
    * counts — the "did the scrub actually de-duplicate the corpus"
    * report a pipeline owner signs off on. After a correct scrub the
    * surviving first occurrences are unique corpus-wide, so
    * `frac_after` collapses to ~0; residual mass means chunk
    * boundaries re-synchronized differently on the rewritten text and
    * quantifies exactly how much escaped. A fully-scrubbed doc has no
    * tokens left to profile: its `frac_after` is 0 by definition; a
    * doc empty BEFORE the scrub stays NULL/NULL.
    *
    * ONE lazy plan: the scrub subtree feeds both the output columns
    * and the after-profile; the re-profile consumes the scrub's
    * aggregate output, so pushdown cannot duplicate the heavy hash
    * folds across the barrier (the c26 staging lesson does not recur).
    */
  def scrubAudit(docs: DataFrame, w: Int = 8, maskBits: Int = 4,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val scrub = scrubDupChunks(docs, w, maskBits, textCol, idCol)
    val before = cdcChunkDedup(docs, w, maskBits, textCol, idCol)
      .select(col(idCol), col("dup_chunk_frac").as("frac_before"))
    val after = cdcChunkDedup(
        scrub.select(col(idCol), col("scrubbed").as(textCol)), w, maskBits, textCol, idCol)
      .select(col(idCol), col("dup_chunk_frac").as("frac_after0"))
    scrub.select(col(idCol), col("n_tokens"), col("n_removed"))
      .join(before, Seq(idCol), "left")
      .join(after, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_removed"), col("frac_before"),
        when(col("n_tokens").isNull || col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(coalesce(col("frac_after0"), lit(0.0))).as("frac_after"))
      .orderBy(idCol)
  }

  /** Duplicate-span REMOVAL — the action [[dupSpans]]'s profile decides
    * on (Lee et al. 2022's "deduplicating training data" rewrite, at
    * w-token granularity): of every span occurring ≥ 2 times corpus-wide,
    * the globally FIRST occurrence (smallest (doc_id, position)) is kept
    * and every other occurrence is removed — each removed occurrence
    * drops its w covered token positions (overlaps union; a token under
    * both a kept first occurrence and a later occurrence of another span
    * still drops — removal is a pure coverage rule, deterministic at any
    * partitioning). Output per doc: original token count, removed count,
    * and the rebuilt text (kept tokens joined in position order; fully
    * duplicated docs come back empty, not missing).
    *
    * Span identity matches [[dupSpans]] (lowercased-token FNV → splitmix
    * fold); the rebuilt text keeps ORIGINAL case. Scale shape: the
    * first-occurrence choice is one row_number window PARTITIONED BY
    * span hash (hash-parallel, never global); coverage explodes w small
    * rows per removed occurrence; only the final rebuild touches strings,
    * and that shuffle is output-sized.
    */
  def scrubDupSpans(docs: DataFrame, w: Int = 8, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(w > 0, "w must be positive")
    import org.apache.spark.sql.expressions.Window
    // Same staged projections as [[dupSpans]]: tokens, then hashes, then
    // the span fold — HOFs get no common-subexpression elimination, so
    // inlining re-tokenizes per span position.
    val toksArr = filter(split(col(textCol), "\\s+"), t => t =!= "")
    val withTh = docs.select(col(idCol), toksArr.as("ts"))
      .select(col(idCol), col("ts"),
        transform(col("ts"), t => call_function("fnv1a64", lower(t))).as("th"))
    val th = col("th")
    val m = size(th)
    val spanArr = transform(sequence(lit(1), greatest(m - (w - 1), lit(1))),
      i => aggregate(when(m >= w, slice(th, i, lit(w))).otherwise(th), lit(0L),
        (h, t) => call_function("splitmix64", h.bitwiseXOR(t))))
    val base = withTh.select(col(idCol), col("ts"), m.as("m"), spanArr.as("sp"))
    val spans = base.filter(col("m") > 0)
      .select(col(idCol), least(lit(w), col("m")).as("cov"),
        posexplode(col("sp")).as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).cast("long").as("pos"), col("cov"), col("h"))
    val byFirst = Window.partitionBy(col("h")).orderBy(col(idCol), col("pos"))
    val removed = spans
      .withColumn("rn", row_number().over(byFirst))
      .filter(col("rn") > 1)
    val covered = removed
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + col("cov") - 1))
        .as("tokpos"))
      .distinct()
    val toks = base.select(col(idCol), col("m"),
        posexplode(col("ts")).as(Seq("tp0", "tok")))
      .select(col(idCol), col("m"), (col("tp0") + 1).cast("long").as("tokpos"), col("tok"))
    val kept = toks.join(covered, Seq(idCol, "tokpos"), "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("tokpos"), col("tok")))),
          s => s.getField("tok")), " ").as("scrubbed"))
    base.select(col(idCol), col("m").cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
      .orderBy(idCol)
  }

  /** Word w-shingles as a distinct array — the unit set for Jaccard.
    * Readable string form (API/tests); the dedup pipelines use
    * [[shingleHashes]], which produces the same sets pre-hashed in one
    * compiled pass (bench: the HOF chain here cost ~35 µs/doc interpreted).
    */
  def shingles(c: Column, w: Int = 3): Column = {
    // filter the empty tokens split() emits for leading/trailing
    // whitespace — keeps this form set-equivalent to shingleHashes
    val toks = filter(split(lower(c), "\\s+"), t => t =!= "")
    val n = size(toks)
    array_distinct(
      when(n >= w,
        transform(sequence(lit(0), n - w),
          i => concat_ws(" ", slice(toks, i + 1, lit(w)))))
      .otherwise(array(concat_ws(" ", toks))))
  }

  /** Distinct hashed w-shingles — codegen'd [[graft.functions.ShingleHashes]]. */
  def shingleHashes(c: Column, w: Int = 3): Column =
    call_function("shingle_hashes", c, lit(w))

  /** MinHash signature of length k over pre-hashed shingles: the k-member
    * universal-hash family is k multiply-adds per shingle inside the
    * codegen'd [[graft.functions.MinHashSig]] loop.
    */
  def minhashSignature(hashedShingleCol: Column, k: Int = 128, seed: Long = 42L): Column =
    call_function("minhash_sig", hashedShingleCol, lit(k), lit(seed))

  /** LSH band keys: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band — codegen'd [[graft.functions.BandKeys]], an
    * FNV-style per-band fold whose arithmetic the DuckDB oracle replays
    * exactly (the x8 planner's gate). Docs sharing any band key are
    * candidates. ONE definition shared by the planner and the pipeline,
    * so the planner's workload table predicts the pipeline's joins.
    */
  def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    call_function("band_keys", sigCol, lit(bands), lit(rowsPerBand))

  /** LSH banding planner: for each (bands, rowsPerBand) split of the same
    * k-wide signatures, the bucket count, the candidate-pair workload
    * Σ C(bucket,2) (bucket-local pairs summed across bands — the join
    * work the config would generate, duplicates across bands included
    * because the join pays them), the largest bucket, and the S-curve
    * ~50%-recall crossover (1/b)^(1/r). The tuning table a team reads
    * before committing a corpus-sized [[minhashLsh]] run: recall moves
    * with the threshold, cost with the pair count — and since every
    * config re-banded here reuses ONE signature table, the sweep costs
    * |configs| cheap band aggregations, not |configs| corpus scans.
    */
  def lshPlan(sigs: DataFrame, k: Int = 128,
              configs: Seq[(Int, Int)] = Seq((8, 16), (16, 8), (32, 4), (64, 2))): DataFrame = {
    require(configs.nonEmpty && configs.forall { case (b, r) => b * r == k },
      s"every (bands, rows) must multiply to k=$k")
    configs.map { case (b, r) =>
      sigs.select(explode(bandKeys(col("sig"), b, r)).as("bk"))
        .groupBy("bk").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_buckets"),
             sum(col("n") * (col("n") - 1) / 2).cast("long").as("n_candidate_pairs"),
             max(col("n")).as("max_bucket"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
                col("n_buckets"), col("n_candidate_pairs"), col("max_bucket"),
                Num.roundTo(lit(math.pow(1.0 / b, 1.0 / r)), 6).as("s_curve_threshold"))
    }.reduce(_ unionByName _).orderBy("bands")
  }

  /** MinHash+LSH near-duplicate candidate pairs, verified by estimated
    * Jaccard (signature agreement rate) >= threshold.
    *
    * k=128, bands=32, r=4 targets the classic S-curve with ~0.5 crossover
    * around J≈(1/32)^(1/4)≈0.42; tune per corpus. Output: (doc_a, doc_b,
    * est_jaccard) with doc_a < doc_b, deduped across bands.
    */
  def minhashLsh(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                 w: Int = 3, k: Int = 128, bands: Int = 32,
                 threshold: Double = 0.5): DataFrame =
    // NOTE (corpus scale): this single-DAG formulation recomputes the
    // signatures for the banding pass and each verification join (text
    // scanned 3×). Lineage recompute is the right local trade; at 100 TB
    // materialize the signatures ONCE via [[materializeSignatures]] and
    // feed the table to [[minhashLshFromSigs]] — identical results
    // (spec'd), and the bucketed-by-doc_id layout lets the verification
    // joins read the signature table without re-shuffling it.
    minhashLshFromSigs(minhashSignatures(df, textCol, idCol, w, k), k, bands, threshold)

  /** The (doc_id, sig) signature table for [[minhashLshFromSigs]] —
    * split out so callers can compute signatures once and reuse them
    * across the banding pass and both verification joins.
    */
  def minhashSignatures(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        w: Int = 3, k: Int = 128, seed: Long = 42L): DataFrame =
    df.select(col(idCol).as("doc_id"),
      minhashSignature(shingleHashes(col(textCol), w), k, seed).as("sig"))

  /** Write a signature table bucketed by doc_id and return it re-read from
    * the catalog. Bucketing is the 100 TB lever: [[minhashLshFromSigs]]
    * joins this table by doc id twice (verification of doc_a and doc_b
    * sides) — a bucketed scan satisfies that join's distribution from the
    * file layout, so the big signature relation never re-shuffles; only
    * the (small) distinct candidate-pair side moves.
    */
  def materializeSignatures(sigs: DataFrame, table: String,
                            buckets: Int = 32): DataFrame = {
    sigs.write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(table)
    sigs.sparkSession.table(table)
  }

  /** MinHash+LSH over a precomputed (doc_id, sig: array<bigint> of length
    * `k`) table — the corpus-scale form of [[minhashLsh]], which is
    * spec'd equal to it. Candidate generation moves ONLY
    * (band, bkey, doc_id) through the shuffle — 8-byte keys, never the
    * 128-long signatures. Signatures are joined back once per DISTINCT
    * candidate pair for verification; at corpus scale that is orders of
    * magnitude less signature traffic than carrying sig through every
    * band bucket.
    */
  def minhashLshFromSigs(sigs: DataFrame, k: Int = 128, bands: Int = 32,
                         threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val banded = sigs.select(col("doc_id"),
      posexplode(bandKeys(col("sig"), bands, r)).as(Seq("band", "bkey")))
    val cands = banded.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
            Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        call_function("sig_agree", col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** INCREMENTAL MinHash near-dup (x18) — the fuzzy face of the
    * incremental family: a new batch probes the CORPUS's banded
    * signature index for lexical near-dups, completing the
    * batch-vs-corpus trio beside exact hashes ([[ngramJaccardCross]]'s
    * x6/x7 bloom path) and embeddings (x13 SemDeDup). Cross pairs ONLY
    * — old×old was settled when the corpus was built (x2), new×new is
    * a subsequent in-batch pass by design, the same contract that lets
    * the streaming twin score each arrival against static state.
    *
    * Scale: the corpus side of the band join is exactly the at-rest
    * artifact an index build leaves behind — (band, bkey, doc_id)
    * triples; persist it bucketed by (band, bkey) and the probe join
    * satisfies its distribution from the file layout, so per batch
    * only O(|batch|·bands) 8-byte keys and O(candidates) signature
    * lookups move — batch cost independent of corpus size. Signatures
    * join back once per DISTINCT candidate pair (the
    * [[minhashLshFromSigs]] discipline); corpus text is never touched.
    */
  def minhashLshCross(corpus: DataFrame, newBatch: DataFrame,
                      textCol: String = "text", idCol: String = "doc_id",
                      w: Int = 3, k: Int = 128, bands: Int = 32,
                      threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val sigC = minhashSignatures(corpus, textCol, idCol, w, k)
    val sigN = minhashSignatures(newBatch, textCol, idCol, w, k)
    def banded(sigs: DataFrame, as: String) = sigs.select(col("doc_id").as(as),
      posexplode(bandKeys(col("sig"), bands, r)).as(Seq("band", "bkey")))
    val cands = banded(sigN, "doc_new")
      .join(banded(sigC, "doc_old"), Seq("band", "bkey"))
      .select("doc_old", "doc_new")
      .distinct()
    cands
      .join(sigC.select(col("doc_id").as("doc_old"), col("sig").as("sig_a")), Seq("doc_old"))
      .join(sigN.select(col("doc_id").as("doc_new"), col("sig").as("sig_b")), Seq("doc_new"))
      .select(col("doc_old"), col("doc_new"),
        call_function("sig_agree", col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Packed 64-bit SimHash over whitespace tokens: per bit, sum +1/-1 by
    * the token-hash bit, take the sign. Tokens are hashed once; the 64-bit
    * tally loop is the codegen'd [[graft.functions.SimHash64]].
    *
    * Token hash is splitmix64(FNV-1a) over code points — the same
    * SQL-replayable family as t3/x2/x8, which is what lets x3 carry an
    * exact DuckDB oracle (xxhash64 has no SQL replay). The splitmix
    * finalizer matters: raw FNV over short tokens leaves correlated
    * high bits, which at sf1 inflated the Hamming≤16 pair count ~5×.
    * Empty tokens are dropped to match the shared tokenization contract.
    */
  def simhash(c: Column): Column =
    call_function("simhash64",
      transform(filter(split(lower(c), "\\s+"), t => t =!= ""),
        t => call_function("splitmix64", call_function("fnv1a64", t))))

  /** Hamming distance between two packed 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup: block on the four 16-bit chunks, verify Hamming <=
    * maxDist. Recall contract: pigeonhole guarantees every pair with
    * distance <= 3 shares a chunk; with maxDist > 3 the result is
    * candidates-within-blocking only (pairs at distance 4..maxDist whose
    * differing bits spread across all four chunks are not generated).
    * Raise recall for larger maxDist by blocking on more/larger chunk
    * combinations, at quadratic candidate cost.
    *
    * Cap caveat: for chunk buckets larger than `maxBucket` the pigeonhole
    * guarantee becomes probabilistic — over-cap buckets are hash-coin
    * SAMPLED down to ≈maxBucket docs (never dropped wholesale), so a pair
    * whose only shared chunk lands in a hot bucket survives only if BOTH
    * docs pass the coin (≈(maxBucket/bsz)² per chunk). Same contract as
    * [[graft.ops.Similarity.embeddingNearDup]].
    */
  def simhashNearDup(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                     maxDist: Int = 3, maxBucket: Long = 256): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sh"))
    // Candidates move only (chunk, ckey, doc_id); sketches join back per
    // DISTINCT pair. Over-cap buckets (boilerplate corpora collapse many
    // docs onto one chunk value — quadratic without a cap) are sampled
    // down to ≈maxBucket docs by a deterministic hash coin rather than
    // dropped wholesale; sizes via groupBy + equi-join (reuses the
    // (chunk, ckey) exchange), not a window, which would funnel the id
    // table through 4·2^16 single-task partitions.
    val exploded = sh.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(3)),
        i => call_function("shiftright", col("sh"), i * 16).bitwiseAND(0xFFFFL)))
        .as(Seq("chunk", "ckey")))
    val sizes = exploded.groupBy("chunk", "ckey").agg(count(lit(1)).as("bsz"))
    val chunked = exploded.join(sizes, Seq("chunk", "ckey"))
      // coin hash is FNV over a ':'-joined rendering (not xxhash64) so the
      // whole pipeline, cap included, stays DuckDB-replayable
      .filter(col("bsz") <= maxBucket ||
        pmod(call_function("fnv1a64",
          concat_ws(":", col("doc_id"), col("chunk"), col("ckey"))),
          col("bsz")) < maxBucket)
      .drop("bsz")
    val cands = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("doc_a"))
      .join(chunked.select(col("chunk"), col("ckey"), col("doc_id").as("doc_b")),
            Seq("chunk", "ckey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Cross-corpus exact n-gram Jaccard — the INCREMENTAL dedup shape: a
    * new batch checked against the existing corpus without ever
    * generating old×old (or new×new) pairs, which at corpus scale is
    * almost all of the full pipeline's work. Blocking joins the two
    * exploded shingle tables on the shingle hash; the doc-frequency
    * guard is PER SIDE (a shingle survives only if it appears on both
    * sides, each under `maxDocFreq`), bounding the per-shingle join
    * fan-out at maxDocFreq². Output: (doc_old, doc_new, jaccard).
    */
  def ngramJaccardCross(oldDocs: DataFrame, newDocs: DataFrame,
                        textCol: String = "text", idCol: String = "doc_id",
                        w: Int = 3, threshold: Double = 0.6,
                        maxDocFreq: Long = 64): DataFrame =
    ngramJaccardCrossImpl(oldDocs, newDocs, textCol, idCol, w, threshold,
      maxDocFreq, shingleBloom = None)

  private def ngramJaccardCrossImpl(oldDocs: DataFrame, newDocs: DataFrame,
                        textCol: String, idCol: String,
                        w: Int, threshold: Double,
                        maxDocFreq: Long,
                        shingleBloom: Option[Array[Byte]]): DataFrame = {
    def side(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), shingleHashes(col(textCol), w).as("sh"))
        .withColumn("n_sh", size(col("sh")).cast("long"))
    val a = side(oldDocs, "doc_old"); val b = side(newDocs, "doc_new")
    val ea = a.select(explode(col("sh")).as("shingle"), col("doc_old"))
    // Bloom prefilter (incremental path): drop new-side shingles the old
    // corpus provably lacks BEFORE the df-count and join shuffles. Exact
    // by construction — might_contain is per shingle VALUE, so a value's
    // rows all pass or all drop; dropped values can't be in `keep` (they
    // aren't in ka), and dfb counts of surviving values are unchanged.
    val ebAll = b.select(explode(col("sh")).as("shingle"), col("doc_new"))
    val eb = shingleBloom.fold(ebAll)(bytes =>
      ebAll.filter(call_function("might_contain", lit(bytes), col("shingle"))))
    val keep = ea.groupBy("shingle").agg(count(lit(1)).as("dfa"))
      .filter(col("dfa") <= maxDocFreq).select("shingle")
      .join(eb.groupBy("shingle").agg(count(lit(1)).as("dfb"))
        .filter(col("dfb") <= maxDocFreq).select("shingle"), Seq("shingle"))
    val shared = ea.join(keep, Seq("shingle"), "left_semi")
      .join(eb.join(keep, Seq("shingle"), "left_semi"), Seq("shingle"))
      .groupBy("doc_old", "doc_new").agg(count(lit(1)).as("shared"))
    shared
      .join(a.select(col("doc_old"), col("n_sh").as("na")), Seq("doc_old"))
      .join(b.select(col("doc_new"), col("n_sh").as("nb")), Seq("doc_new"))
      .select(col("doc_old"), col("doc_new"),
        Num.roundTo(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental-batch survivors: new docs that duplicate the existing
    * corpus neither exactly (same text, via the 8-byte hash anti-join)
    * nor nearly ([[ngramJaccardCross]] above `threshold`). The daily
    * "crawl → keep what's genuinely new" reduction.
    */
  def incrementalSurvivors(oldDocs: DataFrame, newDocs: DataFrame,
                           textCol: String = "text", idCol: String = "doc_id",
                           threshold: Double = 0.6): DataFrame = {
    val exactHit = newDocs.select(col(idCol), xxhash64(col(textCol)).as("__h"))
      .join(oldDocs.select(xxhash64(col(textCol)).as("__h")), Seq("__h"), "left_semi")
      .select(idCol)
    val nearHit = ngramJaccardCross(oldDocs, newDocs, textCol, idCol,
        threshold = threshold)
      .select(col("doc_new").as(idCol)).distinct()
    newDocs.join(exactHit, Seq(idCol), "left_anti")
      .join(nearHit, Seq(idCol), "left_anti")
  }

  /** Corpus fingerprint for incremental dedup: bloom filters over the old
    * corpus's exact-text hashes and its df-guarded shingle hashes. Built
    * distributed (Spark's BloomFilterAggregate — bit-OR merge, so the
    * result is order-independent and deterministic), a few KB per million
    * keys at 1% fpp. The 100 TB shape: build ONCE per corpus snapshot,
    * [[CorpusBloom.save]] it, and every daily batch prefilters against
    * the loaded bytes without rescanning the old corpus — the old side is
    * touched only by the final verification joins, and only for shingles
    * the bloom admits. One-sided error: false positives cost extra join
    * work that downstream equality removes; false negatives cannot occur,
    * so prefiltered results are EXACTLY the unfiltered results (spec'd).
    * Note [[graft.functions.GraftFunctions]] on the aggregate's silent
    * ~4M-item conf cap — raise the runtime.bloomFilter confs per scale.
    */
  /** Distributed bloom build over a long key column: sizes the filter
    * from an exact count, aggregates with `bloom_agg`. Exposed for
    * callers that need a single filter (e.g. the streaming incremental
    * path wants only the text bloom, not a full [[CorpusBloom]]).
    */
  def buildBloom(keys: DataFrame, keyCol: String, fpp: Double = 0.01): Array[Byte] = {
    val n = math.max(1L, keys.count())
    val bits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    val row = keys.agg(
      call_function("bloom_agg", col(keyCol), lit(n), lit(bits)).as("bf")).head()
    if (row.isNullAt(0)) CorpusBloom.emptyBloom(fpp) else row.getAs[Array[Byte]](0)
  }

  /** Bloom over a corpus's exact-text hashes — the fingerprint half the
    * exact-dedup paths need. */
  def textBloom(docs: DataFrame, textCol: String = "text",
                fpp: Double = 0.01): Array[Byte] =
    buildBloom(docs.select(xxhash64(col(textCol)).as("h")).distinct(), "h", fpp)

  def corpusBloom(oldDocs: DataFrame, textCol: String = "text",
                  w: Int = 3, maxDocFreq: Long = 64,
                  fpp: Double = 0.01): CorpusBloom = {
    def build(keys: DataFrame, c: String): Array[Byte] = buildBloom(keys, c, fpp)
    val texts = oldDocs.select(xxhash64(col(textCol)).as("h")).distinct()
    // guarded shingles only: anything above maxDocFreq is excluded from
    // the cross join's keep-set regardless, so leaving boilerplate
    // shingles OUT of the bloom turns the guard into free new-side pruning
    val rare = oldDocs.select(explode(shingleHashes(col(textCol), w)).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select("shingle")
    CorpusBloom(build(texts, "h"), build(rare, "shingle"), w, maxDocFreq, fpp)
  }

  /** [[ngramJaccardCross]] with the new side prefiltered through a
    * [[CorpusBloom]] — identical output (see the fingerprint's contract),
    * but new-side shingles that miss the old corpus never reach a shuffle.
    * For a daily crawl batch that is mostly-new (the common case), that is
    * most of the batch's shingle volume.
    */
  def ngramJaccardCrossPrefiltered(oldDocs: DataFrame, newDocs: DataFrame,
                                   bloom: CorpusBloom,
                                   textCol: String = "text", idCol: String = "doc_id",
                                   threshold: Double = 0.6): DataFrame =
    ngramJaccardCrossImpl(oldDocs, newDocs, textCol, idCol, bloom.w, threshold,
      bloom.maxDocFreq, Some(bloom.shingleBloom))

  /** [[incrementalSurvivors]] with both checks bloom-prefiltered: the
    * exact anti-join probes only new docs whose text hash the bloom
    * admits, the near-dup join only shingles it admits. Same output.
    */
  def incrementalSurvivorsPrefiltered(oldDocs: DataFrame, newDocs: DataFrame,
                                      bloom: CorpusBloom,
                                      textCol: String = "text", idCol: String = "doc_id",
                                      threshold: Double = 0.6): DataFrame = {
    val exactHit = newDocs
      .select(col(idCol), xxhash64(col(textCol)).as("__h"))
      .filter(call_function("might_contain", lit(bloom.textBloom), col("__h")))
      .join(oldDocs.select(xxhash64(col(textCol)).as("__h")), Seq("__h"), "left_semi")
      .select(idCol)
    val nearHit = ngramJaccardCrossPrefiltered(oldDocs, newDocs, bloom,
        textCol, idCol, threshold)
      .select(col("doc_new").as(idCol)).distinct()
    newDocs.join(exactHit, Seq(idCol), "left_anti")
      .join(nearHit, Seq(idCol), "left_anti")
  }

  /** Connected components over an undirected near-dup pair graph —
    * min-label propagation with pointer jumping. Returns (v, comp) where
    * comp = the smallest doc id reachable from v; docs in the same dup
    * cluster (transitively) share a component.
    *
    * NOT a lazy builder: iterative graph algorithms run Spark jobs (one
    * convergence probe per round) — call it like an action. Per round:
    * (1) neighbor-min — join labels to edges, groupBy v (one shuffle on
    * the edge list, which for dedup graphs is orders of magnitude
    * smaller than the corpus); (2) pointer jump comp := comp(comp) — a
    * self-join that halves label-tree depth. Convergence is
    * O(log diameter) on gradient-like graphs (paths, trees toward the
    * min) but NOT in general: random vertex ids create jump-stable
    * local-minimum basins that merge only by one-edge-per-round
    * propagation across their ridges, so sparse random graphs take
    * ~diameter rounds (the sf1 x9 embedding graph needed 32; measured
    * while calibrating the oracle replay, round 13). The fixpoint probe
    * below makes the OPERATOR exact at any round count; LSH/blocking
    * dedup graphs are locally dense (bucket near-cliques), so 3-5
    * rounds in practice.
    * Each round ends in localCheckpoint: without it the plan DAG doubles
    * per iteration and the job would replan from raw edges every round
    * (on a cluster, use a checkpoint dir / persist with eviction).
    * For adversarially long chains at extreme scale, the alternating
    * large-star/small-star formulation bounds round count further; the
    * label-prop+jump form is preferred here for its simple correctness
    * argument (comp is monotone non-increasing and bounded by the true
    * component min).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 64): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** Instrumented form of [[connectedComponents]]: also returns how many
    * label-update rounds ran (including the final no-change round that
    * detects convergence) — the empirical handle for the O(log diameter)
    * bound the graph-shape specs assert on chains/stars/cliques.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 64): (DataFrame, Int) = {
    // maxIter is a runaway safety cap, not a budget — the loop exits at
    // convergence (typically 3-5 rounds on dedup graphs; 32 on the
    // worst measured fixture, the sf1 random embedding graph — see the
    // basin analysis in the scaladoc). Hitting the cap would return
    // labels mid-merge; 64 = 2× the measured worst case. A graph deep
    // enough to exceed it would need ridge chains past 64 edges — at
    // that point raise maxIter or switch to the large-star/small-star
    // contraction noted above.
    val (edgesAll, edgeCountRow) = Iterate.materializeObserved(
      pairs.select(col(aCol).cast("long").as("v"), col(bCol).cast("long").as("w"))
        .union(pairs.select(col(bCol).cast("long").as("v"), col(aCol).cast("long").as("w")))
        .distinct(), count(lit(1)).as("n"))
    // NOTE every materialization below goes through Iterate.materialize,
    // not bare localCheckpoint — see Iterate's scaladoc for the
    // double-exponential stats-estimate blowup it prevents (sf1 find).
    // Size the per-round shuffles to the GRAPH, not the session default:
    // the dup-pair graph is orders of magnitude smaller than the corpus,
    // and an iterative loop pays partition-scheduling overhead every
    // round (at fixture scale, 32-partition shuffles over a few hundred
    // edges made the loop ~5× slower than the data justifies). The
    // checkpoint above already ran, so the count is free metadata.
    val parts = graft.Sizing.width(edgesAll.sparkSession, edgeCountRow.getLong(0), graft.Sizing.LoopEdges)
    // Tiny-graph fast path (Iterate.withTinyLoopConf): under AQE each
    // round's query became several stage-jobs — at fixture scale the
    // whole loop was driver job-submission latency (m7: 148 jobs of
    // < 0.3 s stages). Big graphs (parts == parallelism) run unchanged.
    Iterate.withTinyLoopConf(edgesAll.sparkSession, parts) {
    val edges = Iterate.materialize(edgesAll.repartition(parts, col("w")))
    // Convergence probe: comp is pointwise non-increasing (min over a set
    // containing itself, then jump to comp(comp) <= comp), so the labels
    // changed this round IFF sum(comp) strictly decreased — one scalar
    // aggregate per round (decimal sum: 10^12 docs × 10^12 max id
    // overflows a long). The probe rides each round's OWN checkpoint job
    // (Iterate.materializeObserved): a separate probe action per round
    // costs a full job submission, which dominated the loop's wall time
    // once per-task work was sized to the graph.
    val probe = sum(col("comp").cast("decimal(38,0)")).as("s")
    def metric(r: org.apache.spark.sql.Row): java.math.BigDecimal =
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    var (labels, row0) = Iterate.materializeObserved(
      edges.select(col("v")).distinct().withColumn("comp", col("v")), probe)
    var prevSum = metric(row0)
    var iter = 0
    var done = prevSum.signum() == 0 && labels.isEmpty
    while (!done && iter < maxIter) {
      val nbrMin = edges.join(labels.select(col("v").as("w"), col("comp")), "w")
        .groupBy("v").agg(min("comp").as("nc"))
      val tentative = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
      val (jumped, r) = Iterate.materializeObserved(tentative
        .join(tentative.select(col("v").as("comp"), col("comp").as("cc")), Seq("comp"), "left")
        .select(col("v"), coalesce(col("cc"), col("comp")).as("comp"))
        .repartition(parts, col("v")), probe)
      val s = metric(r)
      done = s.compareTo(prevSum) == 0
      prevSum = s
      labels = jumped
      iter += 1
    }
    (labels, iter)
    }
  }

  /** Duplicate-cluster resolution — the step after pair generation that a
    * training pipeline actually wants: every doc mapped to its dup
    * cluster's canonical representative (the min doc id, transitively
    * closed over the pair graph), `keep` marking the survivor. Docs in no
    * pair are their own component. Output is one row per input doc.
    */
  def resolveDuplicates(docs: DataFrame, pairs: DataFrame,
                        idCol: String = "doc_id"): DataFrame =
    joinComponents(docs, connectedComponents(pairs), idCol)

  /** [[resolveDuplicates]] with the components computed by
    * [[connectedComponentsContraction]] — identical output by
    * construction (both return exact components labeled by min id);
    * registered separately (x15) so the gate proves it.
    */
  def resolveDuplicatesContraction(docs: DataFrame, pairs: DataFrame,
                                   idCol: String = "doc_id"): DataFrame =
    joinComponents(docs, connectedComponentsContraction(pairs), idCol)

  private def joinComponents(docs: DataFrame, comps: DataFrame,
                             idCol: String): DataFrame =
    docs.select(col(idCol))
      .join(comps.withColumnRenamed("v", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("component"))
      .withColumn("keep", col(idCol) === col("component"))

  /** Connected components by ALTERNATING STAR CONTRACTION — the
    * large-star / small-star algorithm of Kiveris et al. 2014
    * ("Connected Components in MapReduce and Beyond"), the bounded-round
    * alternative [[connectedComponents]]'s scaladoc points to for
    * adversarially long chains: pointer jumping needs ~diameter rounds
    * on jump-stable random-id basins (32 measured on the sf1 x9 graph),
    * star contraction converges in O(log² n) rounds on ANY shape
    * because each round rewires whole neighborhoods to their minimum,
    * not one hop of the label tree.
    *
    * Per round two neighborhood aggregations over the CURRENT edge set
    * (which only ever shrinks toward the final star): large-star
    * attaches every strictly-larger neighbor of each node to
    * min(Γ(u) ∪ {u}); small-star attaches each node and its smaller
    * neighbors to min(Γ⁻(u) ∪ {u}). Both emissions are canonical
    * (min, other) pairs, so every intermediate graph stays a distinct
    * (u < v) edge list; at the fixpoint every vertex holds exactly one
    * edge to its component minimum and the component map reads straight
    * off the edges. Convergence is detected by an exact edge-set
    * signature (count + Σ xxhash64(u, v) as decimal — one scalar
    * aggregate), and hitting `maxIter` without convergence THROWS:
    * unlike pointer jumping's monotone labels, a mid-contraction edge
    * set is not a usable answer, and O(log² n) makes 64 rounds
    * unreachable for any real graph (the paper's bound gives ~36 for
    * 2^64 vertices; measured: 4 rounds on the sf0.1 x4 graph).
    *
    * Same output contract as [[connectedComponents]]: (v, comp) for
    * every vertex appearing in `pairs`, comp = min id of its component
    * — DedupSpec pins equality on chains, cliques, random graphs, and
    * the staged x4 fixture.
    */
  def connectedComponentsContraction(pairs: DataFrame,
                                     aCol: String = "doc_a", bCol: String = "doc_b",
                                     maxIter: Int = 64): DataFrame = {
    val canon = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
    // graph-sized shuffles, the connectedComponents discipline; the
    // count for sizing rides the entry checkpoint's own job
    val (canonCp, canonCount) = Iterate.materializeObserved(canon, count(lit(1)).as("n"))
    val parts = graft.Sizing.width(canonCp.sparkSession, canonCount.getLong(0), graft.Sizing.LoopEdges)
    // the (count, hash-sum) fixpoint signature rides each round's own
    // checkpoint job (Iterate.materializeObserved); tiny graphs run the
    // whole loop single-job-per-round (Iterate.withTinyLoopConf)
    Iterate.withTinyLoopConf(canonCp.sparkSession, parts) {
    val sigExprs = Seq(count(lit(1)).as("n"),
      sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("s"))
    def metric(r: org.apache.spark.sql.Row): (Long, java.math.BigDecimal) =
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    var (edges, row0) = Iterate.materializeObserved(
      canonCp.repartition(parts, col("u")), sigExprs: _*)
    var prev = metric(row0)
    var iter = 0
    var done = prev._1 == 0L
    while (!done && iter < maxIter) {
      // large-star: every neighborhood (both directions) finds its min;
      // strictly-larger neighbors x > u re-attach as (m, x), m <= u < x
      val nbrs = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val lMin = nbrs.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = nbrs.join(lMin, "u").filter(col("v") > col("u"))
        .filter(col("v") =!= col("m"))
        .select(col("m").as("u"), col("v"))
        .distinct()
      // small-star: on the canonical (small u <- big v) orientation,
      // each node v with smaller neighbors attaches them AND itself to
      // the minimum of those neighbors
      val down = large.select(col("v").as("n"), col("u").as("s"))
      val sMin = down.groupBy("n").agg(min("s").as("m"))
      val small = down.join(sMin, "n")
        .select(col("m"), explode(array(col("s"), col("n"))).as("x"))
        .filter(col("x") =!= col("m"))
        .select(col("m").as("u"), col("x").as("v"))
        .distinct()
      val (next, row) = Iterate.materializeObserved(
        small.repartition(parts, col("u")), sigExprs: _*)
      edges = next
      val s = metric(row)
      // compareTo, not equals: BigDecimal.equals is scale-sensitive
      done = s._1 == prev._1 && s._2.compareTo(prev._2) == 0
      prev = s
      iter += 1
    }
    if (!done && prev._1 > 0L)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIter rounds — O(log^2 n) " +
        "makes this unreachable for any real graph; check for id overflow")
    // the fixpoint is a star forest: (m, x) per vertex x, plus the root
    // m itself mapping to m
    edges.select(col("v"), col("u").as("comp"))
      .unionAll(edges.select(col("u").as("v"), col("u").as("comp")))
      .distinct()
    }
  }

  /** Quality-aware canonical selection — the dedup ACTION a production
    * corpus pipeline runs: within each near-dup cluster keep the highest-
    * QUALITY member instead of [[resolveDuplicates]]'s lowest id (dropping
    * the best-written copy of a page because a worse one crawled first is
    * a real corpus-quality regression). `scores` is any (idCol, scoreCol)
    * table — here the t1 quality score, but a model-based classifier
    * score drops in unchanged.
    *
    * The argmax is deterministic: max(struct(score, −id)) — highest score
    * wins, ties go to the LOWEST id (so clusters whose members tie degrade
    * to resolveDuplicates' rule exactly). Everything after component
    * resolution moves O(docs) 16-byte rows: scores join on ids, never
    * text, and the per-component argmax is a partial (map-side) aggregate.
    */
  def resolveBestByScore(docs: DataFrame, pairs: DataFrame, scores: DataFrame,
                         idCol: String = "doc_id",
                         scoreCol: String = "quality_score"): DataFrame = {
    // LEFT join: a doc the scorer skipped must still come out (the
    // resolveDuplicates family's one-row-per-input-doc contract). An
    // unscored doc ranks as -inf — never elected over any scored
    // cluster-mate, and an all-unscored cluster degrades to
    // resolveDuplicates' lowest-id rule exactly.
    val scored = resolveDuplicates(docs, pairs, idCol)
      .select(col(idCol), col("component"))
      .join(scores.select(col(idCol), col(scoreCol)), Seq(idCol), "left")
    val rankScore = coalesce(col(scoreCol), lit(Double.NegativeInfinity))
    val best = scored.groupBy("component")
      .agg(max(struct(rankScore.as("s"), (-col(idCol)).as("negid"))).as("m"))
      .select(col("component"), (-col("m.negid")).as("best_id"))
    scored.join(best, Seq("component"))
      .select(col(idCol), col("component"), col(scoreCol),
        (col(idCol) === col("best_id")).as("keep"))
  }

  /** Exact n-gram Jaccard near-dup via shared-shingle grouping: explode
    * distinct hashed shingles, group BY shingle collecting the (bounded)
    * doc list, generate ordered pairs in-group, then count shared shingles
    * per pair. Jaccard = shared/(|A|+|B|-shared).
    *
    * Scale shape: exactly TWO shuffles — (1) group by shingle (values are
    * (doc_id, n_sh) structs, 16 bytes), (2) group by pair. The df guard is
    * the size filter on the collected list: shingles in more than
    * `maxDocFreq` docs are dropped (stopword shingles would otherwise
    * create quadratic bucket blowup — same reasoning as prefix filtering),
    * which also caps both the collect_list buffer and the in-group pair
    * fan-out at maxDocFreq²/2. A self-join formulation would instead
    * recompute the shingle pipeline per branch and move every (shingle,
    * doc) row through three shuffles.
    */
  def ngramJaccard(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   w: Int = 3, threshold: Double = 0.6,
                   maxDocFreq: Long = 64): DataFrame =
    sharedShinglePairs(df, textCol, idCol, w, maxDocFreq)
      .select(col("doc_a"), col("doc_b"),
        Num.roundTo(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Shared pair machinery under [[ngramJaccard]] and
    * [[shingleContainment]]: (doc_a, doc_b, shared, na, nb) for every
    * ordered doc pair sharing at least one df-guarded shingle.
    *
    * Scale shape: exactly TWO shuffles — (1) group by shingle (values are
    * (doc_id, n_sh) structs, 16 bytes), (2) group by pair. The df guard is
    * the size filter on the collected list: shingles in more than
    * `maxDocFreq` docs are dropped (stopword shingles would otherwise
    * create quadratic bucket blowup — same reasoning as prefix filtering),
    * which also caps both the collect_list buffer and the in-group pair
    * fan-out at maxDocFreq²/2. A self-join formulation would instead
    * recompute the shingle pipeline per branch and move every (shingle,
    * doc) row through three shuffles.
    */
  private def sharedShinglePairs(df: DataFrame, textCol: String, idCol: String,
                                 w: Int, maxDocFreq: Long): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"), shingleHashes(col(textCol), w).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))
    sharedHashPairs(
      sh.select(explode(col("sh")).as("shingle"), col("doc_id")),
      sh.select(col("doc_id"), col("n_sh")),
      maxDocFreq)
  }

  /** The shared-hash pair core behind [[ngramJaccard]]/x14 — and, via
    * [[Multimodal.nearDupVideos]], frame-set video dedup: from distinct
    * (doc_id, shingle) rows and a (doc_id, n_sh) size table, produce
    * (doc_a, doc_b, shared, na, nb) for every pair sharing ≥ 1 hash
    * within the df guard. One definition so text shingles and video
    * frame sets can never diverge in pair semantics.
    *
    * Pair generation carries ONLY doc ids (8 bytes) — set sizes join back
    * after the pair aggregation, when candidates have collapsed to the
    * distinct-pair set. The size lookup is left un-hinted: AQE broadcasts
    * it at test scale; at corpus scale (one row per doc, too big to
    * broadcast) it becomes a shuffle join keyed by doc id — correct
    * either way.
    * df guard FIRST (count aggregate — constant-size buffer per shingle),
    * THEN collect_list on the surviving rare shingles only: a boilerplate
    * shingle in 10^8 docs never materializes a 10^8-element list buffer.
    * Both aggregations and the semi join hash-partition on `shingle`, so
    * the exchange is shared/reused.
    */
  private[ops] def sharedHashPairs(exploded: DataFrame, sizes: DataFrame,
                                   maxDocFreq: Long): DataFrame = {
    val rare = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDocFreq)
      .select("shingle")
    val grouped = exploded.join(rare, Seq("shingle"), "left_semi")
      .groupBy("shingle").agg(collect_list(col("doc_id")).as("docs"))
      // sort ids so generated pairs are (low, high) — deterministic
      .select(array_sort(col("docs")).as("docs"))
    val pairs = grouped
      .select(explode(call_function("pair_longs", col("docs"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    pairs
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
  }

  /** Shingle CONTAINMENT near-dup — the doc-inside-doc detector Jaccard
    * structurally misses: containment C = shared / min(|A|, |B|) is high
    * when the smaller document's shingle set sits inside the larger one
    * (a quoted article, a page concatenated into a crawl dump), even
    * though Jaccard = shared/union is diluted by the larger side's bulk.
    * Broder's containment measure; the standard companion to
    * resemblance in near-dup literature.
    *
    * Emits the flagged pairs with both measures plus `contained_id` —
    * the smaller-set side (ties break to the lower doc_id), i.e. the
    * candidate the dedup policy would drop as redundant against its
    * container.
    *
    * Scale shape: identical to [[ngramJaccard]] (the same two-shuffle
    * [[sharedShinglePairs]] plan — only the final projection differs),
    * so the df guard bounds fan-out the same way. At 100 TB this runs
    * AS the same job as Jaccard dedup when both are wanted: one pair
    * table, two measures.
    */
  def shingleContainment(df: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", w: Int = 3,
                         threshold: Double = 0.8,
                         maxDocFreq: Long = 64): DataFrame =
    sharedShinglePairs(df, textCol, idCol, w, maxDocFreq)
      .select(col("doc_a"), col("doc_b"),
        Num.roundTo(col("shared").cast("double") / least(col("na"), col("nb")), 6)
          .as("containment"),
        Num.roundTo(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 6).as("jaccard"),
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_id"))
      .filter(col("containment") >= threshold)

  /** Benchmark decontamination: flag training docs sharing >= `minShared`
    * distinct w-shingles with ANY doc of an evaluation benchmark — the
    * n-gram-overlap contamination check every serious training corpus
    * runs before a model sees the data.
    *
    * Scale shape: the benchmark is small by definition (eval sets are
    * thousands of docs, the corpus is billions), so its shingle set is
    * BROADCAST — the training corpus never shuffles for candidate
    * generation; the only exchange is the per-doc hit aggregation keyed
    * on doc_id. Contrast with [[ngramJaccardCross]] (both sides large →
    * shuffle join): same contract family, opposite build-side economics.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
                    textCol: String = "text", idCol: String = "doc_id",
                    w: Int = 3, minShared: Long = 3): DataFrame = {
    val t = train.select(col(idCol).as("doc_id"),
      explode(shingleHashes(col(textCol), w)).as("shingle"))
    val b = benchmark.select(col(idCol).as("bench_id"),
      explode(shingleHashes(col(textCol), w)).as("shingle"))
    t.join(broadcast(b), Seq("shingle"))
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_hit_shingles"),
           countDistinct(col("bench_id")).as("n_bench_docs"))
      .filter(col("n_hit_shingles") >= minShared)
  }
}

/** Serialized corpus fingerprint for incremental dedup — see
  * [[Dedup.corpusBloom]]. `textBloom` holds xxhash64(text) of every old
  * doc; `shingleBloom` holds the old corpus's df-guarded shingle hashes
  * for the (w, maxDocFreq) the fingerprint was built with.
  */
case class CorpusBloom(textBloom: Array[Byte], shingleBloom: Array[Byte],
                       w: Int, maxDocFreq: Long, fpp: Double) {
  /** Persist to a local/DFS-mounted path — a few KB/MB artifact meant to
    * outlive the job and serve every future incremental batch. */
  def save(path: java.nio.file.Path): Unit = {
    val out = new java.io.DataOutputStream(java.nio.file.Files.newOutputStream(path))
    try {
      out.writeInt(CorpusBloom.Magic); out.writeInt(1)
      out.writeInt(w); out.writeLong(maxDocFreq); out.writeDouble(fpp)
      out.writeInt(textBloom.length); out.write(textBloom)
      out.writeInt(shingleBloom.length); out.write(shingleBloom)
    } finally out.close()
  }
}

object CorpusBloom {
  private[ops] val Magic = 0x47424C4D // "GBLM"

  def load(path: java.nio.file.Path): CorpusBloom = {
    val in = new java.io.DataInputStream(java.nio.file.Files.newInputStream(path))
    try {
      require(in.readInt() == Magic, s"$path is not a CorpusBloom file")
      require(in.readInt() == 1, "unsupported CorpusBloom version")
      val w = in.readInt(); val mdf = in.readLong(); val fpp = in.readDouble()
      def bytes() = { val b = new Array[Byte](in.readInt()); in.readFully(b); b }
      CorpusBloom(bytes(), bytes(), w, mdf, fpp)
    } finally in.close()
  }

  /** Zero-row corpora still need valid bloom bytes (the aggregate yields
    * null on empty input): a 1-slot filter that admits nothing inserted. */
  private[ops] def emptyBloom(fpp: Double): Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
