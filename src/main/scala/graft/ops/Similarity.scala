package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, dim 64).
  *
  * Baseline: brute-force cosine top-k with a broadcast query set — each
  * corpus partition scores its rows against every query locally, then a
  * per-query window keeps k. Norms are computed ONCE per side before the
  * join (not per pair), and the dot product is the codegen'd
  * [[graft.functions.VecDot]] — the scoring loop stays inside
  * whole-stage codegen. Shuffle volume is O(|queries|·candidates), never
  * the corpus.
  *
  * Scale path: LSH over random hyperplanes ([[graft.functions.LshBucket]])
  * buckets the corpus so each query probes only its bucket; near-dup uses
  * multiple independent hash tables (standard multi-table LSH) to recover
  * recall. At 100 TB the corpus is written partitioned by bucket so a
  * query touches one partition.
  *
  * Double-precision index-order dot products keep bit-compatibility with
  * the DuckDB oracle's list functions.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in doubles — codegen'd native expression. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic query subset: every `stride`-th vector. */
  def querySet(df: DataFrame, idCol: String, stride: Int): DataFrame =
    df.filter(col(idCol) % stride === 0)

  /** Brute-force cosine top-k: queries × corpus via broadcast nested-loop,
    * ranked per query. Rank on sim rounded to 9dp with id tie-break so
    * float-noise near ties cannot flip the oracle compare.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id")) // self excluded
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Brute-force top-k via the bounded-heap aggregate
    * ([[graft.functions.TopKByScore]]) instead of window+row_number: the
    * partial (map-side) aggregation reduces every partition to ≤k
    * candidates per query BEFORE the shuffle, so shuffle volume is
    * O(queries·k·partitions) instead of O(all scored pairs) — the plan
    * that survives a 100 TB corpus. Result (incl. tie-break) is identical
    * to [[bruteForceTopK]]; both share one oracle.
    */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKAggInternal(corpus, queries, k, idCol, vecCol, hintBroadcast = true)

  /** [[bruteForceTopKAgg]] body with the broadcast hint optional: hinted
    * for real query sets (small side → broadcast NL join is the right
    * plan); unhinted for the leave-one-out eval, where queries==corpus and
    * forcing a broadcast of the whole corpus would hit the driver/8 GB
    * broadcast ceiling long before the scoring itself became infeasible —
    * unhinted, Spark picks BNLJ/cartesian from its own size estimates.
    */
  private def topKAggInternal(corpus: DataFrame, queries: DataFrame, k: Int,
                              idCol: String, vecCol: String,
                              hintBroadcast: Boolean): DataFrame = {
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val q = if (hintBroadcast) broadcast(q0) else q0
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
    scored.groupBy(col("query_id"))
      .agg(call_function("topk_by_score", col("sim"), col("neighbor_id"), lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"), col("nb.score").as("sim"))
  }

  /** HARD-NEGATIVE mining (v24) — the contrastive-training data op: per
    * anchor/query, the k MOST similar corpus vectors whose cosine sits
    * strictly below the near-duplicate bar `hi` and at or above the
    * floor `lo` — similar enough to be hard (the negatives that carry
    * gradient signal, cf. the in-batch-negatives literature), excluded
    * from the band where they are really positives/duplicates, and with
    * trivially-easy negatives floored out. The band filter applies
    * BEFORE the bounded-heap aggregate, so the map-side partial phase
    * still reduces every partition to ≤ k candidates per query — same
    * shuffle volume as [[bruteForceTopKAgg]]. Swap the scored-pair
    * source for an ANN variant (IVF/LSH candidates) at corpus scale;
    * the band-then-heap shape is unchanged.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 8,
                    lo: Double = 0.05, hi: Double = 0.42,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && lo < hi, "need k >= 1 and lo < hi")
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
      .filter(col("sim") >= lo && col("sim") < hi)
    rankTopK(scored, k)
  }

  /** HARD-NEGATIVE mining over ANN candidates (v25) — the corpus-scale
    * form [[hardNegatives]]'s scaladoc promises: IVF-multiprobe
    * candidate generation (the [[ivfTopKTrainedMultiProbe]] routing —
    * corpus keeps its one-cell-per-vector at-rest layout, each query
    * probes its `nprobe` nearest cells) feeding the SAME cosine band
    * filter + bounded heap. Candidate volume per query is the probed
    * cells' population instead of the whole corpus, which is the
    * difference between Q×N and Q×(N·nprobe/cells) scoring at 100 TB;
    * recall against the exact band is the standard IVF trade measured
    * by the spec's floor (and tunable by the v17 probe-curve report).
    * `nprobe = |codebook|` degenerates to [[hardNegatives]] exactly —
    * every cell is probed, so the band sees every pair (spec-pinned).
    */
  def hardNegativesAnn(corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
                       k: Int = 8, nprobe: Int = 4,
                       lo: Double = 0.05, hi: Double = 0.42,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && lo < hi, "need k >= 1 and lo < hi")
    val cAssign = assignCells(corpus, codebook, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(cAssign, "neighbor_id")
      .withColumn("cn", norm(col("cv")))
    val qAssign = assignCellsMulti(queries, codebook, nprobe, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("cell"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(qAssign, "query_id")
      .withColumn("qn", norm(col("qv"))))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
      .filter(col("sim") >= lo && col("sim") < hi)
    rankTopK(scored, k)
  }

  /** IVF index MAINTENANCE report (v26) — what a serving team reads
    * before deciding to retrain: a new vector batch is assigned to the
    * EXISTING trained cells (the x13 incremental discipline — the
    * at-rest corpus layout is untouched, adds are per-cell appends),
    * and the report shows per-cell growth and whether any cell's
    * population share drifted past `driftBp` basis points — the signal
    * that the codebook no longer matches the data distribution and the
    * v21 layout is due a rebuild.
    *
    * The drift flag is INTEGER-exact: |n_after·tot_before −
    * n_before·tot_after|·10⁴ ≥ driftBp·tot_before·tot_after — the
    * cross-multiplied form of |share_after − share_before| ≥ bp/10⁴,
    * so the boolean can never flip on engine rounding (the 6dp share
    * columns are display only). Cost: two assignment passes (map-only
    * against the broadcast codebook) + two cell-keyed counts; the
    * batch pass is O(batch), independent of corpus age.
    */
  def ivfAddReport(corpus: DataFrame, batch: DataFrame, codebook: DataFrame,
                   driftBp: Long = 250L,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfAddReportFromCounts(
      assignCells(corpus, codebook, idCol, vecCol)
        .groupBy("cell").agg(count(lit(1)).as("n_before")),
      assignCells(batch, codebook, idCol, vecCol)
        .groupBy("cell").agg(count(lit(1)).as("n_added")),
      codebook, driftBp)

  /** IVF DELETE report (v30) — v26's other face, completing the store's
    * mutation symmetry (add → retrain → re-layout → serve now has its
    * takedown path): a delete-list of vector ids against the at-rest
    * trained layout. ONE corpus assignment pass (map-only argmin
    * against the codebook literals) serves both counts — the deleted
    * vectors' cells fall out of a semi-join on the 8-byte id — and the
    * per-cell shrink report carries the SAME integer-exact share-drift
    * rule as v26 (cross-multiplied basis points; no double ever
    * decides): removal that skews the cell balance past `driftBp`
    * flags a retrain, exactly like growth that does. At 100 TB the
    * delete-list is takedown/right-to-erasure scale (≪ corpus);
    * everything after assignment is O(|cells|) rows.
    */
  def ivfDeleteReport(corpus: DataFrame, deleteIds: DataFrame,
                      codebook: DataFrame, driftBp: Long = 250L,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(driftBp > 0L && driftBp <= 10000L, "driftBp is basis points in (0, 10000]")
    val asg = assignCells(corpus, codebook, idCol, vecCol)
    val nb = asg.groupBy("cell").agg(count(lit(1)).as("n_before"))
    val nr = asg.join(deleteIds.select(col(idCol)), Seq(idCol), "left_semi")
      .groupBy("cell").agg(count(lit(1)).as("n_removed"))
    val joined = codebook.select(col("cell"))
      .join(nb, Seq("cell"), "left").join(nr, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .withColumn("n_after", col("n_before") - col("n_removed"))
    val totals = broadcast(joined.agg(
      sum(col("n_before")).as("tot_before"), sum(col("n_after")).as("tot_after")))
    joined.crossJoin(totals)
      .select(col("cell"), col("n_before"), col("n_removed"), col("n_after"),
        Num.roundTo(col("n_before").cast("double") / col("tot_before").cast("double"), 6)
          .as("share_before"),
        Num.roundTo(col("n_after").cast("double") / col("tot_after").cast("double"), 6)
          .as("share_after"),
        (abs(col("n_after") * col("tot_before") - col("n_before") * col("tot_after")) * 10000L
          >= lit(driftBp) * col("tot_before") * col("tot_after")).as("needs_rebalance"))
      .orderBy("cell")
  }

  /** Report assembly shared by the batch path and the st21 streaming
    * twin (whose `n_added` counts come out of streaming state): one
    * definition, so the drift rule can never diverge between them.
    */
  private[graft] def ivfAddReportFromCounts(nb: DataFrame, na: DataFrame,
                                            codebook: DataFrame,
                                            driftBp: Long = 250L): DataFrame = {
    require(driftBp > 0L && driftBp <= 10000L, "driftBp is basis points in (0, 10000]")
    val joined = codebook.select(col("cell"))
      .join(nb, Seq("cell"), "left").join(na, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_added"), lit(0L)).as("n_added"))
      .withColumn("n_after", col("n_before") + col("n_added"))
    val totals = broadcast(joined.agg(
      sum(col("n_before")).as("tot_before"), sum(col("n_after")).as("tot_after")))
    joined.crossJoin(totals)
      .select(col("cell"), col("n_before"), col("n_added"), col("n_after"),
        Num.roundTo(col("n_before").cast("double") / col("tot_before").cast("double"), 6)
          .as("share_before"),
        Num.roundTo(col("n_after").cast("double") / col("tot_after").cast("double"), 6)
          .as("share_after"),
        (abs(col("n_after") * col("tot_before") - col("n_before") * col("tot_after")) * 10000L
          >= lit(driftBp) * col("tot_before") * col("tot_after")).as("needs_rebalance"))
      .orderBy("cell")
  }

  /** Rank scored (query_id, neighbor_id, sim) pairs to top-k per query via
    * the bounded-heap aggregate [[graft.functions.TopKByScore]]: the partial
    * (map-side) phase reduces every partition to ≤k candidates per query
    * BEFORE the shuffle — O(queries·k·partitions) shuffle volume where
    * window+row_number would move every scored pair. Ordering (sim desc,
    * id asc tie-break) matches the window formulation row for row.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(call_function("topk_by_score", col("sim"), col("neighbor_id"), lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"), col("nb.score").as("sim"))

  /** Dimension-truncation recall curve — the Matryoshka-style storage
    * knob evaluation: re-rank with only the FIRST `d` dimensions of every
    * embedding and measure top-k agreement with the full-width ranking,
    * for each candidate width. The report that decides how many
    * dimensions a 100 TB index actually stores (truncating 64→16 is 4×
    * less storage AND 4× less scoring flops — if recall holds).
    *
    * recall@k(d) = |topk_d ∩ topk_full| / |topk_full| over the query
    * set; the full-width reference is computed ONCE and each width joins
    * against it (left-semi on (query, neighbor) — 16-byte rows). Rankings
    * use the shared 9dp-rounded cosine + id tie-break, so the oracle
    * replays every set exactly; the recall division is the only double.
    */
  def dimTruncationRecall(corpus: DataFrame, queries: DataFrame,
                          dims: Seq[Int] = Seq(8, 16, 32, 64), k: Int = 10,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ > 0), "dims must be positive")
    val full = Iterate.materialize(
      bruteForceTopKAgg(corpus, queries, k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id")))
    val denom = broadcast(full.agg(count(lit(1)).as("n_full"),
      countDistinct(col("query_id")).as("n_queries")))
    val perDim = dims.map { d =>
      val tc = corpus.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val tq = queries.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      bruteForceTopKAgg(tc, tq, k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"))
        .join(full, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d.toLong).as("dim"), col("n_hits"))
    }
    perDim.reduce(_ unionAll _)
      .crossJoin(denom)
      .select(col("dim"), col("n_queries"), col("n_hits"),
        Num.roundTo(col("n_hits").cast("double") / col("n_full"), 6).as("recall"))
      .orderBy("dim")
  }

  /** IVF nprobe-recall curve — the tuning report that sizes `nprobe`
    * before a corpus-scale serving rollout (the IVF twin of the x8 LSH
    * banding planner): for each candidate probe count, top-k agreement
    * with the exact full ranking over the query set. Costs one brute
    * reference pass + one routed pass per probe level; the corpus-side
    * cell layout is identical at every level (nprobe is query-side
    * only), which is exactly the claim this report lets you verify
    * before trusting it at 100 TB.
    */
  def ivfProbeCurve(corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
                    probes: Seq[Int] = Seq(1, 2, 4, 8), k: Int = 10,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1), "probes must be >= 1")
    val full = Iterate.materialize(
      bruteForceTopKAgg(corpus, queries, k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id")))
    val denom = broadcast(full.agg(count(lit(1)).as("n_full"),
      countDistinct(col("query_id")).as("n_queries")))
    probes.map { np =>
      ivfTopKTrainedMultiProbe(corpus, queries, codebook, k, np, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"))
        .join(full, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np.toLong).as("nprobe"), col("n_hits"))
    }.reduce(_ unionAll _)
      .crossJoin(denom)
      .select(col("nprobe"), col("n_queries"), col("n_hits"),
        Num.roundTo(col("n_hits").cast("double") / col("n_full"), 6).as("recall"))
      .orderBy("nprobe")
  }

  /** Random-hyperplane sign-sketch bucket id (packed sign bits) — codegen'd
    * native expression; hyperplane weights derive from (seed, bit, dim). */
  def lshBucket(vecCol: Column, nbits: Int = 12, seed: Long = 42L): Column =
    call_function("lsh_bucket", vecCol, lit(nbits), lit(seed))

  /** LSH-bucketed ANN: corpus and queries hash to sign-sketch buckets; each
    * query scores only its bucket (single-probe). At 100 TB the corpus is
    * written bucketed/partitioned by this key so a query touches one
    * partition; here it is a join on the bucket. Recall < 1 by
    * construction; nbits trades bucket size vs recall.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10, nbits: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), nbits).as("bucket"))
      .withColumn("cn", norm(col("cv")))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), nbits).as("bucket"))
      .withColumn("qn", norm(col("qv"))))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
    rankTopK(scored, k)
  }

  /** Train-free IVF-style coarse quantizer: centroid id = index of the
    * dominant (largest-|x|) dimension. Each vector lives in exactly one of
    * `dim` cells; queries probe their own cell only. Against a trained
    * k-means codebook this trades recall for zero training — the partition
    * layout (corpus written clustered by cell) is identical.
    */
  def ivfCell(vecCol: Column): Column =
    aggregate(
      zip_with(vecCol, sequence(lit(0), size(vecCol) - 1),
        (x, i) => struct(abs(x.cast("double")).as("a"), i.as("i"))),
      struct(lit(-1.0).as("a"), lit(-1).as("i")),
      (best, cur) => when(cur.getField("a") > best.getField("a"), cur).otherwise(best))
      .getField("i")

  /** Multi-probe LSH ANN: each query probes its OWN bucket plus every
    * bucket at Hamming distance 1 in sketch space — nbits+1 probes per
    * query. For sign sketches a distance-1 bucket is one flipped
    * hyperplane decision, the most likely place a true neighbor landed
    * when it just missed the query's bucket: candidate probability rises
    * from p^nbits to p^nbits + nbits·p^(nbits−1)(1−p) (≈6× at the
    * fixture's neighbor angles) while corpus-side cost is UNCHANGED —
    * the corpus still hashes once and shuffles nothing; only the
    * broadcast query table fans out ×(nbits+1). A (query, neighbor)
    * pair can match at most one probe (probe buckets are distinct join
    * keys and a corpus row has one bucket), so nothing is scored twice
    * and no dedup pass is needed. The single-probe form is [[lshTopK]].
    */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                        nbits: Int = 8, seed: Long = 42L,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), nbits, seed).as("bucket"))
      .withColumn("cn", norm(col("cv")))
    val probeBuckets = (0 to nbits).map { i =>
      if (i == 0) col("b0") else col("b0").bitwiseXOR(lit(1L << (i - 1)))
    }
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        lshBucket(col(vecCol), nbits, seed).as("b0"))
      .select(col("query_id"), col("qv"),
        explode(array(probeBuckets: _*)).as("bucket"))
      .withColumn("qn", norm(col("qv"))))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
    rankTopK(scored, k)
  }

  /** Squared L2 distance via three codegen'd dot products:
    * |a−b|² = a·a + b·b − 2·a·b. Index-order double arithmetic, so the
    * DuckDB oracle replays it exactly with list_dot_product.
    */
  def l2sq(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)

  /** Nearest-centroid assignment — the IVF building block, oracle-gated
    * on its own: each vector gets the cell of its closest centroid
    * (squared-L2, 9dp-rounded with cell-id tie-break so float noise can't
    * flip the oracle compare). The codebook is O(cells·dim) floats — a
    * bounded model artifact, the same class as the IVF centroid pulls
    * the scale audit already allows — so it rides into the plan as a
    * LITERAL array and the argmin is a row-local `array_min` over
    * struct(dist, cell): identical (dist, cell) ordering to the former
    * min(struct) aggregate, but fully MAP-ONLY — the former
    * crossJoin + groupBy exchanged O(n) scored rows on every call (and
    * every Lloyd round). Each distance is the same Num.roundTo(l2sq, 9)
    * expression over bit-identical float literals, so assignments can't
    * move.
    */
  def assignCells(vectors: DataFrame, centroids: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    withNearestCell(vectors, centroids, idCol, vecCol)
      .select(col(idCol), col("cell"), col("dist"))

  /** [[assignCells]] retaining every input column (plus cell, dist) —
    * the Lloyd-loop form: the mean pass reads the vector straight off
    * the assigned row instead of shuffle-joining the corpus back onto
    * its own assignment.
    */
  private[ops] def withNearestCell(vectors: DataFrame, centroids: DataFrame,
                                   idCol: String, vecCol: String): DataFrame = {
    // cast cv explicitly: a caller-supplied array<double> codebook must
    // keep working through the public assignCells (the old broadcast
    // crossJoin form was element-type tolerant; getSeq[Float] alone is not)
    val cb = centroids.select(col("cell").cast("long"),
        col("cv").cast("array<float>").as("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    if (cb.isEmpty)
      // empty codebook assigns nothing — the crossJoin-with-empty result
      return vectors
        .withColumn("cell", lit(null).cast("long"))
        .withColumn("dist", lit(null).cast("double"))
        .filter(lit(false))
    val cbLit = array(cb.map { case (cell, cv) =>
      struct(lit(cell).as("cell"), typedLit(cv).as("cv")) }: _*)
    vectors
      .withColumn("_m", array_min(transform(cbLit, c =>
        struct(Num.roundTo(l2sq(col(vecCol), c.getField("cv")), 9).as("dist"),
          c.getField("cell").as("cell")))))
      .withColumn("cell", col("_m.cell"))
      .withColumn("dist", col("_m.dist"))
      .drop("_m")
  }

  /** Trained IVF codebook — Lloyd's iterations as a DataFrame loop (the
    * same iterative discipline as [[Dedup.connectedComponents]]:
    * localCheckpoint per round to cap lineage, shuffles sized to the
    * state, never the corpus²).
    *
    * Deterministic end to end: init = the `cells` lowest-id vectors
    * (replayable in SQL — no RNG), assignment tie-breaks on cell id, and
    * the new means use the decimal-exact numerator ([[Num.exactAvg]]) so
    * partial-aggregation order can't wiggle a centroid. Per iteration:
    * one map-only scoring pass + an O(n) assignment shuffle + an
    * O(cells·dim) mean shuffle. Cells that lose all members drop out
    * (standard Lloyd's degeneracy; the codebook just shrinks).
    *
    * Returns (cell: long, cv: array<float>) — the input layout of
    * [[assignCells]] / [[ivfTopKTrained]].
    */
  def trainIvfCodebook(df: DataFrame, cells: Int = 16, iters: Int = 5,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(cells > 0 && iters >= 0, "need cells > 0, iters >= 0")
    val vecs = df.select(col(idCol), col(vecCol))
    val init = Iterate.materialize(vecs.orderBy(col(idCol)).limit(cells)
      .select(col(idCol).cast("long").as("cell"), col(vecCol).as("cv")))
    lloydRounds(vecs, init, iters, idCol, vecCol)
  }

  /** The Lloyd's iteration body, shared by cold training
    * ([[trainIvfCodebook]], lowest-id init) and warm-started RETRAIN
    * ([[ivfRetrain]], init = the existing codebook) — ONE loop, so the
    * assignment tie-break, decimal-exact means, and float round-trip
    * can never diverge between the two paths. Per round: one map-only
    * scoring pass against the broadcast codebook, an O(n) assignment
    * shuffle, an O(cells·dim) mean shuffle; localCheckpoint caps
    * lineage. Cells that lose all members drop out.
    */
  private def lloydRounds(vecs: DataFrame, init: DataFrame, iters: Int,
                          idCol: String, vecCol: String): DataFrame = {
    var codebook = init
    var i = 0
    while (i < iters) {
      // assignment keeps the vector on the row (map-only literal-codebook
      // argmin), so the mean pass needs NO corpus self-join — each round
      // is one partial-aggregated (cell, dim) shuffle of O(cells·dim)
      // rows plus the tiny codebook re-collect
      val means = withNearestCell(vecs, codebook, idCol, vecCol)
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(Num.exactAvg(col("x").cast("double")).as("mx"))
      codebook = Iterate.materialize(means.groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
          s => s.getField("mx").cast("float")).as("cv")))
      i += 1
    }
    codebook
  }

  /** Warm-started codebook RETRAIN (the action v26's drift flag asks
    * for): Lloyd's seeded from the EXISTING centroids over corpus ∪
    * batch — the standard index-maintenance move (retraining from
    * scratch would discard the converged structure and, worse, renumber
    * cells, invalidating every at-rest cell partition; warm start keeps
    * cell identities so the re-layout cost is exactly the vectors that
    * MOVE). Returns the new (cell, cv) codebook; cell ids are a subset
    * of the input codebook's (a cell that loses all members drops out).
    */
  def ivfRetrainCodebook(corpus: DataFrame, batch: DataFrame, codebook: DataFrame,
                         iters: Int = 2, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val all = corpus.select(col(idCol), col(vecCol))
      .unionByName(batch.select(col(idCol), col(vecCol)))
    lloydRounds(all, codebook, iters, idCol, vecCol)
  }

  /** IVF RETRAIN report (v27) — closes the maintenance lifecycle
    * add ([[ivfAddReport]]) → drift flag → RETRAIN → re-layout: the
    * warm-started codebook from [[ivfRetrainCodebook]], evaluated as a
    * re-assignment DELTA — per original cell, how many vectors it held
    * under the old codebook (`n_before`), holds under the retrained one
    * (`n_after`), and how many arrived from / departed to other cells
    * (`n_in` / `n_out`). Σ n_in = Σ n_out = the switch-over cost: the
    * exact number of vectors the v21 at-rest layout must rewrite
    * (unmoved vectors stay in their cell partition untouched).
    *
    * All columns are integer counts — the gate is hash-exact with no
    * float in any decision. Cost: `iters` Lloyd's rounds over corpus +
    * batch (each one map-only scoring pass + an O(n) shuffle), two
    * assignment passes, and one id-keyed join of two 16-byte tables.
    */
  def ivfRetrain(corpus: DataFrame, batch: DataFrame, codebook: DataFrame,
                 iters: Int = 2, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val all = corpus.select(col(idCol), col(vecCol))
      .unionByName(batch.select(col(idCol), col(vecCol)))
    val retrained = ivfRetrainCodebook(corpus, batch, codebook, iters, idCol, vecCol)
    val before = assignCells(all, codebook, idCol, vecCol)
      .select(col(idCol), col("cell").as("cb"))
    val after = assignCells(all, retrained, idCol, vecCol)
      .select(col(idCol), col("cell").as("ca"))
    val mv = before.join(after, idCol)
    val spine = codebook.select(col("cell"))
    def cnt(src: DataFrame, key: String, out: String) =
      src.groupBy(col(key).as("cell")).agg(count(lit(1)).as(out))
    spine
      .join(cnt(mv, "cb", "n_before"), Seq("cell"), "left")
      .join(cnt(mv, "ca", "n_after"), Seq("cell"), "left")
      .join(cnt(mv.filter(col("ca") =!= col("cb")), "ca", "n_in"), Seq("cell"), "left")
      .join(cnt(mv.filter(col("ca") =!= col("cb")), "cb", "n_out"), Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        coalesce(col("n_out"), lit(0L)).as("n_out"))
  }

  /** IVF ANN over a trained codebook: corpus and queries each assign to
    * their nearest centroid (map-side argmin against the broadcast
    * codebook), then single-probe top-k within the cell — same physical
    * shape as [[ivfTopK]], but the cells now follow the data's actual
    * cluster structure instead of the dominant dimension, which is what
    * buys the recall. At 100 TB the corpus is written partitioned by
    * `cell` once and queries touch one partition each.
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
                     k: Int = 10, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val cAssign = assignCells(corpus, codebook, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(cAssign, "neighbor_id")
      .withColumn("cn", norm(col("cv")))
    val qAssign = assignCells(queries, codebook, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("cell"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(qAssign, "query_id")
      .withColumn("qn", norm(col("qv"))))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
    rankTopK(scored, k)
  }

  /** TOP PRINCIPAL COMPONENT by distributed POWER ITERATION — the
    * first step of PCA/whitening an embedding store: w ← normalize(
    * Σ_v (v·w)·v) for a fixed round count from the deterministic
    * e₀ = (1,0,…,0) start. Every round is ONE map pass (projection
    * against the broadcast 64-double w — a model artifact on the same
    * driver-held standing as PQ codebooks) plus a per-dimension
    * decimal-exact sum, so partial-aggregation order can't wiggle a
    * coordinate; the 64-row normalize runs driver-side in strict index
    * order, matching the oracle's sequential list fold, and each new
    * coordinate rounds at 9dp (the n1 fixed-iteration discipline).
    * Returns (dim, loading, eigenvalue): the unit component and the
    * final pre-normalization magnitude — the dominant-eigenvalue
    * estimate.
    *
    * Scale: rounds are a constant (5); each is O(n·dim) map work and an
    * O(dim) shuffle. No matrix ever materializes.
    */
  def powerIteration(df: DataFrame, iters: Int = 5, dim: Int = 64,
                     vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1 && dim >= 1)
    val spark = df.sparkSession
    var w: Array[Double] = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    var eig = 0.0
    for (_ <- 1 to iters) {
      val wLit = array(w.map(lit).toIndexedSeq: _*)
      val proj = aggregate(
        zip_with(col("v"), wLit, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
      val sums = df.select(col(vecCol).as("v"))
        .withColumn("d", proj)
        .select(posexplode(col("v")).as(Seq("dim", "x")), col("d"))
        .groupBy("dim")
        .agg(sum((col("x") * col("d")).cast("decimal(18,6)")).cast("double").as("sv"))
        .orderBy("dim")
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
      val s = Array.fill(dim)(0.0)
      sums.foreach { case (i, v) => s(i) = v }
      var nsq = 0.0
      var i = 0
      while (i < dim) { nsq += s(i) * s(i); i += 1 }
      eig = math.sqrt(nsq)
      w = s.map(x => math.floor(x / eig * 1e9 + 0.5) / 1e9)
    }
    import spark.implicits._
    w.zipWithIndex.map { case (v, i) =>
      (i.toLong, v, math.floor(eig * 1e9 + 0.5) / 1e9)
    }.toSeq.toDF("dim", "loading", "eigenvalue")
  }

  /** Project every vector onto the [[powerIteration]] component — the
    * "use the PCA" step (1-d compression, outlier axes, whitening's
    * first coordinate). The learned 64-double component is a staged
    * model artifact; the per-vector score is the same index-order fold
    * as training's projection pass, 9dp on output. Map-only.
    */
  def pcaProject(df: DataFrame, iters: Int = 5, dim: Int = 64,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val comp = powerIteration(df, iters, dim, vecCol)
      .orderBy("dim").collect().map(_.getDouble(1))
    val wLit = array(comp.map(lit).toIndexedSeq: _*)
    df.select(col(idCol),
      Num.roundTo(aggregate(zip_with(col(vecCol), wLit, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x), 9).as("pc1_score"))
      .orderBy(idCol)
  }

  /** AT-REST IVF layout — the claim every v-family scaladoc makes
    * ("at 100 TB the corpus is written partitioned by cell once and
    * queries touch one partition each"), MATERIALIZED: assign each
    * corpus vector to its trained cell and write hive-partitioned by
    * `cell`, so serving reads prune at the DIRECTORY level before any
    * footer is touched. Write once per codebook generation.
    */
  def writeIvfLayout(corpus: DataFrame, codebook: DataFrame, path: String,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val asg = assignCells(corpus, codebook, idCol, vecCol)
      .select(col(idCol), col("cell"))
    corpus.join(asg, Seq(idCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)
  }

  /** Serve top-k FROM the at-rest layout: assign queries to cells, prune
    * the corpus scan to exactly the probed cell DIRECTORIES (an `isin`
    * partition filter — the query batch's probe list is O(queries) cell
    * ids, serving coordination on the same standing as a staged
    * codebook), then the [[ivfTopKTrained]] scoring verbatim. Results
    * are identical to the in-memory single-probe path row for row —
    * v4's oracle gates this query too — but the SCAN now touches only
    * probed cells, which is the entire point at 100 TB.
    */
  /** DELTA re-layout (v28) — the at-rest ACTION that completes the IVF
    * maintenance lifecycle (add v26 → drift flag → retrain v27 →
    * RE-LAYOUT): after a warm-started retrain, only the cell partitions
    * whose MEMBERSHIP changed rewrite. Affected cells = every arrival or
    * departure endpoint (a vector moving a→b dirties both, because b
    * gains a row and a loses one); unmoved cells' parquet files are not
    * touched — at 100 TB the rewrite bill is proportional to the drift
    * v26 flagged, not to the corpus (spec'd: untouched partitions stay
    * byte-identical on disk).
    *
    * Mechanics are stock Spark: dynamic partition overwrite
    * (`partitionOverwriteMode=dynamic`) replaces exactly the `cell=`
    * partitions present in the written rows; an affected cell whose
    * membership drops to ZERO writes no partition, so its stale
    * directory is deleted explicitly (the one case dynamic overwrite
    * can't express). The affected-cell list is an O(|cells|) driver
    * pull — the same coordination class as [[ivfTopKFromLayout]]'s
    * probed-cell list. Returns the per-affected-cell rewrite report
    * (n_rows = 0 marks a deleted partition).
    */
  def ivfRelayoutDelta(spark: org.apache.spark.sql.SparkSession, path: String,
                       all: DataFrame, oldCodebook: DataFrame, newCodebook: DataFrame,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val before = assignCells(all, oldCodebook, idCol, vecCol)
      .select(col(idCol), col("cell").as("cb"))
    val after = assignCells(all, newCodebook, idCol, vecCol)
      .select(col(idCol), col("cell").as("ca"))
    val mv = Iterate.materialize(before.join(after, idCol))
    val moved = mv.filter(col("ca") =!= col("cb"))
    val affected = moved.select(col("ca").as("cell"))
      .unionAll(moved.select(col("cb").as("cell")))
      .distinct().collect().map(_.getLong(0)).sorted
    val written = if (affected.isEmpty) Map.empty[Long, Long] else {
      val rows = all.join(
          mv.select(col(idCol), col("ca").as("cell")), Seq(idCol))
        .filter(col("cell").isin(affected.map(Long.box).toIndexedSeq: _*))
      graft.Sessions.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
        rows.write.mode(org.apache.spark.sql.SaveMode.Overwrite).partitionBy("cell").parquet(path))
      rows.groupBy("cell").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // emptied affected cells: no partition written — remove the stale dir
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    affected.filterNot(written.contains).foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"cell=$c"), true)
    }
    affected.toSeq.map(c => (c, written.getOrElse(c, 0L)))
      .toDF("cell", "n_rows")
  }

  def ivfTopKFromLayout(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, codebook: DataFrame, k: Int = 10,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val qAssign = assignCells(queries, codebook, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("cell"))
    val probed = qAssign.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val c = spark.read.parquet(path)
      .filter(col("cell").isin(probed: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("cell"))
      .withColumn("cn", norm(col("cv")))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(qAssign, "query_id")
      .withColumn("qn", norm(col("qv"))))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
    rankTopK(scored, k)
  }

  /** Multi-probe cell assignment: the `nprobe` nearest centroids per
    * vector, by the same 9dp-rounded squared-L2 (with cell-id tie-break)
    * as [[assignCells]]. The bounded-heap `topk_by_score` aggregate
    * keeps per-vector state at ≤ nprobe entries (score = −dist, so the
    * heap's keep-max-k retains the min-dist cells); the n×k scored rows
    * never shuffle.
    */
  def assignCellsMulti(vectors: DataFrame, centroids: DataFrame, nprobe: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val c = broadcast(centroids.select(col("cell"), col("cv")))
    vectors.select(col(idCol), col(vecCol).as("v"))
      .crossJoin(c)
      .select(col(idCol), col("cell"),
        Num.roundTo(l2sq(col("v"), col("cv")), 9).as("dist"))
      .groupBy(idCol)
      .agg(call_function("topk_by_score", -col("dist"), col("cell"), lit(nprobe)).as("t"))
      .select(col(idCol), explode(col("t")).as("p"))
      .select(col(idCol), col("p.id").as("cell"), (-col("p.score")).as("dist"))
  }

  /** Multi-probe IVF ANN — the `nprobe` recall/cost knob every
    * production IVF exposes: the CORPUS keeps its one-cell-per-vector
    * at-rest layout (the partition-pruned storage is untouched — same
    * 100 TB story as [[ivfTopKTrained]]), while each QUERY probes its
    * `nprobe` nearest cells. Scoring cost scales linearly in nprobe on
    * the query side only; a (query, neighbor) pair can arise in at most
    * one probed cell (the neighbor lives in exactly one), so no dedup
    * pass. `nprobe = |codebook|` degenerates to exact brute force —
    * spec'd equal to [[bruteForceTopK]] row for row, which pins the
    * whole probe/join/rank pipeline's correctness.
    */
  def ivfTopKTrainedMultiProbe(corpus: DataFrame, queries: DataFrame,
                               codebook: DataFrame, k: Int = 10, nprobe: Int = 4,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val cAssign = assignCells(corpus, codebook, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(cAssign, "neighbor_id")
      .withColumn("cn", norm(col("cv")))
    val qAssign = assignCellsMulti(queries, codebook, nprobe, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("cell"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(qAssign, "query_id")
      .withColumn("qn", norm(col("qv"))))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
    rankTopK(scored, k)
  }

  /** IVF-bucketed ANN: single-probe top-k within the query's cell. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      ivfCell(col(vecCol)).as("cell"))
      .withColumn("cn", norm(col("cv")))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      ivfCell(col(vecCol)).as("cell"))
      .withColumn("qn", norm(col("qv"))))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
    rankTopK(scored, k)
  }

  /** Per-label element-wise mean embedding — class centroids, the
    * embedding-space summary an ML-data pipeline extracts per
    * class/cluster (seed centroids for IVF training, drift monitoring,
    * per-class similarity baselines). Explode fans each vector into
    * (label, dim, x) rows, but the aggregate is partial (map-side
    * combine), so shuffle volume is O(labels·dim) — independent of the
    * corpus row count. Decimal-exact numerator keeps the mean
    * bit-identical across engines.
    */
  def labelCentroids(df: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col(labelCol), col("dim").cast("long").as("dim"))
      .agg(Num.roundTo(Num.exactAvg(col("x").cast("double")), 6).as("mean_x"),
           count(lit(1)).as("n_vectors"))

  /** Leave-one-out kNN label accuracy — the standard intrinsic eval of
    * embedding quality: each vector queries the rest of the corpus, the
    * majority label of its k nearest neighbors is the prediction
    * (ties → smallest label), reported as per-label accuracy. Built on
    * the bounded-heap top-k, so the scoring pass keeps the map-side
    * shape; the vote argmax is a `max(struct(votes, -label))` aggregate —
    * deterministic, no window, no extra shuffle beyond the vote groupBy.
    *
    * SCALE WARNING — this is the FULL eval: every vector queries the
    * whole corpus, n² dot products. It exists as the exact oracle
    * baseline; a production pipeline evaluates on a sampled query set —
    * use [[knnLabelAccuracySampled]], which keeps the identical
    * prediction rule but shrinks the query side to n/stride vectors
    * before any scoring. (The scoring join here deliberately carries NO
    * broadcast hint: queries==corpus, and broadcasting the corpus would
    * hit the driver/8 GB broadcast ceiling first.)
    */
  def knnLabelAccuracy(df: DataFrame, k: Int = 5, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame =
    knnEval(df, df, k, idCol, vecCol, labelCol, hintBroadcast = false)

  /** Sampled kNN label eval — the production form of [[knnLabelAccuracy]]:
    * only every `stride`-th vector (deterministic [[querySet]], so two
    * runs and the oracle agree on the sample) queries the corpus, cutting
    * the scoring work from n² to n²/stride while every query still sees
    * the FULL corpus as neighbor candidates (true leave-one-out per
    * sampled query — self is excluded by id, never by sampling).
    * Accuracy is reported over the sampled queries only.
    */
  def knnLabelAccuracySampled(df: DataFrame, stride: Int = 10, k: Int = 5,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              labelCol: String = "label"): DataFrame = {
    require(stride > 0, "stride must be positive")
    knnEval(df, querySet(df, idCol, stride), k, idCol, vecCol, labelCol,
      hintBroadcast = true)
  }

  /** Shared eval core: top-k neighbors of `queries` within `corpus`,
    * majority-label vote (ties → smallest label), per-label accuracy
    * over the query set.
    */
  private def knnEval(corpus: DataFrame, queries: DataFrame, k: Int,
                      idCol: String, vecCol: String, labelCol: String,
                      hintBroadcast: Boolean): DataFrame = {
    val labels = queries.select(col(idCol).as("query_id"), col(labelCol).as("qlabel"))
    val votes = topKAggInternal(corpus, queries, k, idCol, vecCol, hintBroadcast)
      .join(corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("nb_label")),
            Seq("neighbor_id"))
      .groupBy("query_id", "nb_label").agg(count(lit(1)).as("votes"))
    val pred = votes.groupBy("query_id")
      .agg(max(struct(col("votes"), (-col("nb_label")).as("ng"))).as("m"))
      .select(col("query_id"), (-col("m.ng")).as("predicted"))
    labels.join(pred, Seq("query_id"))
      .groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"),
           sum(when(col("qlabel") === col("predicted"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        Num.roundTo(col("n_correct").cast("double") / col("n_queries"), 6))
  }

  /** Symmetric per-vector int8 quantization — the storage lever for an
    * embedding corpus (float32 → int8 is 4× smaller on disk and in
    * shuffle): scale = max|x|/127 per vector, q = floor(x/scale + 0.5)
    * (the same floor-based rounding [[Num.roundTo]] uses, so the oracle
    * replays it exactly; zero vectors quantize to zeros with scale 0).
    * Pure per-row expression. [[quantizationError]] reports per-label
    * mean reconstruction error — the go/no-go stat before switching an
    * ANN pipeline to quantized vectors.
    */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val x = col(vecCol)
    val scale = aggregate(x, lit(0.0f), (m, v) => greatest(m, abs(v))) / 127.0
    df.withColumn("q_scale", scale)
      .withColumn("q_vec", when(col("q_scale") > 0,
          transform(x, v => floor(v / col("q_scale") + 0.5).cast("int")))
        .otherwise(transform(x, _ => lit(0))))
  }

  /** Mean absolute reconstruction error of [[quantizeInt8]], per label. */
  def quantizationError(df: DataFrame, vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    val q = quantizeInt8(df, vecCol)
    val err = aggregate(
      zip_with(col(vecCol), col("q_vec"),
        (v, qi) => abs(v - qi * col("q_scale"))),
      lit(0.0), (acc, e) => acc + e) / size(col(vecCol))
    q.select(col(labelCol), err.as("err"))
      .groupBy(labelCol)
      .agg(Num.roundTo(Num.exactAvg(col("err")), 6).as("mean_abs_err"),
           count(lit(1)).as("n_vectors"))
  }

  /** Per-subspace product-quantization codebooks: the embedding splits
    * into `m` contiguous subvectors and each subspace trains its own
    * Lloyd's codebook ([[trainIvfCodebook]] on the slice — deterministic
    * lowest-id init, exact-decimal means). Storage: a vector becomes m
    * small codes (m bytes at cells ≤ 256) instead of dim floats — 64×
    * smaller at dim=64/m=4 — while reconstruction keeps per-subspace
    * cluster structure that whole-vector int8 scaling
    * ([[quantizeInt8]]) cannot express. Returns (sub, cell, cv).
    */
  def pqCodebooks(df: DataFrame, m: Int = 4, dim: Int = 64, cells: Int = 16,
                  iters: Int = 3, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subvecs = pqSubvectors(df, m, dim, idCol, vecCol)
    // init: the `cells` lowest-id vectors seed EVERY subspace (cell = id),
    // exactly [[trainIvfCodebook]]'s init applied per slice
    val initIds = broadcast(df.orderBy(col(idCol)).limit(cells).select(col(idCol)))
    var codebook = Iterate.materialize(subvecs.join(initIds, idCol)
      .select(col("sub"), col(idCol).cast("long").as("cell"), col("sv").as("cv")))
    var i = 0
    while (i < iters) {
      // all m subspaces advance in ONE Lloyd's pass: the per-subspace
      // loop form costs m× the fixed job latency for identical results
      // (same init, same 9dp-rounded distances, same tie-breaks, same
      // exact-decimal means — keyed by (sub, cell) instead of m plans)
      val assigned = pqAssign(subvecs, codebook)
      val means = subvecs.join(assigned, Seq(idCol, "sub"))
        .select(col("sub"), col("cell"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("cell"), col("dim"))
        .agg(Num.exactAvg(col("x").cast("double")).as("mx"))
      codebook = Iterate.materialize(means.groupBy(col("sub"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
          s => s.getField("mx").cast("float")).as("cv")))
      i += 1
    }
    codebook
  }

  /** (id, sub, sv): the m contiguous slices of each vector as rows. */
  private def pqSubvectors(df: DataFrame, m: Int, dim: Int,
                           idCol: String, vecCol: String): DataFrame = {
    val sub = dim / m
    df.select(col(idCol), posexplode(
      array((0 until m).map(s => slice(col(vecCol), s * sub + 1, sub)): _*))
      .as(Seq("sub", "sv")))
  }

  /** Nearest subspace centroid per (id, sub) — [[assignCells]]'s argmin
    * keyed by (id, sub) against the broadcast (sub, cell) codebook. */
  private def pqAssign(subvecs: DataFrame, codebook: DataFrame): DataFrame = {
    val idCol = subvecs.columns.head
    subvecs.join(broadcast(codebook), Seq("sub"))
      .select(col(idCol), col("sub"), col("cell"),
        Num.roundTo(l2sq(col("sv"), col("cv")), 9).as("dist"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("dist"), col("cell"))).as("mm"))
      .select(col(idCol), col("sub"), col("mm.cell").as("cell"))
  }

  /** PQ reconstruction-error report (the v8 contract for product
    * quantization): each subvector maps to its nearest subspace centroid
    * (broadcast codebook argmin, map-side), the reconstruction is the
    * centroid, and the report is per-label mean absolute error over all
    * dimensions. Hash-gated since round 12: the fixed-iteration
    * per-subspace Lloyd's replays CTE-for-CTE in DuckDB (the v4/v12
    * pattern keyed by (sub, cell)), and every float here is promoted to
    * double BEFORE subtraction — a float−float difference is exactly
    * representable in double, so both engines see bit-identical diffs —
    * with the cross-subspace sum folded in `sub` order (unordered double
    * sums are the one nondeterminism decimal casts don't fix).
    * Exactness specs additionally pin cells = corpus size → zero error.
    */
  def pqReconstructionError(df: DataFrame, m: Int = 4, dim: Int = 64,
                            cells: Int = 16, iters: Int = 3,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            labelCol: String = "label"): DataFrame =
    pqReconstructionErrorWith(df, pqCodebooks(df, m, dim, cells, iters, idCol, vecCol),
      m, dim, idCol, vecCol, labelCol)

  /** [[pqReconstructionError]] against a PRE-TRAINED codebook table —
    * the deployment shape: codebooks train once per corpus snapshot
    * (materialize [[pqCodebooks]] like any model artifact) and every
    * consumer (this report, [[pqTopKWith]] serving) reads them back.
    */
  def pqReconstructionErrorWith(df: DataFrame, books: DataFrame,
                                m: Int = 4, dim: Int = 64,
                                idCol: String = "vec_id", vecCol: String = "embedding",
                                labelCol: String = "label"): DataFrame = {
    val subvecs = pqSubvectors(df, m, dim, idCol, vecCol)
    subvecs
      .join(pqAssign(subvecs, books), Seq(idCol, "sub"))
      .join(broadcast(books), Seq("sub", "cell"))
      .select(col(idCol), col("sub"),
        aggregate(zip_with(col("sv").cast("array<double>"),
            col("cv").cast("array<double>"), (v, c) => abs(v - c)),
          lit(0.0), (acc, e) => acc + e).as("errsum"))
      .groupBy(col(idCol))
      .agg((aggregate(array_sort(collect_list(struct(col("sub"), col("errsum")))),
        lit(0.0), (acc, s) => acc + s.getField("errsum")) / dim).as("err"))
      .join(df.select(col(idCol), col(labelCol)), idCol)
      .groupBy(labelCol)
      .agg(Num.roundTo(Num.exactAvg(col("err")), 6).as("mean_abs_err"),
           count(lit(1)).as("n_vectors"))
      .orderBy(labelCol)
  }

  /** Reconstruct vectors from their PQ codes: each (id, sub) maps to its
    * centroid, and the m centroid slices concatenate in subspace order —
    * the decoded form of the m-byte code. At rest a 100 TB corpus stores
    * only codes + the KB-sized codebook; reconstruction happens on scan.
    */
  def pqReconstruct(df: DataFrame, codebooks: DataFrame, m: Int = 4, dim: Int = 64,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subvecs = pqSubvectors(df, m, dim, idCol, vecCol)
    pqAssign(subvecs, codebooks)
      .join(broadcast(codebooks), Seq("sub", "cell"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("cv")))),
        s => s.getField("cv"))).as(vecCol))
  }

  /** ANN over PQ-compressed storage: exact queries score against the
    * RECONSTRUCTED corpus — the asymmetric-distance serving path (64×
    * less corpus storage at dim 64/m=4/cells≤256; identical plan shape
    * to [[bruteForceTopKAgg]]). Recall floor gated in SimilaritySpec;
    * at cells = corpus size the reconstruction is exact and the result
    * equals brute force row for row (spec'd — the same total-parameter
    * pin as v12's nprobe=|cells|).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
             m: Int = 4, dim: Int = 64, cells: Int = 16, iters: Int = 3,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqTopKWith(corpus, queries,
      pqCodebooks(corpus, m, dim, cells, iters, idCol, vecCol),
      k, m, dim, idCol, vecCol)

  /** [[pqTopK]] against a pre-trained codebook table (see
    * [[pqReconstructionErrorWith]]). */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, books: DataFrame,
                 k: Int = 10, m: Int = 4, dim: Int = 64,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    bruteForceTopKAgg(pqReconstruct(corpus, books, m, dim, idCol, vecCol),
      queries, k, idCol, vecCol)

  /** IVF+PQ serving — the production ANN composition (FAISS's IVFPQ
    * expressed as DataFrame joins): IVF routing prunes the SEARCH (each
    * query scores only its `nprobe` nearest cells' vectors), PQ prunes
    * the STORAGE (scored vectors are their m-subspace reconstructions,
    * ~dim·4/m× smaller at rest). The two knobs are independent: recall
    * lost to routing comes back via nprobe, recall lost to compression
    * via more PQ cells. Cell ASSIGNMENT of the corpus uses the raw
    * vectors (build-time, exact — reconstruction error must not move
    * vectors across cell boundaries); only the scoring operand is
    * compressed. At nprobe = |codebook| and PQ cells = |corpus| this
    * degenerates to exact brute force — spec'd row-for-row equal, which
    * pins the whole composition.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                ivfCodebook: DataFrame, pqBooks: DataFrame,
                k: Int = 10, nprobe: Int = 4, m: Int = 4, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cAssign = assignCells(corpus, ivfCodebook, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val c = pqReconstruct(corpus, pqBooks, m, dim, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(cAssign, "neighbor_id")
      .withColumn("cn", norm(col("cv")))
    val qAssign = assignCellsMulti(queries, ivfCodebook, nprobe, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("cell"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(qAssign, "query_id")
      .withColumn("qn", norm(col("qv"))))
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Num.roundTo(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9).as("sim"))
    rankTopK(scored, k)
  }

  /** Sketch width that keeps average bucket size ≈ `targetBucket` rows:
    * the smallest b with targetBucket·2^b ≥ n (= ceil(log2(n /
    * targetBucket))), clamped to [8, 20]. A fixed nbits is a scale bug —
    * 2^8 bucket values saturate beyond ~65k rows and every bucket blows
    * past any sane cap; the keyspace must grow with the corpus. For
    * parquet sources the count is a metadata-only job.
    *
    * INTEGER-EXACT on purpose: a double log2 + ceil wobbles by one ulp
    * exactly when n/targetBucket is a power of two, and the DuckDB
    * oracle (x10) replays this width with the same integer shift
    * comparison — both engines agree bit for bit at every n.
    */
  def autoNbits(n: Long, targetBucket: Long = 64L): Int = {
    val raw = (0 to 21).find(b => (targetBucket << b) >= n).getOrElse(21)
    math.min(20, math.max(8, raw))
  }

  /** Driver-side row-count estimate from Catalyst plan statistics — runs
    * NO Spark job (file sizes come from the already-materialized
    * FileIndex). Exact `rowCount` when CBO stats exist; otherwise
    * `sizeInBytes / schema.defaultSize`, which undercounts by roughly the
    * parquet compression ratio — fine for log₂-scale sketch sizing, do
    * not use where exact cardinality matters.
    */
  def estimatedRows(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.longValue).getOrElse {
      val rowBytes = math.max(1, df.schema.defaultSize)
      math.max(1L, (stats.sizeInBytes / rowBytes).longValue)
    }
  }

  /** Embedding near-duplicate pairs: cosine >= threshold among collisions
    * in ANY of `tables` independent LSH tables (multi-table LSH — the
    * standard recall amplification: P[miss] = (1 - p^nbits)^tables).
    *
    * Scale shape (same discipline as [[Dedup.simhashNearDup]] /
    * [[Dedup.minhashLsh]]): candidate generation moves ONLY
    * (tbl, bucket, id) — 8-byte ids, never the vectors — through the
    * explode×tables and the bucket self-join; a pair colliding in several
    * tables collapses to ONE row via `distinct` BEFORE any dot product, so
    * each surviving pair is scored exactly once when the vectors join back.
    *
    * Over-cap buckets (near-constant embeddings — boilerplate corpora —
    * pile onto one sketch value and go quadratic) are SAMPLED down to
    * ≈`maxBucket` ids by a deterministic hash coin, never dropped
    * wholesale: a hot bucket still contributes O(maxBucket²) candidate
    * pairs instead of silently vanishing. Bucket sizes come from a
    * groupBy + equi-join (reuses the (tbl, bucket) exchange), not a
    * window — a window here funnels the whole id table through
    * tables·2^nbits single-task partitions.
    *
    * `nbits <= 0` (the default) auto-sizes the sketch via [[autoNbits]]
    * so the bucket keyspace tracks the corpus: 8 bits at fixture scale,
    * 20 bits at 100 TB. Pass an explicit width to pin behavior, or supply
    * `corpusCount` when the caller already knows |corpus|. The default
    * path stays LAZY — no Spark job runs at DataFrame construction: when
    * neither is given, n comes from [[estimatedRows]] (driver-side
    * Catalyst plan statistics). That estimate can be off by the parquet
    * compression ratio, but autoNbits is log₂-scale — a 4× row-count
    * error moves the width by 2 bits — and the maxBucket sampling cap
    * bounds the damage of an undersized sketch either way.
    */
  def embeddingNearDup(df: DataFrame, threshold: Double = 0.95, nbits: Int = 0,
                       tables: Int = 4, maxBucket: Long = 256,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       corpusCount: Option[Long] = None): DataFrame = {
    val bits =
      if (nbits > 0) nbits
      else autoNbits(corpusCount.getOrElse(estimatedRows(df)))
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", norm(col("v")))
    // id-only bucket table: the vectors stay behind; at 100 TB this is the
    // difference between shuffling 8-byte keys and shuffling the corpus ×4.
    val bucketed = df.select(col(idCol).as("id"),
      posexplode(array((0 until tables).map(t =>
        lshBucket(col(vecCol), bits, seed = 42L + t)): _*)).as(Seq("tbl", "bucket")))
    val sizes = bucketed.groupBy("tbl", "bucket").agg(count(lit(1)).as("bsz"))
    // over-cap sampling coin: splitmix64(splitmix64(id) ^ (tbl·1000003 +
    // bucket)) — chosen over xxhash64 so the DuckDB oracle replays the
    // sampling decision exactly (SqlHash.mix is the same finalizer)
    val coin = call_function("splitmix64",
      call_function("splitmix64", col("id").cast("long"))
        .bitwiseXOR(col("tbl").cast("long") * lit(1000003L) + col("bucket")))
    val keyed = bucketed.join(sizes, Seq("tbl", "bucket"))
      .filter(col("bsz") <= maxBucket || pmod(coin, col("bsz")) < maxBucket)
      .drop("bsz")
    val cands = keyed.select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .join(keyed.select(col("tbl"), col("bucket"), col("id").as("id_b")),
            Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Num.roundTo(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** EXACT embedding near-dup pairs: every (a < b) pair scored — the
    * oracle-checkable baseline that [[embeddingNearDup]]'s LSH candidate
    * generation approximates. Broadcast nested-loop (corpus × corpus);
    * quadratic by definition, so at scale it exists to validate the LSH
    * twin on samples, not to run on the full corpus.
    */
  def embeddingNearDupExact(df: DataFrame, threshold: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", norm(col("v")))
    vecs.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
      .join(broadcast(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))),
            col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Num.roundTo(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup (cluster-conditional semantic dedup, after Abbas et al.
    * 2023, arXiv:2303.09540): a trained k-means (IVF) codebook partitions
    * the corpus into cells, and the quadratic pair search runs only
    * WITHIN each cell — per-cell work is (n/cells)², and `cells` is sized
    * with the corpus (at 100 TB: tens of thousands of cells of a few
    * thousand vectors each, written partitioned by cell; the all-pairs
    * term never sees the global n²). Within a cell, any vector with a
    * smaller-id neighbor at cosine ≥ `threshold` is pruned — the
    * TRANSITIVE smaller-id-neighbor rule: the neighbor prunes you even
    * if it was itself pruned, so a chain A~B, B~C (A≁C) keeps only A.
    * Deterministic and arrival-order-free — and deliberately NOT the
    * sequential kept-set-conditional greedy (which would keep C above):
    * conditioning on the kept set would make each verdict depend on
    * every earlier verdict in id order, serializing the cell; this rule
    * is one self-join, embarrassingly parallel, and prunes a superset
    * of the paper's keep-one-per-semantic-cluster.
    *
    * Physical shape: one broadcast-codebook argmin assignment (map-only),
    * one within-cell self-join keyed on `cell`, and the dropped-id set
    * joins back as an 8-byte-key anti probe. Vectors cross the wire once
    * (the cell shuffle); scored pairs reduce to ids before the final join.
    *
    * Cross-engine determinism: assignment uses [[assignCells]]'s
    * 9dp-rounded squared-L2 with cell-id tie-break, and the pair cosine is
    * 9dp-rounded — both already replayed exactly by the DuckDB trained-IVF
    * CTEs, so the whole operator sits in the hash gate.
    *
    * Returns (idCol, cell, keep) over every input vector.
    */
  def semDeDup(df: DataFrame, codebook: DataFrame, threshold: Double = 0.42,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asg = assignCells(df, codebook, idCol, vecCol).select(col(idCol), col("cell"))
    val v = df.select(col(idCol), col(vecCol).as("v")).join(asg, Seq(idCol))
      .withColumn("nn", norm(col("v")))
    val dropped = v.select(col("cell"), col(idCol).as("id_a"), col("v").as("va"), col("nn").as("na"))
      .join(v.select(col("cell"), col(idCol).as("id_b"), col("v").as("vb"), col("nn").as("nb")),
            Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b"),
        Num.roundTo(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("dup", lit(true))
    v.select(col(idCol), col("cell"))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("dup").isNull.as("keep"))
  }

  /** Incremental SemDeDup — the daily-crawl flow: a NEW batch of vectors
    * dedups against an EXISTING corpus inside the corpus-trained IVF
    * cells. Both sides argmin-assign to `codebook`; a new vector survives
    * iff no corpus cell-mate sits at cosine ≥ `threshold`.
    *
    * New-vs-new duplicates are deliberately out of scope (run [[semDeDup]]
    * over the survivors next): each verdict then depends only on the
    * static corpus, never on batch-mates — which is what makes the
    * operator stateless per vector, arrival-order free, and lets its
    * streaming twin share this exact oracle. Cost is |new| × cell
    * occupancy; the corpus is never compared against itself, so daily
    * batches stay O(batch), independent of corpus age (the x6/x7
    * economics, in embedding space).
    *
    * Returns the surviving (idCol, cell) rows.
    */
  def semDeDupIncrement(corpus: DataFrame, newBatch: DataFrame,
                        codebook: DataFrame, threshold: Double = 0.42,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val ca = assignCells(corpus, codebook, idCol, vecCol)
      .select(col(idCol).as("corpus_id"), col("cell"))
    val cvecs = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .join(ca, Seq("corpus_id"))
      .withColumn("cn", norm(col("cv")))
    val nvecs = newBatch.select(col(idCol), col(vecCol).as("nv"))
      .join(assignCells(newBatch, codebook, idCol, vecCol).select(col(idCol), col("cell")),
            Seq(idCol))
      .withColumn("nn", norm(col("nv")))
    val dup = nvecs.join(cvecs, Seq("cell"))
      .select(col(idCol),
        Num.roundTo(dot(col("nv"), col("cv")) / (col("nn") * col("cn")), 9).as("sim"))
      .filter(col("sim") >= threshold)
      .select(idCol).distinct()
    nvecs.select(col(idCol), col("cell"))
      .join(dup, Seq(idCol), "left_anti")
  }

  /** Per-cell embedding OUTLIER report — the curation signal dual to
    * [[semDeDup]]: where SemDeDup prunes over-represented prototypes,
    * this flags the vectors FARTHEST from their trained centroid (noise,
    * mislabeled modality, encoder failures — the D4-style prune list).
    * Each vector gets its [[assignCells]] assignment (9dp squared-L2,
    * cell-id tie-break), a within-cell rank by (dist DESC, id), and an
    * integer-exact top-decile flag (rank·10 ≤ |cell| — no float
    * quantile). The window partitions by cell, whose size is corpus/cells
    * by construction — no hot key at any scale, and only (id, cell,
    * dist) rows ever shuffle.
    */
  def cellOutliers(df: DataFrame, codebook: DataFrame,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asg = assignCells(df, codebook, idCol, vecCol)
    val byDist = Window.partitionBy("cell").orderBy(col("dist").desc, col(idCol))
    val cell = Window.partitionBy("cell")
    asg.withColumn("rank", row_number().over(byDist).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(cell))
      .withColumn("is_outlier", col("rank") * 10 <= col("n_cell"))
  }

  /** END-TO-END embedding curation funnel — the embedding-side analog of
    * the c9 text pipeline, as ONE composed lazy plan: assign every vector
    * to its trained cell, prune the farthest decile per cell
    * ([[cellOutliers]]'s integer rank rule — noise and encoder failures
    * go first, the D4 ordering), then SemDeDup the SURVIVORS
    * ([[semDeDup]]'s greedy keep-earliest within-cell prune), and report
    * per label: total, outliers pruned, duplicates pruned among the
    * remainder, and kept. The assignment computes once and feeds both
    * stages; only (id, cell, dist) rows and the O(labels) report shuffle
    * beyond the stages' own documented shapes.
    */
  def embCurationReport(df: DataFrame, codebook: DataFrame,
                        threshold: Double = 0.42,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asg = assignCells(df, codebook, idCol, vecCol)
    val byDist = Window.partitionBy("cell").orderBy(col("dist").desc, col(idCol))
    val cellW = Window.partitionBy("cell")
    val flagged = asg
      .withColumn("rank", row_number().over(byDist).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(cellW))
      .withColumn("is_outlier", col("rank") * 10 <= col("n_cell"))
      .select(col(idCol), col("cell"), col("is_outlier"))
    val survivors = df.select(col(idCol), col(vecCol).as("v"))
      .join(flagged.filter(!col("is_outlier")).select(col(idCol), col("cell")), Seq(idCol))
      .withColumn("nn", norm(col("v")))
    val dups = survivors
      .select(col("cell"), col(idCol).as("id_a"), col("v").as("va"), col("nn").as("na"))
      .join(survivors.select(col("cell"), col(idCol).as("id_b"), col("v").as("vb"), col("nn").as("nb")),
            Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b"),
        Num.roundTo(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("is_dup", lit(true))
    df.select(col(idCol), col(labelCol).as("label"))
      .join(flagged.select(col(idCol), col("is_outlier")), Seq(idCol))
      .join(dups, Seq(idCol), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
           sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
           sum(when(!col("is_outlier") && col("is_dup").isNotNull, 1L).otherwise(0L)).as("n_dups"),
           sum(when(!col("is_outlier") && col("is_dup").isNull, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("label")
  }

  /** Greedy k-center CORESET selection — farthest-point traversal
    * (Gonzalez's 2-approximation): seed with the lowest-id vector, then
    * repeatedly pick the vector FARTHEST from everything selected so
    * far. The canonical diversity-selection pass a training-data curator
    * runs to pick maximally-spread exemplars (seed sets for active
    * learning, probe sets for eval, diverse few-shot pools).
    *
    * Deterministic end to end: 9dp-rounded squared-L2 ([[l2sq]]'s
    * |a|²+|b|²−2a·b formulation), argmax tie-breaks to the LOWEST
    * vec_id, no RNG — so the whole selection sequence replays in SQL as
    * a recursive CTE (the n1-PageRank discipline: fixed rounds, integer/
    * rounded-double state). Returns one row per selected center:
    * (rank, vec_id, dist) where `dist` is the coverage radius at
    * selection time — the min squared-L2 to the previously selected
    * set (NULL for the seed). The dist sequence is non-increasing; its
    * last value bounds how far any corpus vector sits from the coreset
    * (the 2-approx guarantee's witness). If the coverage radius hits 0
    * before k centers are chosen, selection stops — the output never
    * repeats a vec_id, it just has fewer than k rows. Radius-0 means
    * every remaining vector coincides with a selected center AT THE
    * SHARED 9dp ROUNDING (k exceeding the distinct-vector count is the
    * common cause; vectors within ~2e-5 L2 of a center are the same
    * point to this operator's arithmetic, by design — the rounding is
    * what makes the whole sequence SQL-replayable).
    *
    * Scale shape: k rounds, each ONE map-only pass against a broadcast
    * 1-row center plus a scalar argmax (partial max(struct) — no
    * shuffle of vectors, O(partitions) rows move). State is (id, d)
    * pairs refreshed per round via [[Iterate.materialize]] (lineage
    * capped, constant per-round stats). Total cost k linear passes —
    * the textbook trade for exact farthest-point at 100 TB; k is a
    * model-size constant (10s), never data-scale.
    */
  def kCenterCoreset(df: DataFrame, k: Int = 8, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "need k >= 1")
    val vecs = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val seed = Iterate.materialize(
      vecs.orderBy("vec_id").limit(1)
        .select(lit(0L).as("rank"), col("vec_id"),
          lit(null).cast("double").as("dist"), col("v")))
    var centers = Seq(seed)
    var state = Iterate.materialize(
      vecs.crossJoin(broadcast(seed.select(col("v").as("cv"))))
        .select(col("vec_id"), col("v"),
          Num.roundTo(l2sq(col("v"), col("cv")), 9).as("d")))
    var r = 1L
    var exhausted = false
    while (r < k && !exhausted) {
      val nxt = state
        .agg(max(struct(col("d"), (-col("vec_id")).as("negid"))).as("m"))
        .select((-col("m.negid")).as("vec_id"), col("m.d").as("dist"), lit(r).as("rank"))
      val center = Iterate.materialize(
        nxt.join(vecs, "vec_id").select(col("rank"), col("vec_id"), col("dist"), col("v")))
      // coverage radius 0 ⇒ every remaining vector coincides with a
      // selected center (k exceeds the distinct-vector count): stop
      // instead of re-selecting the seed as a duplicate "center". The
      // probe reads the 1-row argmax — same coordination class as the
      // per-round scalar the loop already materializes.
      val dmax = center.select(col("dist")).collect()
      if (dmax.isEmpty || dmax(0).isNullAt(0) || dmax(0).getDouble(0) == 0.0)
        exhausted = true
      else {
        centers = centers :+ center
        state = Iterate.materialize(
          state.crossJoin(broadcast(center.select(col("v").as("cv"))))
            .select(col("vec_id"), col("v"),
              least(col("d"), Num.roundTo(l2sq(col("v"), col("cv")), 9)).as("d")))
        r += 1
      }
    }
    centers.reduce(_ unionByName _)
      .select(col("rank"), col("vec_id"), col("dist"))
      .orderBy("rank")
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diversified re-ranking: from each query's top-`poolK` relevance
    * candidates, greedily select `k` results maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — the standard
    * redundancy-penalized retrieval pass (diverse few-shot pools,
    * dedup'd search results, coverage-first RAG context).
    *
    * Deterministic: relevance and pairwise similarity are the shared
    * 9dp-rounded cosine, the combined score re-rounds at 9dp, argmax
    * tie-breaks to the LOWEST neighbor id, and the first pick is the
    * plain relevance argmax (λ·rel ordering ≡ rel ordering) — so the
    * whole greedy sequence replays in SQL as a per-query recursive CTE.
    *
    * Scale shape: candidate generation is [[bruteForceTopKAgg]]'s
    * map-side-bounded heap (swap in any ANN variant at scale — the
    * re-rank only sees (query, poolK) rows). The greedy loop runs k−1
    * rounds over state of O(queries·poolK) rows — pool-sized, never
    * corpus-sized; each round is one per-query argmax aggregate plus a
    * broadcast-sized join against the per-query pick. k and poolK are
    * result-page constants, so rounds don't grow with data.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, poolK: Int = 16,
                k: Int = 8, lam: Double = 0.7, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && poolK >= k, "need 1 <= k <= poolK")
    require(lam >= 0.0 && lam <= 1.0, "lambda in [0,1]")
    val mu = 1.0 - lam
    val pool = bruteForceTopKAgg(corpus, queries, poolK, idCol, vecCol)
    val vecsN = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nn"))
    val cand = pool.join(vecsN, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("sim").as("rel"),
        col("v"), col("nn"))
    def pairSim(sv: Column, snn: Column): Column =
      Num.roundTo(dot(col("v"), sv) / (col("nn") * snn), 9)
    val firstPick = Iterate.materialize(
      pool.filter(col("rank") === 1).join(vecsN, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("sim").as("rel"),
          col("v"), col("nn")))
    var selected = Seq(firstPick.select(col("query_id"), lit(1L).as("rank"),
      col("neighbor_id"), col("rel"),
      Num.roundTo(lit(lam) * col("rel"), 9).as("mmr_score")))
    var state = Iterate.materialize(
      cand.join(firstPick.select(col("query_id"), col("neighbor_id").as("sid"),
          col("v").as("sv"), col("nn").as("snn")), Seq("query_id"))
        .filter(col("neighbor_id") =!= col("sid"))
        .select(col("query_id"), col("neighbor_id"), col("rel"), col("v"), col("nn"),
          pairSim(col("sv"), col("snn")).as("msim")))
    var r = 2L
    while (r <= k) {
      val pick = Iterate.materialize(
        state.withColumn("score",
            Num.roundTo(lit(lam) * col("rel") - lit(mu) * col("msim"), 9))
          .groupBy("query_id")
          .agg(max(struct(col("score"), (-col("neighbor_id")).as("negid"))).as("m"))
          .select(col("query_id"), (-col("m.negid")).as("neighbor_id"),
            col("m.score").as("mmr_score"))
          .join(state.select(col("query_id"), col("neighbor_id"), col("rel"),
            col("v").as("sv"), col("nn").as("snn")), Seq("query_id", "neighbor_id")))
      selected = selected :+ pick.select(col("query_id"), lit(r).as("rank"),
        col("neighbor_id"), col("rel"), col("mmr_score"))
      state = Iterate.materialize(
        state.join(pick.select(col("query_id"), col("neighbor_id").as("sid"),
            col("sv"), col("snn")), Seq("query_id"))
          .filter(col("neighbor_id") =!= col("sid"))
          .select(col("query_id"), col("neighbor_id"), col("rel"), col("v"), col("nn"),
            greatest(col("msim"), pairSim(col("sv"), col("snn"))).as("msim")))
      r += 1
    }
    selected.reduce(_ unionByName _).orderBy("query_id", "rank")
  }

  /** Map-only cell assignment against a DRIVER-HELD codebook: the same
    * 9dp-rounded squared-L2 with cell-id tie-break as [[assignCells]],
    * expressed as one array_min over literal (dist, cell) structs —
    * no aggregation, so it runs inside a streaming micro-batch plan.
    * (A k-row codebook is a model artifact; holding it on the driver is
    * coordination, not data movement — the same standing as the staged
    * PQ books.)
    */
  def assignCellExpr(codebook: Seq[(Long, Array[Float])], vecCol: Column): Column = {
    require(codebook.nonEmpty, "codebook must be non-empty")
    val entries = codebook.map { case (cell, cv) =>
      val cvCol = typedLit(cv.toSeq)
      struct(Num.roundTo(l2sq(vecCol, cvCol), 9).as("dist"), lit(cell).as("cell"))
    }
    array_min(array(entries: _*)).getField("cell")
  }
}
