package graft.operators

import graft.functions.{MinHash, Portable, VectorFunctions => V}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search and near-duplicate detection — SURVEY.md §2.10.
  *
  * Two regimes, chosen explicitly by the caller (SURVEY §4.2: the
  * brute-force→LSH rewrite is an API decision, not an optimizer rule):
  *
  *  - [[bruteForceTopK]]: exact cosine top-k for a SMALL query set against a
  *    large corpus — broadcast the queries, never materialize corpus×corpus.
  *  - [[lshBucketJoin]] / [[minhashCandidatePairs]]: the 100 TB path — hash
  *    rows into buckets (random-hyperplane bits for vectors, MinHash bands
  *    for documents) and only compare within buckets, turning all-pairs into
  *    an equi-join shuffle.
  *
  * The vector operators share one skeleton: candidate pairs, an optional
  * int8 pre-score ([[int8Codes]] + [[approxCosine]]), a survivor fetch of
  * the float vectors ([[withEndpoints]]) and the exact rescore
  * ([[rankNeighbors]]). The token operators share the hashed token sets,
  * the rarest-first ranking, the first-common-token pair dedup and the
  * verify join.
  */
object Similarity {

  // ---- shared building blocks ------------------------------------------

  /** Top `n` rows per `partition` by `round(score, 6)` desc, ties broken by
    * `tieBreak` asc — the one deterministic ranking of every operator here
    * (the DuckDB oracles replay it), with the rank in `rn`. A partitioned
    * window, never a global sort; Spark's WindowGroupLimit applies the
    * limit map-side, so the exchange carries survivors only. */
  private def topKBy(df: DataFrame, partition: String, score: String,
      tieBreak: String, n: Int): DataFrame = {
    val w = Window.partitionBy(partition).orderBy(round(col(score), 6).desc, col(tieBreak))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Partition count of an expansion join (a join whose output is far
    * larger than its inputs): one partition per ~1k corpus rows, capped at
    * spark.sql.shuffle.partitions, which is also the count without
    * `corpusRows`. An explicit count keeps AQE from coalescing the exchange
    * by its INPUT bytes, which would leave the expanded output on a
    * handful of tasks. */
  private def expansionPartitions(spark: SparkSession, corpusRows: Option[Long]): Int = {
    val cap = spark.sessionState.conf.numShufflePartitions
    corpusRows.map(n => math.max(1L, math.min(cap.toLong, n / 1000 + 1)).toInt).getOrElse(cap)
  }

  /** The corpus-size SHUFFLE_HASH gate shared by the candidate joins
    * (jaccard prefix, containment expansion) and the survivor fetches: at
    * >= 20k rows broadcast is out of reach and sort-merge would sort
    * inputs whose order nobody needs (SCALE_r14.json `shj_dial_ab_100x`:
    * −18% end-to-end at 100x). Below it the planner's choice stands. */
  private def shjGate(corpusRows: Option[Long]): Boolean = corpusRows.exists(_ >= 20000L)

  /** Gated SHUFFLE_HASH hint for the node-sized BUILD side of a survivor
    * fetch (vectors or codes keyed by `key`). Above [[shjGate]] the wide
    * pair stream streams unsorted past a hash build, and the build side is
    * repartitioned on `key` by [[expansionPartitions]]: SHJ's hash build
    * cannot spill, so ~1k vectors per partition (≈ 6 MB at dim=768) bounds
    * it at any corpus size; the explicit count opts out of AQE coalescing
    * and EnsureRequirements aligns the pair side to it. */
  private def fetchHint(df: DataFrame, key: String, corpusRows: Option[Long]): DataFrame =
    if (!shjGate(corpusRows)) df
    else df.repartition(expansionPartitions(df.sparkSession, corpusRows), col(key))
      .hint("SHUFFLE_HASH")

  /** int8 code table of the non-degenerate vectors of `df`: (id, vec, qs,
    * qn, qc) — the symmetric scale max|x|/127, the float norm and the
    * HALF_UP byte codes (1 byte/dim in Tungsten), all from one native
    * pass ([[graft.expressions.Int8Codes]], evaluated once per row because
    * the struct alias is referenced three times). Zero vectors are dropped
    * (`qs > 0`): cosine is undefined on them and their codes would score
    * NaN, which a descending sort ranks FIRST. Both engines derive
    * identical codes, so every gated path is oracle-replayable. */
  private def int8Codes(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id), col(vec), V.int8Codes(col(vec)).as("__q"))
      .select(col(id), col(vec),
        col("__q").getField("qs").as("qs"),
        col("__q").getField("qn").as("qn"),
        col("__q").getField("qc").as("qc"))
      .filter(col("qs") > 0)

  /** The code columns a pair side carries, in side order. */
  private val Codes = Seq("qc", "qs", "qn")

  /** Cosine approximated on int8 codes of sides `a` and `b` (columns
    * `{a}qc`, `{a}qs`, `{a}qn`): the exact integer dot, rescaled by both
    * scales and normalized by the float norms, so the coarse order matches
    * the cosine order the exact rescore refines (a raw dot would misalign
    * the cut on mixed-norm corpora). |code| <= 127 keeps the dot far
    * inside Long at any dim. */
  private def approxCosine(a: String, b: String): Column =
    V.int8Dot(col(a + "qc"), col(b + "qc")).cast("double") * col(a + "qs") * col(b + "qs") /
      (col(a + "qn") * col(b + "qn"))

  /** One side of a pair: `vec_id` as `key`, each payload column with
    * prefix `p` (`v` becomes `sv` on the src side, `dv` on the dst side). */
  private def sideCols(key: String, p: String, payload: Seq[String]): Seq[Column] =
    col("vec_id").as(key) +: payload.map(c => col(c).as(p + c))

  /** Join both endpoints' payload from the node-sized `table` (vec_id,
    * payload...) onto (src, dst) pairs — the survivor fetch. Each build
    * side goes through [[fetchHint]]. */
  private def withEndpoints(pairs: DataFrame, table: DataFrame, payload: Seq[String],
      corpusRows: Option[Long]): DataFrame = {
    def fetch(key: String, p: String) =
      fetchHint(table.select(sideCols(key, p, payload): _*), key, corpusRows)
    pairs.join(fetch("src", "s"), Seq("src")).join(fetch("dst", "d"), Seq("dst"))
  }

  /** Per-src top `n` of (src, dst, s*, d*) code pairs by [[approxCosine]]:
    * the survivors (src, dst) that go on to the float fetch. */
  private def prescore(pairs: DataFrame, n: Int): DataFrame =
    topKBy(pairs.withColumn("approx", approxCosine("s", "d")), "src", "approx", "dst", n)
      .select(col("src"), col("dst"))

  /** Exact cosine of (src, dst, sv, dv) pairs, ranked per src: the (src,
    * dst, cos, rn) graph schema with rn in 1..k. */
  private def rankNeighbors(pairs: DataFrame, k: Int): DataFrame =
    topKBy(pairs.withColumn("cos", V.cosineNative(col("sv"), col("dv")))
      .select(col("src"), col("dst"), col("cos")), "src", "cos", "dst", k)

  /** Float vectors fetched for the (src, dst) survivors only, then the
    * exact rescore. `vecs` is the (vec_id, v) table with zero-norm rows
    * already dropped. */
  private def exactRescore(surv: DataFrame, vecs: DataFrame, k: Int,
      corpusRows: Option[Long]): DataFrame =
    rankNeighbors(withEndpoints(surv, vecs, Seq("v"), corpusRows), k)

  /** Drop zero-norm vectors: cosine is undefined on them and cosineNative
    * yields NaN, which a descending window ranks FIRST (one degenerate
    * vector would become every bucket-mate's top neighbor, and engines
    * disagree on NaN order). The graph oracles mirror it. */
  private def nonZero(emb: DataFrame): DataFrame =
    emb.filter(V.l2NormNative(col("v")) > 0)

  // ---- query-vs-corpus retrieval ---------------------------------------

  /** Exact cosine top-k per query vector. `queries` must be small (it is
    * broadcast); the corpus scan stays fully distributed and the per-query
    * ranking is a partitioned window (never a global sort). */
  def bruteForceTopK(
      queries: DataFrame, // (q_id, qv: array<double>)
      corpus: DataFrame,  // (vec_id, cv: array<double>)
      k: Int): DataFrame =
    topKBy(corpus.crossJoin(broadcast(queries))
      .withColumn("cos", V.cosineNative(col("qv"), col("cv"))), "q_id", "cos", "vec_id", k)

  /** ColBERT-style late-interaction retrieval (Khattab & Zaharia, "ColBERT:
    * Efficient and Effective Passage Search via Contextualized Late
    * Interaction over BERT", SIGIR 2020): documents are BAGS of vectors and
    * score(q, d) = Σ over q's vectors of the max cosine against d's vectors
    * — finer-grained than single-vector cosine, the reranker shape of
    * retrieval-augmented training-data pipelines.
    *
    * `queries` must be small (broadcast, like [[bruteForceTopK]]); the
    * corpus scan stays distributed. The MaxSim reduction is two keyed
    * aggregations with map-side partials — the shuffle after the broadcast
    * join carries at most (corpus docs × query vectors) partial maxes per
    * partition, never the raw corpus×query cosine matrix — and the final
    * ranking is a partitioned window, never a global sort. */
  def maxSimTopK(
      queries: DataFrame, // (q_doc, qv_id, qv: array<double>) — SMALL
      corpus: DataFrame,  // (c_doc, cv: array<double>)
      k: Int): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries))
      .withColumn("cos", V.cosineNative(col("qv"), col("cv")))
      .groupBy("q_doc", "c_doc", "qv_id")
      .agg(max("cos").as("mx"))
      .groupBy("q_doc", "c_doc")
      .agg(sum("mx").as("maxsim"))
    topKBy(scored, "q_doc", "maxsim", "c_doc", k)
  }

  /** Quantized coarse scan + exact rerank — the MEMORY-bound ANN pattern
    * (Jégou et al.'s scan-then-refine shape on the simplest codebook:
    * symmetric per-vector int8): at 100 TB the embedding store, not the
    * flops, is the cost driver, so the full corpus is scanned as int8
    * codes ([[int8Codes]], 8x smaller than doubles) under an INTEGER dot
    * product, and only the top `candidateFactor * k` coarse survivors per
    * query fetch their float vectors (one tiny equi-join) for the exact
    * cosine rerank.
    *
    * Recall contract: approximate — the coarse order can drop a true
    * top-k member whose quantized score falls below rank m (the factor is
    * the dial; QuantRerank tests measure recall vs brute force). Both
    * engines derive identical int8 codes, so the result set is
    * deterministic and the DuckDB oracle replays it exactly.
    *
    * Zero-norm vectors are dropped on BOTH sides at quantize time: a
    * zero-norm CORPUS vector never appears in any ranking, and a zero-norm
    * QUERY vector's q_id is absent from the output entirely — a missing
    * q_id means the query itself was degenerate, not that the corpus was
    * empty for it.
    *
    * Plan shape: corpus-side narrow map (quantize) → broadcast-queries
    * cross join under integer arithmetic → per-query window over the
    * coarse score → survivors join back to the float corpus (equi-join on
    * vec_id, candidate-volume-sized) → windowed exact rerank. No global
    * sort; nothing corpus-sized ever shuffles except the two windows'
    * hash exchanges on q_id. */
  def quantRerankTopK(
      queries: DataFrame, // (q_id, qv: array<double>) — SMALL (broadcast)
      corpus: DataFrame,  // (vec_id, cv: array<double>)
      k: Int,
      candidateFactor: Int = 4): DataFrame = {
    require(k >= 1 && candidateFactor >= 1)
    def coded(df: DataFrame, id: String, vec: String, p: String) =
      int8Codes(df, id, vec).select(col(id),
        col("qs").as(p + "qs"), col("qn").as(p + "qn"), col("qc").as(p + "qc"))
    val coarse = coded(corpus, "vec_id", "cv", "c")
      .crossJoin(broadcast(coded(queries, "q_id", "qv", "q")))
      .withColumn("approx", approxCosine("q", "c"))
    val survivors = topKBy(coarse, "q_id", "approx", "vec_id", k * candidateFactor)
      .select("q_id", "vec_id")
    topKBy(survivors.join(corpus, Seq("vec_id")).join(broadcast(queries), Seq("q_id"))
      .withColumn("cos", V.cosineNative(col("qv"), col("cv"))), "q_id", "cos", "vec_id", k)
  }

  /** nBits-bit signed-random-projection bucket id for a vector column.
    * The hyperplane signs are md5-derived (Portable.srpSign), computed at
    * plan time and reproducible by the DuckDB oracle.
    *
    * Degenerate-input contract (pinned by ExpressionSpec): a NULL vector
    * and a vector whose length != dim both map to bucket 0L, and the
    * output is NON-nullable — the exact semantics of the original
    * per-bit when/otherwise fold. The nullability is load-bearing: a
    * nullable bucket join key lets Catalyst infer isnotnull filters that
    * push asymmetrically into [[lshBucketJoin]]/[[knnGraph]]'s
    * probe-vs-plain branches and break their one-corpus-exchange
    * ReuseExchange contract (ExchangeReuseSpec pins one corpus exchange
    * for lshBucketJoin(multiProbe)). Rows bucketed to 0L by
    * the degenerate rule still never emit pairs: cosine against a NULL
    * vector is NULL, which fails every consumer's `cos >= threshold`
    * filter; zero-NORM vectors (whose cosine is NaN — and NaN compares
    * HIGH in both Spark and DuckDB) are dropped by knnGraph's explicit
    * norm guard before bucketing. */
  def srpBucket(vec: Column, dim: Int, nBits: Int): Column = {
    // one fused codegen loop over a plan-constant sign matrix (see
    // graft.expressions.SrpBucket)
    val signs = Array.tabulate(nBits, dim)(Portable.srpSign)
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.SrpBucket(expression(vec), signs))
  }

  /** Bucket exchange with the partition count PINNED to the session's
    * shuffle parallelism. The bucket self-joins EXPLODE their input:
    * candidate-pair output is ~targetPop x (nBits+1) x the row count, so
    * the exchange's byte size wildly under-states the downstream stage's
    * work, and AQE's byte-based coalescing would collapse the scoring
    * stage to a handful of tasks — worst on the gated seed, whose int8
    * codes compress ~10x better than floats (OPTIMIZATION_r17.md: 34 tasks,
    * one running the whole 100x wall). An explicit numPartitions makes the
    * repartition non-coalescable while staying config-driven (the scale
    * probes set spark.sql.shuffle.partitions per scale). */
  private def pinnedByBucket(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col("bucket"))

  /** Bits for [[lshBucketJoin]] sized from the corpus: 2^nBits buckets
    * targeting `targetBucketSize` expected rows per bucket, so in-bucket
    * pair work stays ~corpus × targetBucketSize (linear, not quadratic)
    * and bucket count — the join's parallelism bound — GROWS with the
    * corpus instead of being a fixed constant that saturates at scale.
    * Clamped to [4, `maxBits`] (default 24): below 4 bits buckets are a
    * broadcast-sized handful; above 24 the hyperplane evaluation
    * dominates. PAST the cap the flat-population contract breaks by
    * design: expected bucket population becomes corpusSize / 2^maxBits —
    * linear in the corpus, independent of targetBucketSize — so the
    * operator's per-bucket pair work grows linearly too. The dials are
    * then `maxBits` itself (each extra bit halves the population at one
    * more hyperplane dot per row) or accepting the larger effective
    * bucket. `maxBits` is a parameter (not a constant) precisely so that
    * posture is executable: ScaleUpSpec forces a small cap and pins the
    * linear growth, plus the restore-by-raising-the-cap curve. */
  def lshNBits(corpusSize: Long, targetBucketSize: Long = 64L, maxBits: Int = 24): Int = {
    val buckets = math.max(1L, corpusSize / math.max(1L, targetBucketSize))
    math.min(maxBits, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)))
  }

  /** LSH near-dup pairs over an embedding table: bucket by SRP bits, compare
    * only within buckets, keep pairs with cosine >= threshold. The self-join
    * is an equi-join on the bucket id — shuffle-partitioned, no cross join.
    *
    * `multiProbe` trades candidate volume for recall: the probe side also
    * emits every Hamming-distance-1 bucket (nBits extra keys per row), so a
    * near-dup pair split by ONE unlucky hyperplane still collides. The
    * probe keys per row are distinct, so each pair still matches at most
    * once and needs no dedup. Higher nBits (from [[lshNBits]]) + multiProbe
    * is the scale posture: smaller buckets, recall recovered by probing. */
  def lshBucketJoin(
      emb: DataFrame, // (vec_id, v: array<double>)
      dim: Int,
      nBits: Int,
      minCosine: Double,
      multiProbe: Boolean = false): DataFrame = {
    // exchange on the join key: materializes the bucket bits once instead
    // of letting CollapseProject recompute 16 dot products per joined row
    val bucketed = pinnedByBucket(
      emb.withColumn("bucket", srpBucket(col("v"), dim, nBits)))
    val a = bucketed.select(
      col("bucket"), col("vec_id").as("id_a"), col("v").as("v_a"))
    // single-probe keeps b a plain projection so the join reuses the one
    // exchange above for both sides; only multi-probe pays the explode
    // (whose fresh join-key attribute forces a second shuffle)
    val b =
      if (!multiProbe)
        bucketed.select(
          col("bucket"), col("vec_id").as("id_b"), col("v").as("v_b"))
      else bucketed
        .select(col("bucket").as("b_bucket"),
          col("vec_id").as("id_b"), col("v").as("v_b"))
        .withColumn("bucket", explode(probeKeys(col("b_bucket"), nBits)))
        .drop("b_bucket")
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", V.cosineNative(col("v_a"), col("v_b")))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Persistable SRP bucket table of an embedding corpus: (vec_id,
    * bucket) — ONE long per vector, the ANN twin of [[bandTable]]. An
    * ingest pipeline keeps this table (plus the vectors themselves, which
    * it already stores) and near-dups new arrivals without recomputing a
    * single corpus bucket; growth = append the admitted vectors' rows. */
  def bucketTable(
      emb: DataFrame, // (vec_id, v: array<double>)
      dim: Int,
      nBits: Int): DataFrame =
    emb.select(col("vec_id"),
      srpBucket(col("v"), dim, nBits).as("bucket"))

  /** Incremental embedding near-dup: which incoming vectors are
    * near-duplicates (cosine >= minCosine) of the EXISTING corpus,
    * joining the incoming batch's multi-probe keys (own bucket +
    * Hamming-1 neighbors, same recall contract as lshBucketJoin) against
    * the persisted [[bucketTable]]. Corpus buckets are never recomputed;
    * corpus VECTORS are fetched by id for candidate pairs only — an
    * equi-join that touches matching buckets' rows, not a rescan (at
    * warehouse scale: a semi-join read against the stored embedding
    * table). Probe keys per incoming row are distinct, so each (incoming,
    * existing) pair arises at most once — no dedup needed. Output one row
    * per (id, matched_id); anti-join ids off the batch to admit only
    * fresh vectors. */
  def incrementalEmbedDedup(
      existingBuckets: DataFrame, // (vec_id, bucket)
      existingVectors: DataFrame, // (vec_id, v) — candidate fetch target
      incoming: DataFrame,        // (vec_id, v)
      dim: Int,
      nBits: Int,
      minCosine: Double): DataFrame = {
    // exchange after bucketing: materialize the nBits hyperplane dot
    // products once, before the probe explode fans the row out nBits+1x
    val probed = incoming
      .withColumn("bucket", srpBucket(col("v"), dim, nBits))
      .repartition(col("vec_id"))
      .withColumn("probe", explode(probeKeys(col("bucket"), nBits)))
    val cands = probed.join(
        existingBuckets.select(
          col("vec_id").as("matched_id"), col("bucket").as("probe")),
        Seq("probe"))
      .select(col("vec_id").as("id"), col("v"), col("matched_id"))
    cands.join(
        existingVectors.select(
          col("vec_id").as("matched_id"), col("v").as("mv")),
        Seq("matched_id"))
      .withColumn("cos", V.cosineNative(col("v"), col("mv")))
      .filter(col("cos") >= minCosine)
      .select(col("id"), col("matched_id"))
  }

  /** Multi-probe key set for a bucket: the bucket itself plus every
    * Hamming-distance-1 neighbor. ONE definition feeds both the self-join
    * (lshBucketJoin) and the query-vs-corpus (lshTopK) paths, matching
    * the DuckDB oracle's `bit_count(xor(a, b)) <= 1` contract — a probe
    * scheme change happens here or nowhere. */
  private[graft] def probeKeys(bucket: Column, nBits: Int): Column =
    array(bucket +:
      (0 until nBits).map(j => bucket.bitwiseXOR(lit(1L << j))): _*)

  /** Two-stage ANN retrieval: SRP-LSH recall (query probes its own bucket
    * plus every Hamming-1 neighbor) then exact-cosine rerank to top-k —
    * the production retrieval shape (cheap recall stage bounds the exact
    * stage's candidate set). Probe keys per query are distinct, so each
    * (query, corpus) candidate arises at most once — no dedup before the
    * rank window. The corpus side is bucket-partitioned ONCE; queries are
    * few, so their (nBits+1)-way explode is negligible; the rank window
    * partitions by query id.
    */
  def lshTopK(
      queries: DataFrame, // (q_id, qv: array<double>)
      corpus: DataFrame,  // (vec_id, cv: array<double>)
      dim: Int,
      nBits: Int,
      k: Int): DataFrame = {
    val cb = corpus
      .withColumn("bucket", srpBucket(col("cv"), dim, nBits))
      .repartition(col("bucket"))
    val probes = queries
      .withColumn("__qb", srpBucket(col("qv"), dim, nBits))
      .withColumn("bucket", explode(probeKeys(col("__qb"), nBits)))
      .drop("__qb")
    topKBy(probes.join(cb, Seq("bucket"))
        .withColumn("cos", V.cosineNative(col("qv"), col("cv"))), "q_id", "cos", "vec_id", k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rn"))
  }

  /** Approximate k-nearest-neighbor GRAPH over the whole corpus: for every
    * vector, its top-k neighbors among the vectors whose SRP bucket equals
    * its own or differs in exactly one bit (the lshBucketJoin/multi-probe
    * candidate contract, applied symmetrically). The kNN graph is the
    * building block the pair queries don't give you: graph-based dedup
    * clustering (feed the edges to [[graft.operators.Dedup.duplicateClusters]]),
    * neighborhood-quality audits, and the construction seed for
    * graph-traversal ANN indexes (the NN-descent/HNSW family starts from
    * exactly this bucketed approximation).
    *
    * Scale shape: ONE bucket exchange feeds both sides of the candidate
    * equi-join ([[bucketPairs]]); per-bucket population is bounded by the
    * [[lshNBits]] corpus-derived bit count under its 24-bit cap, so the
    * per-bucket quadratic term carries the same contract as
    * [[lshBucketJoin]]; the per-node ranking is a partitioned window over
    * (cos desc, dst asc) and the output is k·N edges. The md5 hyperplanes
    * let the DuckDB oracle replay buckets and ranks exactly.
    *
    * `prescoreFactor > 0` gates the SEED scoring the same way
    * [[nnDescentRound]]'s dial gates a round: candidate pairs are scored
    * on int8 codes (1 byte/dim riding the bucket join instead of 8) and
    * only the per-src top `prescoreFactor * k` by quantized cosine fetch
    * float vectors for the exact rescore. At dim=64 the exact path wins
    * and callers keep the default; at dim=768/200k vectors the exact seed
    * moves 197M candidate pairs x 6 KB of float vectors through the bucket
    * join, and the gate is the difference between a seed you can build and
    * one you can't. Deterministic and oracle-replayed exactly (the gated
    * knnGraphCtes).
    *
    * Cost bound (OPTIMIZATION_r17.md, measured at 1x/10x/100x): per-row
    * candidate count = targetPop × (nBits+1) × skew(N) — 381/453/985 per
    * row at the three scales, the 100x count matching the bucket histogram
    * exactly; ~50 ns per candidate pair once codegen is warm. The
    * O(log N) per-row growth is the probe fan-out plus real-data bucket
    * skew. Smaller buckets (lshNBits targetBucketSize) are RECALL-PRICED
    * 1:1 (target 64/32/16 → recall 0.119/0.086/0.061 at 10x), so the dial
    * stays a caller parameter. */
  def knnGraph(
      emb: DataFrame, // (vec_id, v: array<double>)
      dim: Int,
      nBits: Int,
      k: Int,
      prescoreFactor: Int = 0,
      corpusRows: Option[Long] = None): DataFrame = {
    val vecs = nonZero(emb)
    def bucketed(df: DataFrame) =
      df.withColumn("bucket", srpBucket(col("v"), dim, nBits))
    if (prescoreFactor <= 0)
      rankNeighbors(bucketPairs(pinnedByBucket(bucketed(vecs)), Seq("v"), nBits), k)
    else {
      // the codes ride the bucket exchange; vectors are fetched for survivors
      val codes = pinnedByBucket(bucketed(int8Codes(vecs, "vec_id", "v")).drop("v"))
      exactRescore(prescore(bucketPairs(codes, Codes, nBits), k * prescoreFactor),
        vecs, k, corpusRows)
    }
  }

  /** Candidate (src, dst, s*, d*) pairs of a bucket-partitioned table
    * (vec_id, payload..., bucket): the one exchange feeds both sides. The
    * src side explodes its own bucket plus the nBits Hamming-1 keys —
    * distinct keys, so each (src, dst) candidate arises exactly once. */
  private def bucketPairs(bucketed: DataFrame, payload: Seq[String], nBits: Int): DataFrame = {
    val probes = bucketed
      .select(col("bucket").as("n_bucket") +: sideCols("src", "s", payload): _*)
      .withColumn("bucket", explode(probeKeys(col("n_bucket"), nBits)))
      .drop("n_bucket")
    val cands = bucketed.select(col("bucket") +: sideCols("dst", "d", payload): _*)
    probes.join(cands, Seq("bucket")).filter(col("src") =!= col("dst"))
  }

  /** One NN-descent refinement round over a kNN graph (Dong et al., WWW'11
    * — "Efficient K-Nearest Neighbor Graph Construction for Generic
    * Similarity Measures"): each node's candidate set is its current
    * neighborhood expanded by neighbors-of-neighbors, re-scored with exact
    * cosine and re-ranked by the same partitioned top-k window. Feed the
    * output of [[knnGraph]] in and iterate; one round already closes most
    * of the SRP bucketing's recall gap (the bucket miss a node's true
    * neighbor fell into is usually reachable through a SHARED neighbor —
    * the NN-descent observation that "a neighbor of a neighbor is likely a
    * neighbor").
    *
    * Scale shape: the neighborhood is made UNDIRECTED first (forward edges
    * ∪ reverse edges), with the reverse degree CAPPED at k by a window
    * over the incoming edges — the standard NN-descent reverse-sample
    * bound, here deterministic (round(cos,6) desc, src) instead of random,
    * so the oracle can replay it. A hub node therefore contributes at most
    * 2k edges in each direction, the middle-node self-join emits ≤ (2k)²
    * candidates per node — linear in N at fixed k — and the final ranking
    * is a window partitioned by src, never global. Exactly one exchange
    * per side of the expansion join (by the middle node) plus the window's
    * exchange; vectors are fetched by id AFTER dedup so each surviving
    * candidate pair scores exactly once.
    *
    * `emb` must be the SAME (vec_id, v) frame the graph was built from
    * (zero-norm rows are re-dropped here to keep cosine defined).
    * Output: (src, dst, cos, rn) with rn in 1..k per src — same schema as
    * [[knnGraph]], so rounds chain.
    *
    * `prescoreFactor > 0` inserts an int8 PRE-SCORE between expansion and
    * exact scoring ([[int8Codes]] + [[approxCosine]]): every candidate pair
    * is scored on 1-byte codes and only the top `prescoreFactor * k` per
    * src fetch full float vectors for the exact rescore. The expansion
    * emits up to (2k)² candidates per node but only O(k) survive to the
    * final ranking, so the wide exchange — full float vectors riding every
    * candidate pair — shrinks to the survivor set. The gate is
    * candidate-ORDERING only (both engines derive identical codes and the
    * integer dot is exact), so the result is deterministic and the DuckDB
    * oracle replays it exactly; recall vs brute force is the spec-measured
    * contract, as with [[quantRerankTopK]].
    *
    * When to turn it on (SCALE_r16.json `nndescent_ab`): the gate trades
    * two extra joins + a per-src pre-rank window for the narrower
    * exchange, so it pays only when exchange BYTES dominate. At dim=64 it
    * loses at every probed scale (200k vectors: 9.5 s gated vs 7.5 s
    * exact); at dim=768 it loses at 20k vectors (3.3 vs 2.9 s) and WINS
    * 4.4x at 200k vectors (27.2 vs 120.6 s, where the exact path moves
    * ~120 GB of 6 KB vectors through the candidate exchange). Rule of
    * thumb: enable when candidatePairs x vectorBytes reaches the
    * shuffle-bandwidth-bound regime — high-dim embeddings at corpus
    * scale, or any network-shuffle cluster.
    *
    * `revDegreeCap` overrides the reverse-degree cap independently of the
    * output budget `k` (default -1 = cap at k). NN-descent's reverse
    * sample rate and its k are distinct dials (Dong WWW'11 §2.3 samples
    * rho*k reverse edges); ScaleUpSpec also uses this to count the FULL
    * candidate set (k = corpus size) while the cap stays at production
    * value. */
  def nnDescentRound(
      graph: DataFrame, // (src, dst, cos, ...) from knnGraph or a prior round
      emb: DataFrame,   // (vec_id, v: array<double>)
      k: Int,
      mode: CheckpointMode = CheckpointMode.Local,
      prescoreFactor: Int = 0,
      revDegreeCap: Int = -1,
      corpusRows: Option[Long] = None): DataFrame = {
    // The incoming graph feeds four plan branches (fwd, the reverse-cap
    // window and, through und, both sides of the expansion self-join), so
    // it is truncated once instead of re-running the seed pipeline per
    // branch. It is k·N narrow rows, cheap to materialize at any size.
    val lin = new Lineage(graph.sparkSession, mode)
    val (g, _) = lin.tracked(graph.select(col("src"), col("dst"), col("cos")))
    val fwd = g.select(col("src"), col("dst"))
    // reverse edges, degree-capped per target: without the cap a hub that
    // half the corpus lists as a neighbor would fan Σ deg_in·deg_out
    // candidates through the expansion join
    val rev = topKBy(g.select(col("src"), col("dst"), col("cos")), "dst", "cos", "src",
        if (revDegreeCap > 0) revDegreeCap else k)
      .select(col("dst").as("src"), col("src").as("dst"))
    // ≤ 2kN narrow rows read by both expansion sides: union+distinct once
    val (und, _) = lin.tracked(fwd.unionAll(rev).distinct())
    // neighbors-of-neighbors plus the current edges, distinct before
    // scoring so each pair scores once
    val cand = und.as("e1")
      .join(und.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .unionAll(fwd)
      .distinct()
    val vecs = nonZero(emb)
    val surv =
      if (prescoreFactor <= 0) cand
      else {
        // node-sized, and read by both endpoint fetches: truncated once
        val (q, _) = lin.tracked(int8Codes(vecs, "vec_id", "v").drop("v"))
        prescore(withEndpoints(cand, q, Codes, corpusRows), k * prescoreFactor)
      }
    exactRescore(surv, vecs, k, corpusRows)
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are assigned to
    * their nearest centroid once; each query searches only the nprobe
    * cells whose centroids are nearest to it. Recall/cost trade-off is
    * explicit; at 100 TB the per-query scan touches nprobe/C of the corpus.
    *
    * Centroids are a deterministic sample (the first C corpus vectors by
    * id), so the DuckDB oracle replays every stage (PortableSql.ivfOracle).
    */
  def ivfTopK(
      queries: DataFrame, // (q_id, qv: array<double>)
      corpus: DataFrame,  // (vec_id, cv: array<double>)
      nCentroids: Int,
      nProbe: Int,
      k: Int): DataFrame = {
    // The centroid table is bounded driver state (C×dim). Riding it into
    // the NearestCells codegen expression makes both assignment and
    // probing NARROW MAPS — no corpus×C rows through an exchange. (dist,
    // id) tie-break: the nearest cell, ties to the smaller c_id.
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val cents = corpus
      .orderBy("vec_id")
      .limit(nCentroids)
      .select(col("vec_id").as("c_id"), col("cv").as("centroid"))
      .collect()
    // an empty corpus has no cells and no results — return the empty
    // frame with the right schema instead of letting NearestCells'
    // invariants reject construction
    if (cents.isEmpty)
      return queries.select(col("q_id")).limit(0)
        .withColumn("vec_id", lit(0L))
        .withColumn("cos", lit(0.0))
        .withColumn("rn", lit(0))
        .select("q_id", "vec_id", "cos", "rn")
    // a corpus smaller than nProbe cells simply probes them all
    val probe = math.min(nProbe, cents.length)
    val centArr = cents.map(_.getSeq[Double](1).toArray)
    val idArr = cents.map(_.getLong(0))
    def nearest(v: Column, n: Int): Column =
      column(graft.expressions.NearestCells(expression(v), centArr, idArr, n))
    val assigned = corpus
      .withColumn("c_id", nearest(col("cv"), 1).getItem(0))
      .repartition(col("c_id")) // materialize assignment, cluster by cell
    // probe: each query's nProbe nearest cells, exploded — still no shuffle
    val probes = queries
      .withColumn("c_id", explode(nearest(col("qv"), probe)))
      .select(col("q_id"), col("qv"), col("c_id"))
    // search only the probed cells (equi-join on cell id, not a cross join)
    topKBy(assigned.join(probes, Seq("c_id"))
        .withColumn("cos", V.cosineNative(col("qv"), col("cv"))), "q_id", "cos", "vec_id", k)
      .select("q_id", "vec_id", "cos", "rn")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then compare pairs ONLY within a cluster and drop every vector
    * whose cosine to a smaller-id cluster-mate is >= tau. The economy is
    * the cluster gate: O(Σ cell²) candidate pairs instead of O(n²). Keeper
    * policy is min-id per near-dup group (deterministic; the paper keeps
    * the vector farthest from the centroid — swap the keeper ordering to
    * get that).
    *
    * The cell count grows with the corpus (expected cell size
    * ~`cellStride`, keeping the in-cell quadratic term bounded) while
    * driver state stays DEPLOYMENT-CONSTANT and per-row assignment cost
    * grows only logarithmically. A flat argmin over C = N/cellStride
    * plan-constant centroids would be O(N²·dim) compute with an O(N)
    * driver collect; a two-level router sized ceil(sqrt(F)) would be
    * O(N^1.5) with a sqrt(N) collect. This design removes every
    * data-derived constant:
    *
    *  - Fine cells are seeded by the stride-grid sample `vec_id %
    *    cellStride == 0` (plus the min id, so a nonempty corpus always has
    *    >= 1 seed) — a distributed filter, never a GlobalLimit.
    *  - Routing descends a RADIX-RANK TREE of constant fan-out `fanout`
    *    (the multi-level coarse-quantizer shape of Johnson et al. 2017,
    *    "Billion-scale similarity search with GPUs", with the hierarchy
    *    made deterministic): rank the F fine seeds by id (distributed
    *    dense rank, [[ZipIndex.withOrderedIndex]] — range partition +
    *    in-partition sort + offset arithmetic, no global window), set
    *    L = ⌈log_fanout F⌉ levels, and let the node of leaf rank r at
    *    depth d be ⌊r / fanout^(L-d)⌋ — contiguous rank blocks, each
    *    node represented by its minimum-rank fine seed. A row starts at
    *    the root and at each depth takes the (squared-L2 asc, id asc)
    *    argmin over its node's ≤ `fanout` child representatives — the
    *    root's children via a driver-collected
    *    [[graft.expressions.NearestCells]] narrow map (the ONLY driver
    *    state: ≤ fanout reps, a deployment constant like ivfTopK's
    *    nCentroids), every deeper level via an equi-join against that
    *    depth's DISTRIBUTED bundle table (one row per node, ≤ fanout
    *    structs wide — bounded row width by construction) and the
    *    [[graft.expressions.NearestInBundle]] codegen argmin. The last
    *    depth's bundles hold the fine seeds themselves, so the descent
    *    ends in an exact in-block argmin.
    *
    * Cost at corpus size N (F = N/cellStride): per-row fanout·L·dim flops
    * and L equi-joins → total assignment compute O(N·log N), vs N^1.5
    * (two-level) and N² (flat-at-this-sizing). Driver state: ≤ fanout
    * reps + one partition-count array — both deployment constants. Bundle
    * tables sum to ~F·fanout/(fanout-1) rows across depths, distributed,
    * broadcast while they fit and shuffled equi-joins beyond. Every row
    * always finds its bundle: a node exists iff it contains a fine, and
    * then its min-rank child exists in that node's bundle, so the inner
    * join drops nothing (no "inactive router" repair step — ownership is
    * structural, not distance-based).
    *
    * The cell MAP is a greedy-descent approximation of the flat argmin
    * (identical when L = 1, i.e. F <= fanout): SemDeDup's cluster gate is
    * itself a recall heuristic, so any deterministic partition of the
    * space is a valid gate (Abbas et al. 2023 accept exactly this trade
    * in their k-means), and near-identical vectors follow identical
    * comparisons, so duplicates always co-locate — the property the dedup
    * actually needs. The DuckDB oracle replays seed selection, ranking,
    * every descent level and the keeper arithmetic exactly
    * (PortableSql.semanticDedupOracle), so the correctness gate covers
    * this 100 TB code path itself; SimilaritySpec holds a brute-force
    * replay differential across 1-, 2- and 3-level corpora.
    *
    * Input: (vec_id, cv: array<double>); output: (vec_id, c_id) survivors.
    */
  def semanticDedupScaled(
      corpus: DataFrame,
      tau: Double,
      cellStride: Int = 64,
      fanout: Int = 32): DataFrame = {
    require(cellStride >= 1, s"cellStride must be >= 1, got $cellStride")
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    if (corpus.isEmpty) return emptySurvivors(corpus)
    inCellDedup(semanticAssignScaled(corpus, cellStride, fanout), tau)
  }

  /** The ranked fine-seed table and the derived radix-rank routing tree of
    * [[semanticDedupScaled]], factored out so ScaleUpSpec can pin the
    * deployment-constant bounds (root reps <= fanout, bundle width <=
    * fanout, levels = ⌈log_fanout F⌉) executable at growing F. `ranked` is
    * materialized once (localCheckpoint) — every level's bundle build and
    * the root collect reuse it instead of re-running the seed scan +
    * range shuffle per level. */
  private[graft] final case class RadixTree(
      ranked: DataFrame, // (c_id, centroid, r) — r = 0-based rank by c_id
      fineCount: Long,
      fanout: Int) {
    /** Levels of descent: smallest L with fanout^L >= F. */
    val levels: Int = {
      var l = 1
      var cap = fanout.toLong
      while (cap < fineCount) { cap *= fanout; l += 1 }
      l
    }
    private def ipow(e: Int): Long = {
      var p = 1L; var i = 0
      while (i < e) { p *= fanout; i += 1 }
      p
    }
    /** The root's <= fanout child reps: (gid, centroid). gid is the
      * child-node id at depth 1 — the leaf c_id itself when levels == 1
      * (rank order and id order coincide, so tie-breaks agree either
      * way). */
    def rootChildren: DataFrame = {
      val span = ipow(levels - 1)
      val gid =
        if (levels == 1) col("c_id") else expr(s"r DIV $span").cast("long")
      ranked.filter(col("r") % span === 0)
        .select(gid.as("gid"), col("centroid"))
    }
    /** Depth-d (2 <= d <= levels) bundle table: (g, bundle) with g the
      * depth-(d-1) node id and bundle the <= fanout child structs
      * (id, centroid) — id is the depth-d node id, or the leaf c_id at
      * the final depth. */
    def bundlesAt(d: Int): DataFrame = {
      require(d >= 2 && d <= levels, s"depth $d out of 2..$levels")
      val span = ipow(levels - d)
      val childId =
        if (d == levels) col("c_id") else expr(s"r DIV $span").cast("long")
      ranked.filter(col("r") % span === 0)
        .select(expr(s"r DIV ${span * fanout}").cast("long").as("g"),
          struct(childId.as("c_id"), col("centroid")).as("child"))
        .groupBy("g")
        .agg(collect_list(col("child")).as("bundle"))
    }
  }

  private[graft] def radixTree(
      corpus: DataFrame, cellStride: Int, fanout: Int): RadixTree = {
    // stride-grid fine seeds; the min id joins unconditionally so sparse /
    // offset id spaces still seed (idempotent when min % stride == 0)
    val minId = corpus.agg(min(col("vec_id"))).head.getLong(0)
    val fines = corpus
      .filter(col("vec_id") % cellStride === 0 || col("vec_id") === minId)
      .select(col("vec_id").as("c_id"), col("cv").as("centroid"))
    // withOrderedIndex materializes the sorted seed layout internally
    // (its correctness requires one frozen partitioning); `ranked` is that
    // checkpoint plus narrow arithmetic and a tiny broadcast join, so the
    // per-level bundle builds and the root collect re-derive it cheaply
    // and deterministically — no second materialization needed
    val ranked = ZipIndex.withOrderedIndex(fines, "c_id", "r")
    RadixTree(ranked, ranked.count(), fanout)
  }

  /** The radix-rank-tree assignment of [[semanticDedupScaled]], exposed for
    * the spec-level differential against a brute-force replay of the same
    * rule. Returns (vec_id, cv, c_id), repartitioned by cell for the
    * in-cell join. Caller guarantees a nonempty corpus. */
  private[graft] def semanticAssignScaled(
      corpus: DataFrame,
      cellStride: Int,
      fanout: Int = 32): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val tree = radixTree(corpus, cellStride, fanout)
    // level 1: argmin over the root's <= fanout reps — the only collect
    val rootRows = tree.rootChildren.collect()
    val rootCents = rootRows.map(_.getSeq[Double](1).toArray)
    val rootIds = rootRows.map(_.getLong(0))
    var cur = corpus.withColumn("g",
      column(graft.expressions.NearestCells(
        expression(col("cv")), rootCents, rootIds, 1)).getItem(0))
    // levels 2..L: equi-join the depth's bundle table on the current node,
    // argmin within the <= fanout child structs. Every g has a bundle (a
    // node exists iff it holds a fine, whose min-rank child is in the
    // bundle), so the inner join is total over rows.
    for (d <- 2 to tree.levels) {
      cur = cur.join(tree.bundlesAt(d), Seq("g"))
        .withColumn("g2", column(graft.expressions.NearestInBundle(
          expression(col("cv")), expression(col("bundle")))))
        .select(col("vec_id"), col("cv"), col("g2").as("g"))
    }
    cur.select(col("vec_id"), col("cv"), col("g").as("c_id"))
      .repartition(col("c_id"))
  }

  /** SemDeDup tail: in-cell pair generation (equi-join on the cell
    * id over the pre-partitioned assignment — one exchange feeds both
    * sides) + min-id keeper. `assigned`: (vec_id, cv, c_id). */
  private def inCellDedup(assigned: DataFrame, tau: Double): DataFrame = {
    val dropped = assigned
      .select(col("c_id"), col("vec_id").as("id_a"), col("cv").as("v_a"))
      .join(assigned.select(col("c_id"), col("vec_id").as("id_b"), col("cv").as("v_b")),
        Seq("c_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(V.cosineNative(col("v_a"), col("v_b")) >= tau)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    Dedup.keepFromPairs(assigned.select("vec_id", "c_id"), "vec_id", dropped)
  }

  private def emptySurvivors(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id")).limit(0)
      .withColumn("c_id", lit(0L))
      .select("vec_id", "c_id")

  // ---- token-set near-dup pairs ----------------------------------------

  /** (keys..., hs, n_toks): each doc's sorted DISTINCT xxhash64 token set.
    * Jaccard and containment are set-semantic, so only distinct tokens
    * matter, and every later stage — the token explode, the frequency
    * table, the candidate join key, the verify arrays — works on 8-byte
    * longs hashed once per document; the verify is a primitive
    * merge-intersection of the sorted arrays. Set scores over the hashes
    * equal the scores over the tokens unless two distinct tokens of one
    * compared pair collide in 64 bits (~7e-17 per pair — accepted risk
    * class, see JaccardSortedLongs). Null tokens are dropped BEFORE
    * hashing: xxhash64 maps null to its seed, which would count one phantom
    * token shared by every such doc. */
  private def hashedTokenSets(docs: DataFrame, keys: Column*): DataFrame =
    docs
      .select(keys :+ sort_array(array_distinct(transform(
        filter(col("toks"), _.isNotNull), xxhash64(_)))).as("hs"): _*)
      .withColumn("n_toks", size(col("hs")))

  /** Every token of `base` with its 1-based rank `r` in its doc under the
    * global rarest-first order (tf asc, then hash): (keys..., token,
    * n_toks, r). Any consistent global order makes the prefix filters
    * lossless; rarest-first keeps prefixes on each doc's rarest tokens, so
    * the candidate volume is bounded by true co-occurrence, not corpus². */
  private def rarestFirst(base: DataFrame, keys: Seq[String]): DataFrame = {
    val toksExp = base.select((keys :+ "n_toks").map(col) :+ explode(col("hs")).as("token"): _*)
    val freq = toksExp.groupBy("token").agg(count(lit(1)).as("tf"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("tf"), col("token"))
    toksExp.join(freq, Seq("token"))
      .withColumn("r", row_number().over(wDoc))
      .select((keys ++ Seq("token", "n_toks", "r")).map(col): _*)
  }

  /** Expansion join of probe prefixes `a` against index rows `b` on
    * `keys`, on [[expansionPartitions]] partitions. Past [[shjGate]] the
    * index side is hinted SHUFFLE_HASH: sort-merge would sort both inputs
    * of a join whose cost is producing the matched stream, not ordering
    * it (10x corpus: 16.4 vs 19.7 s end-to-end; 100x: SCALE_r14.json).
    * Below the gate the planner broadcasts the index side, the best plan.
    * The per-partition hash build stays ~1k docs' rows at any size. */
  private def candidateJoin(a: DataFrame, b: DataFrame, keys: Seq[String], p: Int,
      corpusRows: Option[Long]): DataFrame =
    a.repartition(p, keys.map(col): _*)
      .join(if (shjGate(corpusRows)) b.hint("SHUFFLE_HASH") else b, keys)

  /** Matched-token rows (doc_a, doc_b, n_a, r_a, n_b, r_b) → one row per
    * pair (doc_a, doc_b, n_a, fa, n_b, fb), with (fa, fb) the ranks of the
    * pair's FIRST common token, kept only if the positional bound
    * 1 + min(n_a − fa, n_b − fb) >= `need` holds there.
    *
    * The first common token t0 minimizes both ranks (both docs sort by the
    * same global order, so matched ranks are order-isomorphic across
    * sides) and, for a qualifying pair, sits inside both prefixes — so
    * testing the bound on t0 is lossless, and strictly tighter than
    * testing it on any matched row (which still prunes rows before the
    * dedup). Since n is constant per (pair, side), packing (n << 32 | r)
    * makes min(packed) == (n << 32 | r(t0)): two plain 8-byte min buffers
    * instead of first/min/min_by, halving the row width of the pipeline's
    * largest exchange. No overflow: n <= 2^31-1, 1 <= r <= n. */
  private def firstCommonTokenPairs(matched: DataFrame, need: Column): DataFrame = {
    def bound(ra: String, rb: String) =
      lit(1) + least(col("n_a") - col(ra), col("n_b") - col(rb)) >= need
    matched
      .filter(bound("r_a", "r_b"))
      .select(col("doc_a"), col("doc_b"),
        (shiftleft(col("n_a").cast("long"), 32) + col("r_a")).as("pka"),
        (shiftleft(col("n_b").cast("long"), 32) + col("r_b")).as("pkb"))
      .groupBy("doc_a", "doc_b")
      .agg(min(col("pka")).as("pka"), min(col("pkb")).as("pkb"))
      .select(col("doc_a"), col("doc_b"),
        shiftright(col("pka"), 32).as("n_a"),
        col("pka").bitwiseAND(lit(0xFFFFFFFFL)).as("fa"),
        shiftright(col("pkb"), 32).as("n_b"),
        col("pkb").bitwiseAND(lit(0xFFFFFFFFL)).as("fb"))
      .filter(bound("fa", "fb"))
  }

  /** Verify join: both docs' hash arrays (hs_a, hs_b) joined onto the
    * candidate pairs, side `first` ("a" or "b") first. ONE corpus-array
    * exchange serves both joins: `baseArr` is repartitioned by doc_id below
    * the per-side alias projections, so the two exchange subtrees are
    * canonically equal and the second is a ReusedExchange (the static rule
    * with AQE off, the runtime stage cache under AQE — ExchangeReuseSpec).
    * Only the `first` side's array rides a pair exchange (the re-key on
    * the second side); the second array is consumed by the score in the
    * same stage — so callers pass the smaller side first. */
  private def withTokenSets(cand: DataFrame, base: DataFrame, p: Int, first: String): DataFrame = {
    val baseArr = base.select(col("doc_id"), col("hs")).repartition(p, col("doc_id"))
    def fetch(side: String)(pairs: DataFrame) =
      pairs.repartition(p, col(s"doc_$side"))
        .join(baseArr.select(col("doc_id").as(s"doc_$side"), col("hs").as(s"hs_$side")),
          Seq(s"doc_$side"))
    cand.transform(fetch(first)).transform(fetch(if (first == "a") "b" else "a"))
  }

  /** Exact-Jaccard near-dup pairs with log-length-band blocking.
    *
    * Candidates must share `lang` and land in the same or an ADJACENT
    * log(1+n_chars) band — real near-dups rarely have identical lengths
    * (the flaw of blocking on exact n_chars), but their length ratio is
    * bounded: token-set Jaccard >= 0.5 implies a <= 2x size ratio. The
    * adjacency join stays an equi-join: the probe side explodes each doc
    * to bands {b-1, b, b+1}, the build side keeps its own band, and a pair
    * matches exactly once (the three probe keys are distinct).
    *
    * `bandWidth` is the recall/cost dial: width w with +-1 adjacency
    * catches pairs whose length ratio is under ~e^(2w). The 0.1 default
    * (ratio ~1.2) suits corpora where near-dups are light edits; width
    * ln(2) ~ 0.7 guarantees full recall for any pair with Jaccard >= 0.5
    * at a larger candidate volume.
    *
    * `mode = Reliable(dir)` makes the lineage truncations reliable
    * checkpoints, so an executor lost after materialization re-reads
    * instead of failing the job (CheckpointModeSpec proves output parity).
    */
  def jaccardNearDupPairs(
      docs: DataFrame, // (doc_id, lang, n_chars, toks: array<string>)
      minJaccard: Double,
      bandWidth: Double = 0.1,
      mode: CheckpointMode = CheckpointMode.Local,
      corpusRows: Option[Long] = None): DataFrame = {
    val lin = new Lineage(docs.sparkSession, mode)
    // The oracle computes the band as DuckDB ln(1+n)/w and this side uses
    // JVM log1p: a value within 1 ULP of a band boundary could disagree
    // (~7e-14 per distinct n_chars at band magnitudes ~40) — accepted.
    def band(c: Column): Column = floor(log1p(c) / bandWidth).cast("long")
    // The shared subtrees (base, prefix) each feed several plan branches
    // and are checkpointed. Lazy materialization lets AQE overlap the
    // checkpoint-building stages, which wins on small corpora (eager
    // barriers measured 1.5-1.6x slower at sf0.1); but the overlap is a
    // race — both join sides can compute the same not-yet-materialized
    // partitions concurrently — that loses once the subtrees are expensive
    // (100x: lazy 531-673 s vs eager 400-528 s, SCALE_r13.json
    // `eager_ab_100x`). Hence eager above 100k docs.
    val eager = corpusRows.exists(_ > 100000L)
    val base = hashedTokenSets(docs, col("doc_id"), col("lang"), band(col("n_chars")).as("band"))
      .transform(df => lin.tracked(df, eager = eager)._1)

    // PPJoin prefix filter (Bayardo/Chaudhuri): under a global token order
    // any pair with Jaccard >= t shares at least one token within each
    // side's first |x| - ceil(t*|x|) + 1 tokens, so joining on (lang, band,
    // prefix token) loses NO qualifying pair (the oracle brute-forces
    // within bands and the result sets match) while the candidate count is
    // bounded by token co-occurrence instead of band population².
    // FP slack: the thresholds are doubles (fl(0.8)*5 = 4.0000000000000004),
    // so every ceil/compare subtracts 1e-9 — conservatively slack; the
    // exact filter at the end removes the extra candidates.
    val prefix = rarestFirst(base, Seq("doc_id", "lang", "band"))
      .filter(col("r") <=
        col("n_toks") - ceil(lit(minJaccard) * col("n_toks") - lit(1e-9)) + 1)
      // read by both sides of the candidate join
      .transform(df => lin.tracked(df, eager = eager)._1)

    // Asymmetric prefixes (PPJoin, Xiao et al. WWW'08): orient each pair so
    // side b is the SMALLER document ((n, id) lexicographic tie-break) —
    // then b only needs the shorter INDEX prefix
    //   |y| - ceil(2t/(1+t) * |y|) + 1
    // while a keeps the probe prefix |x| - ceil(t*|x|) + 1. Lossless under
    // the size filter: if every common token sat beyond y's index prefix,
    // overlap <= ceil(2t/(1+t)*|y|) - 1 < 2t/(1+t)*|y| <= t/(1+t)*(|x|+|y|)
    // <= alpha (using |y| <= |x|) — contradiction, so the first common
    // token is inside BOTH prefixes. At t=0.5 the index prefix is ~n/3 vs
    // the probe ~n/2: a third fewer build-side rows into the candidate
    // join, which is the pipeline's dominant stage.
    val a = prefix.select(
      col("doc_id").as("doc_a"), col("lang"), col("band"), col("token"),
      col("n_toks").as("n_a"), col("r").as("r_a"))
    val b = prefix
      .filter(col("r") <= col("n_toks") -
        ceil(lit(2 * minJaccard / (1 + minJaccard)) * col("n_toks") - lit(1e-9)) + 1)
      .select(
        col("doc_id").as("doc_b"), col("lang"), col("band").as("b_band"), col("token"),
        col("n_toks").as("n_b"), col("r").as("r_b"))
      .withColumn("band",
        explode(array(col("b_band") - 1, col("b_band"), col("b_band") + 1)))
      .drop("b_band")
    // Candidate ids only — token arrays stay out of the expansion join.
    // Lossless prunes inside the join, before the dedup shuffle: the size
    // filter J(A,B) <= min/max, so t*|A| <= |B|; and the positional filter
    // on the first common token ([[firstCommonTokenPairs]]) against the
    // required overlap alpha = ceil(t/(1+t) * (|A|+|B|)). Without them
    // shared-vocabulary corpora go quadratic on frequent prefix tokens.
    val alpha = ceil(
      lit(minJaccard / (1 + minJaccard)) * (col("n_a") + col("n_b")) - lit(1e-9))
    val p = expansionPartitions(docs.sparkSession, corpusRows)
    val cand = firstCommonTokenPairs(
        candidateJoin(a, b, Seq("lang", "band", "token"), p, corpusRows)
          .filter(col("n_b") < col("n_a") ||
            (col("n_b") === col("n_a") && col("doc_b") < col("doc_a")))
          .filter(col("n_b") >= lit(minJaccard) * col("n_a") - lit(1e-9)),
        alpha)
      .select("doc_a", "doc_b")

    val jac = {
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      column(graft.expressions.JaccardSortedLongs(
        expression(col("hs_a")), expression(col("hs_b"))))
    }
    // b is the smaller doc (n_b <= n_a), so its array rides the re-key
    withTokenSets(cand, base, p, first = "b")
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= minJaccard)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT near-dup pairs: ordered (doc_a, doc_b) with
    * |A ∩ B| / |A| >= minContainment over the docs' DISTINCT token sets —
    * doc_a is the (mostly) CONTAINED document. This is the relation
    * symmetric Jaccard structurally misses: a doc wholly embedded in a
    * larger one (boilerplate supersets, quote-and-extend pages — the
    * Lee et al. 2022 §4 case, cf. the span-level q_dedup_substring
    * family) scores J = |A|/|B| ≈ 0 while containment = 1.
    *
    * Recall design — containment admits NO length banding (|B| is
    * unbounded above relative to |A|), so the PPJoin length-band frame of
    * [[jaccardNearDupPairs]] does not apply. What still holds is the
    * prefix-filter pigeonhole on the CONTAINED side only:
    *
    *  - required overlap: a qualifying pair needs
    *    |A ∩ B| >= need(A) = ceil(t·|A|).
    *  - probe prefix (A): under any global token order, if every common
    *    token sat beyond A's first |A| − need(A) + 1 tokens, overlap
    *    <= need(A) − 1 — contradiction. So joining A's prefix tokens
    *    against B's FULL token list loses no qualifying ordered pair
    *    (the asymmetric one-side-prefixed variant of Xiao et al.'s
    *    prefix filter: the index side cannot be prefixed because its
    *    bound would need |A|, unknown at index time).
    *  - the global order is rarest-first ([[rarestFirst]]), so the
    *    candidate volume is Σ over prefix tokens of tf — bounded by true
    *    co-occurrence, not corpus². The Jaccard candidate stream of the
    *    same shape grows linearly per decade (SCALE_r9.json).
    *  - prunes inside the join, both conservatively slack (1e-9, cf. the
    *    FP-slack note in [[jaccardNearDupPairs]]) and therefore lossless:
    *    |B| >= need(A) (overlap can't exceed |B|), and the positional
    *    bound 1 + min(|A|−r_a, |B|−r_b) >= need(A) tested on the pair's
    *    FIRST common token ([[firstCommonTokenPairs]]).
    *
    * Verify is exact: |A ∩ B| by primitive merge-intersection over the
    * sorted xxhash64 token arrays ([[graft.expressions.IntersectSortedLongs]]
    * — the count directly, never reconstructed from a ratio), then
    * containment = inter / |A| compared as a double exactly like the
    * brute-force oracle. Same 64-bit collision risk class as the Jaccard
    * pipeline (~7e-17/pair). The verify join fetches hs_a first — the
    * CONTAINED side, which the |A| <= |B|/t bound keeps the smaller side in
    * the regime this operator exists for.
    *
    * Output: (doc_a, doc_b, containment), ordered pairs, a ≠ b, same
    * lang; mutually-contained pairs appear in both directions. Empty
    * token sets are excluded (containment undefined).
    *
    * `minDocTokens` (default 1 = off): a CALLER CONTRACT that every doc
    * in `docs` has at least m distinct tokens, in exchange for an INDEX
    * prefix — the structural cost containment otherwise can't avoid.
    * With the floor, any qualifying pair needs overlap >= need(A) =
    * ceil(t·|A| − eps) >= ceil(t·m − eps) =: g, so if every common token
    * sat beyond B's first |B| − g + 1 (rarest-first) tokens, overlap <=
    * g − 1 — contradiction; keeping only that index prefix loses no
    * qualifying pair. The first common token t0 also remains inside BOTH
    * prefixes (it is the first, so "t0 beyond the g-prefix" puts every
    * common token beyond it — same contradiction), so the packed-min
    * positional recovery is untouched. At t = 0.8 and a 100-token floor
    * the index side drops 79 rows per doc from the candidate join's
    * build input. Docs violating the floor (n_toks < m) may lose recall
    * as CONTAINED sides — that is the contract, not a bug; the default
    * m = 1 makes the filter a no-op (SimilaritySpec proves m > 1 output
    * == m = 1 output on a floor-respecting corpus). */
  def containmentNearDupPairs(
      docs: DataFrame, // (doc_id, lang, toks: array<string>)
      minContainment: Double,
      mode: CheckpointMode = CheckpointMode.Local,
      corpusRows: Option[Long] = None,
      minDocTokens: Long = 1L): DataFrame = {
    val lin = new Lineage(docs.sparkSession, mode)
    // shared by the token explode and both verify joins
    val base = hashedTokenSets(docs, col("doc_id"), col("lang"))
      .filter(col("n_toks") > 0)
      .transform(df => lin.tracked(df, eager = false)._1)
    // full per-doc ranks: the probe side filters to its prefix; the index
    // side keeps every token unless the caller asserts a size floor
    val ranked = rarestFirst(base, Seq("doc_id", "lang"))
      .transform(df => lin.tracked(df, eager = false)._1)

    def need(nA: Column): Column = ceil(lit(minContainment) * nA - lit(1e-9))
    val a = ranked
      .filter(col("r") <=
        col("n_toks") - need(col("n_toks")) + 1)
      .select(col("doc_id").as("doc_a"), col("lang"), col("token"),
        col("n_toks").as("n_a"), col("r").as("r_a"))
    // index prefix under the caller's size floor (no-op at the default
    // m = 1: g = ceil(t − eps) = 1 keeps every rank r <= n_toks)
    val g = math.ceil(minContainment * minDocTokens - 1e-9).toLong
    val b = ranked
      .filter(col("r") <= col("n_toks") - lit(g) + 1)
      .select(col("doc_id").as("doc_b"), col("lang"), col("token"),
        col("n_toks").as("n_b"), col("r").as("r_b"))

    val p = expansionPartitions(docs.sparkSession, corpusRows)
    val cand = firstCommonTokenPairs(
        candidateJoin(a, b, Seq("lang", "token"), p, corpusRows)
          .filter(col("doc_a") =!= col("doc_b"))
          .filter(col("n_b") >= need(col("n_a"))),
        need(col("n_a")))
      .select("doc_a", "doc_b", "n_a")

    val inter = {
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      column(graft.expressions.IntersectSortedLongs(
        expression(col("hs_a")), expression(col("hs_b"))))
    }
    withTokenSets(cand, base, p, first = "a")
      .withColumn("containment", inter.cast("double") / col("n_a"))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Persistable band table of a shingled corpus: (id, band_idx,
    * band_hash) with string band keys (Portable.bandKeys) — the compact
    * representation incremental dedup joins against. Each doc gets nBands
    * rows whose key joins k/nBands components, whatever the document's
    * size: 132.5 parquet bytes per doc at k = 16, nBands = 4 (sf0.1's 5,000
    * documents). So the table is orders of magnitude smaller than the
    * corpus text and is the ONLY state an ingest pipeline must keep to
    * near-dup new arrivals. */
  def bandTable(
      docs: DataFrame, // (id, shingles: array<string>)
      k: Int,
      nBands: Int): DataFrame =
    signShingles(docs, k).select(col("id"),
      posexplode(Portable.bandKeys(col("sig"), nBands, k / nBands))
        .as(Seq("band_idx", "band_hash")))

  /** (id, shingles) -> (id, sig): the native signature behind an id-hash
    * exchange so CollapseProject cannot inline the signature expression
    * into downstream joins. */
  private def signShingles(docs: DataFrame, k: Int): DataFrame =
    docs.repartition(col("id"))
      .withColumn("sig", MinHash.signature(col("shingles"), k))

  /** Incremental near-dup: which incoming docs collide with the EXISTING
    * corpus, joining the new batch's bands against the persisted
    * [[bandTable]] — the corpus text is never rescanned. Output one row
    * per (incoming id, matched existing id); anti-join the ids off the
    * batch to admit only fresh content. The streaming-ingest shape: state
    * = band table, growth = append the admitted docs' bands. */
  def incrementalNearDup(
      existingBands: DataFrame, // (id, band_idx, band_hash)
      incoming: DataFrame,      // (id, shingles: array<string>)
      k: Int,
      nBands: Int): DataFrame = {
    val inBands = bandTable(incoming, k, nBands)
    inBands.join(
        existingBands.select(col("id").as("matched_id"),
          col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .select(col("id"), col("matched_id"))
      .dropDuplicates("id", "matched_id")
  }

  /** MinHash/LSH candidate pairs over a document table: shingle → signature
    * → bands → band-key equi-join → distinct pairs with estimated Jaccard.
    * `docs` must carry (id, shingles: array<string>). */
  def minhashCandidatePairs(
      docs: DataFrame,
      k: Int,
      nBands: Int,
      minEstJaccard: Double): DataFrame = {
    val rowsPerBand = k / nBands
    // signShingles' id exchange materializes the caller's shingles once
    // and spreads the md5 hashing over the shuffle partitions (a corpus
    // may arrive as one split).
    val signed = signShingles(docs, k)
    // The repartition is load-bearing, not a tuning knob: without an
    // exchange, CollapseProject inlines the signature expression into the
    // self-join and recomputes the full MinHash PER CANDIDATE PAIR (360s at
    // sf0.1). The exchange materializes signatures once, and because it
    // hash-partitions on the join keys the join adds no further shuffle.
    val banded = signed
      .select(
        col("id"), col("sig"),
        posexplode(Portable.bandKeys(col("sig"), nBands, rowsPerBand))
          .as(Seq("band_idx", "band_hash")))
      .repartition(col("band_idx"), col("band_hash"))
    val a = banded.select(
      col("band_idx"), col("band_hash"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(
      col("band_idx"), col("band_hash"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    // est-filter BEFORE the pair dedup: the estimate is a cheap per-row
    // expression, while dropDuplicates shuffles whole signature arrays —
    // on a shared-vocabulary corpus the candidate set is large and the
    // filter prunes it by orders of magnitude first.
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("est_jaccard", MinHash.estJaccard(col("sig_a"), col("sig_b"), k))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
      .dropDuplicates("id_a", "id_b")
  }
}
