package graft.queries

import graft.functions.{Num, Portable}

/** DuckDB-SQL builders mirroring [[graft.functions.Portable]] — the oracle
  * side of the portable hash family. Every snippet computes bit-identical
  * values to the Spark expressions (md5 is the shared primitive; the rest is
  * exact integer arithmetic), so the driver's DuckDB check can verify the
  * minhash / simhash / SRP-LSH queries exactly instead of `no_oracle`.
  *
  * Float caveat (documented, accepted): the SRP bucket sign and the l2/cosine
  * ranking compare DOUBLE sums across engines whose summation order may
  * differ in the last ULP. A value within ~1e-12 of a decision boundary
  * (dot == 0, two equal distances, cosine == threshold) could in principle
  * flip — same accepted risk class as the jaccard band-boundary note in
  * Similarity.jaccardNearDupPairs.
  */
object PortableSql {

  private val P = Portable.P
  private val MaxLong = Long.MaxValue

  /** Parse `len` leading hex chars of SQL string expr `h` into a BIGINT.
    * `v` names the lambda variable (keep distinct when nesting). */
  def hexParse(h: String, len: Int, v: String = "hxi"): String =
    s"""list_sum(list_transform(generate_series(1, $len), $v -> CAST(strpos('0123456789abcdef', substring($h, $v, 1)) - 1 AS BIGINT) * CAST(power(16, $len - $v) AS BIGINT)))"""

  /** 48-bit base hash of SQL string expr `s` — mirrors Portable.h48. */
  def h48(s: String): String = hexParse(s"md5($s)", 12)

  /** Deterministic bucket in [0, buckets) of BIGINT expr `id` — mirrors
    * Sample.hashBucket (same constants, same overflow-safe pre-fold); the
    * ONE source of truth for the sampling/split oracles. DuckDB `%` keeps
    * the dividend's sign while Spark's pmod is always nonnegative, so the
    * first mod is re-folded into [0, P) before the multiply; every later
    * intermediate is then nonnegative and plain `%` matches pmod. */
  def hashBucket(id: String, buckets: Int): String =
    s"((($id % 1000003 + 1000003) % 1000003) * 2654435761 + 40503) % 1000003 % $buckets"

  /** Whitespace tokens, lowercased, empties removed — mirrors
    * TextFunctions.tokens (same snippet the jaccard oracle uses). */
  def toks(textCol: String): String =
    s"""list_filter(string_split_regex(lower($textCol), '\\s+'), x -> x <> '')"""

  /** Space-joined token 3-grams over token-array COLUMN `t` — mirrors
    * TextFunctions.ngrams(_, 3). Pass a column name (re-evaluated 4x). */
  def shingles3(t: String): String =
    s"""list_transform(generate_series(1, GREATEST(len($t) - 2, 0)), g3 -> $t[g3] || ' ' || $t[g3 + 1] || ' ' || $t[g3 + 2])"""

  /** Space-joined token n-grams over token-array COLUMN `t` for any n —
    * mirrors TextFunctions.ngrams(_, n). Pass a column name (re-evaluated
    * n+1 times); lambda var `gN` must not collide with enclosing scopes. */
  def shingles(t: String, n: Int): String = {
    val joined = (0 until n).map(k => s"$t[gN + $k]").mkString(" || ' ' || ")
    s"""list_transform(generate_series(1, GREATEST(len($t) - ${n - 1}, 0)), gN -> $joined)"""
  }

  /** Per-token base hashes reduced into [0, P) over token-array COLUMN `t`
    * — mirrors the pre-hash projection feeding Portable.windowHashes. */
  def tokenHashes(t: String): String =
    s"list_transform($t, rkt -> ${h48("rkt")} % $P)"

  /** Rabin–Karp window hashes over pre-hashed array COLUMN `hs` — mirrors
    * Portable.windowHashes(hs, w) (two mod-P polynomials, h1·2³¹ + h2;
    * DuckDB generate_series(1, 0) is empty, matching the Spark guard). */
  def windowHashes(hs: String, w: Int): String = {
    def poly(base: Long): String =
      (0 until w).foldLeft("CAST(0 AS BIGINT)")((acc, k) =>
        s"(($acc * $base + $hs[rki + $k]) % $P)")
    s"list_transform(generate_series(1, GREATEST(len($hs) - ${w - 1}, 0)), rki -> ${poly(Portable.rkB(1))} * ${1L << 31} + ${poly(Portable.rkB(2))})"
  }

  /** MinHash component j over pre-hashed array column `hs` —
    * mirrors Portable.minhashFromHashes (Carter–Wegman map of the base
    * hash reduced into [0, P); empty array -> Long.MaxValue). */
  def minhashComp(j: Int, hs: String): String =
    s"coalesce(list_min(list_transform($hs, mh -> (${Portable.a(j)} * (mh % $P) + ${Portable.b(j)}) % $P)), $MaxLong)"

  /** Full k-component signature as a SQL list literal. */
  def sigList(hs: String, k: Int): String =
    (0 until k).map(minhashComp(_, hs)).mkString("[", ", ", "]")

  /** Comma-joined band key for band `bi` of signature column `sig`. */
  def bandKey(sig: String, bi: Int, rowsPerBand: Int): String =
    (0 until rowsPerBand)
      .map(r => s"CAST($sig[${bi * rowsPerBand + r + 1}] AS VARCHAR)")
      .mkString(" || ',' || ")

  /** CTE body exploding a `sig` table (id, sig) into (id, sig, b, bkey). */
  def bandsUnion(nBands: Int, rowsPerBand: Int): String =
    (0 until nBands).map { bi =>
      s"SELECT id, sig, $bi AS b, ${bandKey("sig", bi, rowsPerBand)} AS bkey FROM sig"
    }.mkString(" UNION ALL ")

  /** Shared CTE prefix for the shingle-minhash family: documents ->
    * shingles -> base hashes -> signatures -> exploded band keys.
    * Tables produced: f(id, sh), sig(id, sig), bands(id, sig, b, bkey). */
  def minhashCtes(k: Int, nBands: Int): String = {
    val rpb = k / nBands
    s"""t AS (SELECT doc_id AS id, ${toks("text")} AS tk FROM documents),
        sh AS (SELECT id, ${shingles3("tk")} AS sh FROM t),
        f AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
        h AS (SELECT id, list_transform(sh, s -> ${h48("s")}) AS hs FROM f),
        sig AS (SELECT id, ${sigList("hs", k)} AS sig FROM h),
        bands AS (${bandsUnion(nBands, rpb)})"""
  }

  /** Estimated jaccard between sig columns `sa`/`sb` (fraction equal). */
  def estJaccard(sa: String, sb: String, k: Int): String =
    s"list_sum(list_transform(generate_series(1, $k), ei -> CASE WHEN $sa[ei] = $sb[ei] THEN 1 ELSE 0 END)) / $k.0"

  /** Cosine similarity of two array<double> columns — sequential-sum
    * spelling, mirrors VectorFunctions.cosine (outputs are round2'ed). */
  def cosine(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)), ci -> $a[ci] * $b[ci])) / (sqrt(list_sum(list_transform($a, cx -> cx * cx))) * sqrt(list_sum(list_transform($b, cx -> cx * cx))))"""

  /** Squared L2 distance — sqrt-free (ordering-equivalent to the L2 distance). */
  def l2Sq(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), li -> ($a[li] - $b[li]) * ($a[li] - $b[li])))"

  /** SRP bucket of vector column `v` with a dynamic bit count `nbitsExpr`
    * (SQL scalar) — mirrors Similarity.srpBucket. */
  def srpBucket(v: String, nbitsExpr: String, dim: Int = 64): String =
    s"""list_sum(list_transform(generate_series(0, CAST($nbitsExpr AS BIGINT) - 1), sj -> CASE WHEN list_sum(list_transform(generate_series(1, $dim), si -> $v[si] * (CASE WHEN strpos('01234567', substring(md5('srp_' || CAST(sj AS VARCHAR) || '_' || CAST(si - 1 AS VARCHAR)), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END))) > 0 THEN CAST(power(2, sj) AS BIGINT) ELSE 0 END))"""

  /** Deterministic high-dim extension of the 64-dim embedding to `dim`
    * components — the SQL twin of the Spark-side
    * SimilarityQueries.extendDimSql fixture expression (integer
    * congruential mix of (vec_id, i), exact in BIGINT on both engines;
    * the final CAST/divide/shift is the same IEEE double arithmetic).
    * Components land in [-0.5, 0.5), matching the synthetic embedding
    * distribution, so the 768-dim geometry is "real" high-dim data, not
    * 64 informative + 704 constant dims. */
  def extendDimSql(vecId: String, v: String, dim: Int): String =
    if (dim <= 64) v
    else s"""list_concat($v, list_transform(generate_series(64, ${dim - 1}),
         xi -> (CAST(((((xi + 1) * 40503) % 100003) *
                      (($vecId * 2654435761) % 100003 + 1) + xi * 97911)
                     % 100003 AS DOUBLE) / 100003.0) - 0.5))"""

  /** lshNBits as SQL over a row count scalar — mirrors Similarity.lshNBits
    * (ceil(log2(max(1, n/64))) clamped to [4, 24]; exact-power inputs agree
    * because log2 of an exact power of two is exact in IEEE double). */
  def lshNBits(countExpr: String): String =
    s"LEAST(24, GREATEST(4, CAST(ceil(log2(GREATEST($countExpr // 64, 1))) AS BIGINT)))"

  /** Shared CTEs for the SRP-LSH family over embeddings: e(vec_id, v),
    * bk(vec_id, v, bucket) with corpus-sized dynamic bit count. dim > 64
    * extends each vector with the deterministic [[extendDimSql]]
    * components (the high-dim fixture of q_sim_nndescent_highdim). */
  def srpCtes(dim: Int = 64): String = {
    // MATERIALIZED (oracle-side cost only): at dim > 64 the fixture
    // extension + bucket expressions are ~3k element-lambda ops per row;
    // DuckDB 1.0 inlines CTEs, so every downstream reference (the bucket
    // self-joins reference bk on BOTH sides) re-evaluated them per join
    // row. The hint pins one evaluation; results are bit-identical
    // (measured: chain oracle 62 -> 5.2 s at sf0.01, identical frames).
    // dim = 64 oracles keep the inline default (no measured win).
    val m = if (dim > 64) "MATERIALIZED " else ""
    s"""n AS (SELECT ${lshNBits("count(*)")} AS nbits FROM embeddings),
        e AS $m(SELECT vec_id, ${extendDimSql("vec_id",
      "list_transform(embedding, x -> CAST(x AS DOUBLE))", dim)} AS v FROM embeddings),
        bk AS $m(SELECT vec_id, v, ${srpBucket("v", "(SELECT nbits FROM n)", dim)} AS bucket FROM e)"""
  }

  /** kNN-graph CTEs shared by q_sim_knn and q_dedup_knn_e2e: bk filtered by
    * the zero-norm guard (mirrors Similarity.knnGraph's filter — cosine is
    * undefined for the zero vector, and NaN ordering differs across
    * engines), then the per-src top-k among same-or-Hamming-1 bucket mates.
    * Exposes `knn(src, dst, cos, rn)` with rn in 1..k. */
  def knnGraphCtes(k: Int, dim: Int = 64, prescoreFactor: Int = 0): String = {
    val nbSrc =
      if (prescoreFactor <= 0)
        s"""nb AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                      ${cosine("a.v", "b.v")} AS cos
               FROM bkz a JOIN bkz b
                 ON a.vec_id <> b.vec_id
                AND bit_count(xor(a.bucket, b.bucket)) <= 1)"""
      else
        // gated seed (mirrors Similarity.knnGraph prescoreFactor > 0):
        // bucket candidates scored on int8 codes, per-src top factor*k
        // survivors re-scored with exact cosine
        s"""scand AS (SELECT a.vec_id AS src, b.vec_id AS dst
               FROM bkz a JOIN bkz b
                 ON a.vec_id <> b.vec_id
                AND bit_count(xor(a.bucket, b.bucket)) <= 1),
        spre AS (SELECT c.src, c.dst,
                       CAST(list_sum(list_transform(generate_series(1, len(a.code)),
                              ci -> a.code[ci] * b.code[ci])) AS DOUBLE)
                         * a.qs * b.qs / (a.qn * b.qn) AS approx
                FROM scand c JOIN qc a ON a.vec_id = c.src
                             JOIN qc b ON b.vec_id = c.dst),
        ssur AS (SELECT src, dst FROM (
                   SELECT spre.*, row_number() OVER (PARTITION BY src
                     ORDER BY round(approx, 6) DESC, dst) AS qrn FROM spre)
                 WHERE qrn <= ${k * prescoreFactor}),
        nb AS (SELECT c.src, c.dst, ${cosine("a.v", "b.v")} AS cos
               FROM ssur c JOIN bkz a ON a.vec_id = c.src
                           JOIN bkz b ON b.vec_id = c.dst)"""
    // quantCtes rides along unconditionally: unreferenced CTEs cost only
    // parse time, and both the gated seed here and any gated rounds
    // appended by the nnDescent builders share the one code table
    // MATERIALIZED: bkz feeds the bucket self-join (both sides) and
    // every exact-rescore join; qc both sides of each pre-score join; knn
    // every chained round's fwd/rev and q_dedup_knn_e2e's RECURSIVE reach
    // (which otherwise re-evaluates the whole graph per iteration —
    // measured 10.5 -> 0.5 s at sf0.01, identical frames). Execution hint
    // only; the declared relation is unchanged.
    s"""${srpCtes(dim)},
        bkz AS MATERIALIZED (SELECT * FROM bk
                WHERE list_sum(list_transform(v, zx -> zx * zx)) > 0),
        $quantCtes,
        $nbSrc,
        knn AS MATERIALIZED (SELECT src, dst, cos, rn FROM (
                  SELECT *, row_number() OVER (PARTITION BY src
                    ORDER BY round(cos, 6) DESC, dst) AS rn FROM nb)
                WHERE rn <= $k)"""
  }

  /** One NN-descent refinement round over the kNN graph — mirrors
    * Similarity.nnDescentRound applied to the [[knnGraphCtes]] graph:
    * undirected neighborhood (forward ∪ reverse edges, reverse degree
    * capped at k by the same deterministic window), neighbors-of-neighbors
    * expansion through the middle node, distinct-before-score, then (when
    * `prescoreFactor > 0`) the int8 pre-score gate — identical codec to
    * the q_sim_quant_rerank oracle: per-vector scale max|x|/127, HALF_UP
    * integer codes, exact integer dot normalized by float norms, per-src
    * top prescoreFactor*k by the rounded quantized cosine — and finally
    * exact cosine + per-src top-k over the survivors. Exposes
    * `nnd(src, dst, cos, rn)`. */
  def nnDescentCtes(k: Int, prescoreFactor: Int = 0, dim: Int = 64,
      seedPrescoreFactor: Int = 0): String =
    s"""${knnGraphCtes(k, dim, seedPrescoreFactor)},
        ${nnDescentRoundCtes("knn", "nnd", k, prescoreFactor)}"""

  /** Chained rounds: seed graph -> `rounds` successive NN-descent rounds,
    * final table `nnd<rounds>` — the oracle twin of iterating
    * Similarity.nnDescentRound (each round's output schema matches its
    * input, so the CTE chain composes the same way the Scala does). */
  def nnDescentChainCtes(k: Int, rounds: Int, prescoreFactor: Int = 0,
      dim: Int = 64, seedPrescoreFactor: Int = 0): String = {
    val chain = (1 to rounds).map { r =>
      val in = if (r == 1) "knn" else s"nnd${r - 1}"
      nnDescentRoundCtes(in, s"nnd$r", k, prescoreFactor, sfx = s"_$r")
    }.mkString(",\n")
    s"""${knnGraphCtes(k, dim, seedPrescoreFactor)},
        $chain"""
  }

  /** int8 code table of the corpus (shared by every gated round):
    * per-vector symmetric scale max|x|/127, HALF_UP integer codes, float
    * norms — the quantRerankTopK codec. */
  private def quantCtes: String =
    s"""qz AS (SELECT vec_id,
                      list_max(list_transform(v, x -> abs(x))) / 127.0 AS qs,
                      sqrt(list_sum(list_transform(v, x -> x * x))) AS qn,
                      v
               FROM bkz),
        qc AS MATERIALIZED (SELECT vec_id, qs, qn,
                      list_transform(v, x -> CAST(round(x / qs) AS BIGINT)) AS code
               FROM qz WHERE qs > 0)"""

  /** CTEs for ONE NN-descent round from graph CTE `in`(src, dst, cos) to
    * `out`(src, dst, cos, rn); `sfx` uniquifies the intermediates so
    * rounds chain in one WITH clause. Requires [[quantCtes]] in scope
    * when `prescoreFactor > 0`. */
  private def nnDescentRoundCtes(in: String, out: String, k: Int,
      prescoreFactor: Int = 0, sfx: String = ""): String = {
    val (fwd, rev, und, cand, pre, nd) =
      (s"fwd$sfx", s"rev$sfx", s"und$sfx", s"cand$sfx", s"pre$sfx", s"nd$sfx")
    val exactSrc =
      if (prescoreFactor <= 0) cand
      else s"""(SELECT src, dst FROM (
                 SELECT $pre.*, row_number() OVER (PARTITION BY src
                   ORDER BY round(approx, 6) DESC, dst) AS qrn FROM $pre)
               WHERE qrn <= ${k * prescoreFactor})"""
    val preCtes =
      if (prescoreFactor <= 0) ""
      else s""",
        $pre AS (SELECT c.src, c.dst,
                       CAST(list_sum(list_transform(generate_series(1, len(a.code)),
                              ci -> a.code[ci] * b.code[ci])) AS DOUBLE)
                         * a.qs * b.qs / (a.qn * b.qn) AS approx
                FROM $cand c JOIN qc a ON a.vec_id = c.src
                            JOIN qc b ON b.vec_id = c.dst)"""
    s"""$fwd AS (SELECT src, dst FROM $in),
        $rev AS (SELECT dst AS src, src AS dst FROM (
                  SELECT src, dst, row_number() OVER (PARTITION BY dst
                    ORDER BY round(cos, 6) DESC, src) AS rrn FROM $in)
                WHERE rrn <= $k),
        $und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                  SELECT src, dst FROM $fwd UNION ALL SELECT src, dst FROM $rev)),
        $cand AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                   SELECT e1.src AS src, e2.dst AS dst
                   FROM $und e1 JOIN $und e2 ON e1.dst = e2.src
                   WHERE e1.src <> e2.dst
                   UNION ALL SELECT src, dst FROM $fwd))$preCtes,
        $nd AS (SELECT c.src, c.dst, ${cosine("a.v", "b.v")} AS cos
               FROM $exactSrc c JOIN bkz a ON a.vec_id = c.src
                           JOIN bkz b ON b.vec_id = c.dst),
        $out AS MATERIALIZED (SELECT src, dst, cos, rn FROM (
                  SELECT *, row_number() OVER (PARTITION BY src
                    ORDER BY round(cos, 6) DESC, dst) AS rn FROM $nd)
                WHERE rn <= $k)"""
  }

  /** Hamming-<=1 candidate pairs with exact cosine — the oracle answer for
    * lshBucketJoin(multiProbe = true): candidate iff buckets equal or differ
    * in exactly one bit; survivors iff cosine >= threshold. */
  def srpPairs(minCosine: Double): String =
    s"""p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosine("a.v", "b.v")} AS cos
              FROM bk a JOIN bk b
                ON a.vec_id < b.vec_id
               AND bit_count(xor(a.bucket, b.bucket)) <= 1)
        , kept AS (SELECT id_a, id_b, cos FROM p WHERE cos >= $minCosine)"""

  // ---- full oracle statements ------------------------------------------

  /** q_dedup_minhash: banded candidate pairs with est_jaccard >= 0.5. */
  def minhashPairsOracle(k: Int, nBands: Int, minEst: Double): String =
    s"""WITH ${minhashCtes(k, nBands)},
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM bands a JOIN bands b
                   ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id),
        est AS (SELECT c.id_a, c.id_b, ${estJaccard("sa.sig", "sb.sig", k)} AS ej
                FROM cand c
                JOIN sig sa ON sa.id = c.id_a
                JOIN sig sb ON sb.id = c.id_b)
        SELECT id_a, id_b, ${Num.oracleRound2("ej")} AS est_jaccard
        FROM est WHERE ej >= $minEst ORDER BY id_a, id_b"""

  /** q_dedup_incremental: incoming (id%5=0) vs existing band-table join. */
  def incrementalOracle(k: Int, nBands: Int): String =
    s"""WITH ${minhashCtes(k, nBands)}
        SELECT DISTINCT i.id AS id, e.id AS matched_id
        FROM bands i JOIN bands e
          ON i.b = e.b AND i.bkey = e.bkey
        WHERE i.id % 5 = 0 AND e.id % 5 <> 0
        ORDER BY id, matched_id"""

  /** q_dedup_minhash_grouped: one signature per lang over all its docs'
    * tokens, emitted as the comma-joined component string. */
  def groupedMinhashOracle(k: Int): String = {
    val mins = (0 until k)
      .map(j => s"min((${Portable.a(j)} * (h % $P) + ${Portable.b(j)}) % $P) AS s$j")
      .mkString(", ")
    val sigStr = (0 until k)
      .map(j => s"CAST(coalesce(s$j, $MaxLong) AS VARCHAR)")
      .mkString(", ")
    s"""WITH tok AS (SELECT lang, unnest(${toks("text")}) AS t FROM documents),
        h AS (SELECT lang, ${h48("t")} AS h FROM tok),
        m AS (SELECT lang, $mins FROM h GROUP BY lang),
        l AS (SELECT DISTINCT lang FROM documents)
        SELECT l.lang, concat_ws(',', $sigStr) AS sig
        FROM l LEFT JOIN m ON l.lang = m.lang
        ORDER BY l.lang"""
  }

  /** q_dedup_simhash: 63-bit portable simhash + same-fingerprint counts. */
  def simhashOracle: String = {
    val votes = (0 until Portable.SimHashBits).map { j =>
      val bit = if (j < 32) s"((lo >> $j) & 1)" else s"((hi >> ${j - 32}) & 1)"
      s"sum(CASE WHEN $bit = 1 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(", ")
    val fp = (0 until Portable.SimHashBits)
      .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS t FROM documents),
        md AS (SELECT doc_id, md5(t) AS m FROM tok),
        hl AS (SELECT doc_id, ${hexParse("substring(m, 1, 8)", 8)} AS hi,
                              ${hexParse("substring(m, 9, 8)", 8, "hxj")} AS lo FROM md),
        v AS (SELECT doc_id, $votes FROM hl GROUP BY doc_id),
        fp AS (SELECT doc_id, $fp AS fp FROM v),
        j AS (SELECT d.doc_id, CAST(coalesce(fp.fp, 0) AS BIGINT) AS simhash
              FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id)
        SELECT doc_id, simhash,
               CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS n_same
        FROM j ORDER BY doc_id"""
  }

  /** q_sim_lsh: SRP-bucketed near-dup pairs (Hamming<=1 probe, exact
    * cosine >= minCosine), round2'ed. */
  def srpLshOracle(minCosine: Double): String =
    s"""WITH ${srpCtes()},
        ${srpPairs(minCosine)}
        SELECT id_a, id_b, ${Num.oracleRound2("cos")} AS cos
        FROM kept ORDER BY id_a, id_b"""

  /** q_sim_rerank: two-stage retrieval — SRP recall (Hamming<=1 between
    * query and corpus buckets) then exact-cosine top-k rerank; ranking
    * ties on round(cos, 6) then vec_id, same as the IVF oracle. */
  def lshRerankOracle(topK: Int): String =
    s"""WITH ${srpCtes()},
        q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb
              FROM bk WHERE vec_id % 100 = 0),
        c AS (SELECT vec_id, v AS cv, bucket FROM bk WHERE vec_id % 100 <> 0),
        cand AS (SELECT q_id, vec_id, ${cosine("qv", "cv")} AS cos
                 FROM q JOIN c ON bit_count(xor(q.qb, c.bucket)) <= 1)
        SELECT q_id, vec_id, ${Num.oracleRound2("cos")} AS cos,
               CAST(rn AS BIGINT) AS rn
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY round(cos, 6) DESC, vec_id) AS rn FROM cand)
        WHERE rn <= $topK ORDER BY q_id, rn"""

  /** q_dedup_embed: survivors after dropping every id that appears as the
    * larger partner of a pair with cosine >= minCosine (keepFromPairs). */
  def embedDedupOracle(minCosine: Double): String =
    s"""WITH ${srpCtes()},
        ${srpPairs(minCosine)}
        SELECT vec_id FROM e
        WHERE vec_id NOT IN (SELECT id_b FROM kept)
        ORDER BY vec_id"""

  /** q_corpus_bpe: k unrolled BPE merge iterations over the corpus
    * word-frequency table — each level picks the top adjacent-symbol pair
    * (count DESC, lhs, rhs) and replays the greedy left-to-right merge via
    * the same separator-encoded `replace` as Bpe.learnMerges. wN levels
    * are MATERIALIZED: each is referenced twice (pair count + next merge)
    * and the default inlining would re-derive the chain exponentially. */
  /** Shared CTE chain for the BPE oracles: word-frequency table t0, then
    * k (pair-selection, merge) levels w1..wk — each level CARRIES the
    * original word `w` so the final segmentation stays joinable back to
    * document tokens. */
  private def bpeCtes(k: Int): String = {
    val sep = "chr(31)"
    val ctes = new StringBuilder(
      s"""t0 AS (SELECT w, CAST(count(*) AS BIGINT) AS n
                 FROM (SELECT unnest(${toks("text")}) AS w FROM documents)
                 GROUP BY w),
          w0 AS (SELECT w, list_transform(generate_series(1, length(w)),
                        ci -> substring(w, ci, 1)) AS syms, n FROM t0)""")
    for (i <- 1 to k) {
      val prev = s"w${i - 1}"
      ctes ++= s""",
        p$i AS (SELECT l, r, cnt FROM (
                  SELECT p.l AS l, p.r AS r, CAST(sum(n) AS BIGINT) AS cnt FROM (
                    SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                           gi -> struct_pack(l := syms[gi], r := syms[gi + 1]))) AS p, n
                    FROM $prev WHERE len(syms) >= 2)
                  GROUP BY p.l, p.r)
                ORDER BY cnt DESC, l, r LIMIT 1),
        w$i AS MATERIALIZED (SELECT w, string_split(
                  trim(replace(
                    list_aggregate(list_transform(syms, s -> $sep || s || $sep),
                      'string_agg', ''),
                    (SELECT $sep || l || $sep || $sep || r || $sep FROM p$i),
                    (SELECT $sep || l || r || $sep FROM p$i)), chr(31)),
                  $sep || $sep) AS syms, n
                FROM $prev)"""
    }
    ctes.toString
  }

  def bpeOracle(k: Int): String = {
    val union = (1 to k)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, l AS lhs, r AS rhs, cnt AS n FROM p$i")
      .mkString("\n UNION ALL ")
    s"WITH ${bpeCtes(k)}\n $union ORDER BY step"
  }

  /** q_corpus_bpe_apply: per-document subword stats under the k learned
    * merges — the tokenize step. Docs with no tokens report zeros. */
  def bpeApplyOracle(k: Int): String =
    s"""WITH ${bpeCtes(k)},
        seg AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM w$k),
        tok AS (SELECT doc_id, unnest(${toks("text")}) AS w FROM documents),
        d AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(sum(seg.n_sub) AS BIGINT) AS n_subwords
              FROM tok JOIN seg ON tok.w = seg.w
              GROUP BY tok.doc_id)
        SELECT doc.doc_id,
               CAST(coalesce(d.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(d.n_subwords, 0) AS BIGINT) AS n_subwords,
               CASE WHEN coalesce(d.n_tokens, 0) > 0
                    THEN ${Num.oracleRound2("CAST(d.n_subwords AS DOUBLE) / d.n_tokens")}
                    ELSE 0.0 END AS subword_ratio
        FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
        ORDER BY doc.doc_id"""

  /** q_dedup_embed_incremental: incoming (vec_id%5=0) vectors vs the
    * persisted bucket table of the rest — candidate iff buckets equal or
    * differ in one bit (the multi-probe contract), match iff exact cosine
    * >= minCosine. Mirrors Similarity.incrementalEmbedDedup stage by
    * stage. */
  def embedDedupIncrementalOracle(minCosine: Double): String =
    s"""WITH ${srpCtes()}
        SELECT i.vec_id AS id, e.vec_id AS matched_id
        FROM bk i JOIN bk e
          ON bit_count(xor(i.bucket, e.bucket)) <= 1
        WHERE i.vec_id % 5 = 0 AND e.vec_id % 5 <> 0
          AND ${cosine("i.v", "e.v")} >= $minCosine
        ORDER BY id, matched_id"""

  /** q_dedup_semantic: corpus-scaled SemDeDup — mirrors
    * Similarity.semanticDedupScaled stage by stage: stride-grid fine seeds
    * (vec_id % stride == 0, plus the min id), 0-based dense rank r by
    * c_id, L = ⌈log_fanout F⌉ descent levels, node of leaf rank r at
    * depth d = r // fanout^(L-d) represented by its min-rank seed, and a
    * greedy per-row descent taking the (squared-L2 asc, child-id asc)
    * argmin over each node's <= fanout children; in-cell pairs with
    * cosine >= tau, min-id keeper.
    *
    * The engine builds exactly L levels at runtime; static SQL can't, so
    * the descent is unrolled to `lmax` stages where stage d > L is a
    * structural no-op (every leaf is its own parent AND only child, so
    * the argmin returns the incoming node unchanged). lmax = 4 covers
    * F <= fanout^4 fine seeds (= 32^4·stride ≈ 67M corpus rows at the
    * defaults) — far past any oracle scale; the engine itself has no such
    * bound. */
  def semanticDedupOracle(
      tau: Double, stride: Int, fanout: Int = 32, lmax: Int = 4): String = {
    // span of a depth-d child block, as SQL (power is double but exact
    // far past any realizable fanout^level here)
    def sp(d: Int): String =
      s"CAST(power($fanout, greatest((SELECT l FROM par) - $d, 0)) AS BIGINT)"
    val stages = (1 to lmax).map { d =>
      s"""ch$d AS (SELECT c_id, centroid,
                   r // ${sp(d)} AS cg,
                   CASE WHEN $d > (SELECT l FROM par) THEN r
                        ELSE r // (${sp(d)} * $fanout) END AS pg
            FROM rk WHERE r % ${sp(d)} = 0),
        s$d AS (SELECT vec_id, v, g FROM (
                  SELECT p.vec_id, p.v, c.cg AS g,
                         row_number() OVER (PARTITION BY p.vec_id
                           ORDER BY ${l2Sq("p.v", "c.centroid")}, c.cg) AS rn
                  FROM s${d - 1} p JOIN ch$d c ON p.g = c.pg) WHERE rn = 1)"""
    }.mkString(",\n        ")
    s"""WITH e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS centroid FROM e
                 WHERE vec_id % $stride = 0
                    OR vec_id = (SELECT min(vec_id) FROM e)),
        rk AS (SELECT c_id, centroid,
                      row_number() OVER (ORDER BY c_id) - 1 AS r FROM cent),
        par AS (SELECT CASE
                  WHEN (SELECT count(*) FROM cent) > power($fanout, $lmax)
                  -- fail LOUDLY instead of silently computing a shallower
                  -- (wrong) descent than the engine's unbounded-level tree:
                  -- an out-of-range fixture must read as an oracle
                  -- limitation, never as an engine bug (r13 ADVICE)
                  THEN CAST(error('semanticDedupOracle: fine seeds exceed fanout^lmax — raise lmax') AS BIGINT)
                  ELSE (SELECT min(d) FROM generate_series(1, $lmax) t(d)
                        WHERE power($fanout, d) >= (SELECT count(*) FROM cent))
                END AS l),
        s0 AS (SELECT vec_id, v, CAST(0 AS BIGINT) AS g FROM e),
        $stages,
        asg AS (SELECT s.vec_id, s.v, rk.c_id
                FROM s$lmax s JOIN rk ON s.g = rk.r),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM asg a JOIN asg b
                ON a.c_id = b.c_id AND a.vec_id < b.vec_id
               AND ${cosine("a.v", "b.v")} >= $tau)
        SELECT vec_id, CAST(c_id AS BIGINT) AS c_id FROM asg
        WHERE vec_id NOT IN (SELECT id_b FROM p)
        ORDER BY vec_id"""
  }

  /** q_sim_ivf: deterministic-sample IVF (first nCentroids corpus ids),
    * argmin-cell assignment, nProbe nearest cells per query, exact cosine
    * top-k — mirrors Similarity.ivfTopK stage by stage. */
  def ivfOracle(nCentroids: Int, nProbe: Int, topK: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
              FROM embeddings WHERE vec_id >= 5),
        cent AS (SELECT vec_id AS c_id, cv AS centroid
                 FROM c ORDER BY vec_id LIMIT $nCentroids),
        asg AS (SELECT vec_id, cv, c_id FROM (
                  SELECT c.vec_id, c.cv, cent.c_id,
                         row_number() OVER (PARTITION BY c.vec_id
                           ORDER BY ${l2Sq("c.cv", "cent.centroid")}, cent.c_id) AS arn
                  FROM c, cent) WHERE arn = 1),
        pr AS (SELECT q_id, qv, c_id FROM (
                 SELECT q.q_id, q.qv, cent.c_id,
                        row_number() OVER (PARTITION BY q.q_id
                          ORDER BY ${l2Sq("q.qv", "cent.centroid")}, cent.c_id) AS prn
                 FROM q, cent) WHERE prn <= $nProbe),
        sc AS (SELECT pr.q_id, asg.vec_id, ${cosine("pr.qv", "asg.cv")} AS cos
               FROM asg JOIN pr ON asg.c_id = pr.c_id)
        SELECT q_id, vec_id, ${Num.oracleRound2("cos")} AS sim, CAST(rn AS BIGINT) AS rn
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY round(cos, 6) DESC, vec_id) AS rn FROM sc)
        WHERE rn <= $topK ORDER BY q_id, rn"""
}
