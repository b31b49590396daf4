package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{MinHashAggregator, Num, SimHash, TextFunctions => T, VectorFunctions => V}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search + near-dup detection — SURVEY.md §2.10 and the
  * north-star LLM-pipeline operators (ANN over embeddings; MinHash/SimHash/
  * n-gram-Jaccard near-dup over documents).
  */
object SimilarityQueries {

  /** Deterministic high-dim extension of the 64-dim embedding to `dim`
    * components — the Spark twin of PortableSql.extendDimSql (same
    * integer congruential mix in exact BIGINT arithmetic, same IEEE
    * cast/divide/shift), so the DuckDB oracle re-derives the identical
    * 768-dim fixture. Components in [-0.5, 0.5) like the synthetic
    * embeddings. The mix is Carter-Wegman-shaped — id enters
    * MULTIPLICATIVELY through a per-component multiplier — because the
    * first cut (additive id) made every vector's extension a phase shift
    * of one sawtooth: hyperplane dots correlated, SRP buckets skewed 69x
    * (max pop 6670 vs mean 97 at 100x, 1.25B candidate pairs, one 102M-
    * pair mega-bucket running as a 439 s single task). The bilinear mix
    * restores near-flat buckets (max 151, skew 1.05, 133M pairs). */
  private def extendDim(dim: Int) = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    // native mix loop (graft.expressions.HighDimMix) — the
    // transform(sequence(...)) spelling evaluated the lambda interpreted
    // per element (~10 ms/row at 704 elements); exact long + IEEE
    // arithmetic is unchanged, so the oracle's extendDimSql replay and
    // the HOF form stay bit-identical (ExpressionSpec)
    concat(col("v"),
      column(graft.expressions.HighDimMix(expression(col("vec_id")), 64, dim)))
  }

  /** The replaced HOF spelling of [[extendDim]], kept for the
    * ExpressionSpec bit-parity pin. */
  private[graft] def extendDimHof(dim: Int) = expr(
    s"concat(v, transform(sequence(64, ${dim - 1}), " +
      "xi -> (CAST(((((xi + 1L) * 40503L) % 100003L) * " +
      "((vec_id * 2654435761L) % 100003L + 1L) + xi * 97911L) % 100003L " +
      "AS DOUBLE) / 100003.0) - 0.5))")

  /** The materialized `dim`-dim fixture corpus for the high-dim queries:
    * (vec_id, v) with v the [[extendDim]] extension of the stored 64-dim
    * embedding. Built ONCE per query invocation, eagerly, because the
    * consumers (gated knnGraph seed + each NN-descent round) read the
    * corpus from up to ten plan branches (the int8 codes per round, the two
    * float-fetch joins per round, both seed sides) and the derivation is
    * the expensive part of the scan at dim=768: the extension + int8
    * quantize are interpreted higher-order-function passes (~1.5k element
    * ops/row), and the sf0.1 source parquet is ONE split, so every
    * recomputation ran as a ~2-6 s SINGLE task (13 such serial stages =
    * ~17 s of the query's steady wall at sf0.1). The round-robin
    * repartition parallelizes the derivation (pre-extension rows are
    * 0.5 KB, so the exchange is cheap), and the eager localCheckpoint
    * pays it exactly once inside the timed body — also avoiding the lazy
    * checkpoint's duplication: a lazy checkpoint read by two concurrent
    * branches computes its input once per branch.
    * Blocks die with the bench's per-query unpersist, like the operators'
    * own Lineage checkpoints; values are bit-identical, so the oracle
    * replay is unchanged. */
  private def highDimFixture(s: org.apache.spark.sql.SparkSession, d: String,
      dim: Int): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), extendDim(dim).as("v"))
      .localCheckpoint(true)

  val defs: Seq[QueryDef] = Seq(

    // Brute-force cosine top-10: 5 query vectors (broadcast) vs the corpus.
    QueryDef(
      "q_sim_topk",
      Some("""WITH q AS (SELECT vec_id AS q_id,
                                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                         FROM embeddings WHERE vec_id < 5),
                   c AS (SELECT vec_id,
                                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                         FROM embeddings WHERE vec_id >= 5),
                   p AS (SELECT q_id, vec_id,
                                list_sum(list_transform(generate_series(1, len(qv)),
                                                        i -> qv[i] * cv[i])) /
                                (sqrt(list_sum(list_transform(qv, x -> x * x))) *
                                 sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos
                         FROM c, q)
              SELECT q_id, vec_id,
                     CAST(round(CAST(cos AS DECIMAL(28,6)), 2) AS DOUBLE) AS sim,
                     CAST(rn AS BIGINT) AS rn
              FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY round(cos, 6) DESC, vec_id) AS rn FROM p)
              WHERE rn <= 10 ORDER BY q_id, rn""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), V.asDouble(col("embedding")).as("qv"))
      val corpus = emb.filter(col("vec_id") >= 5)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("cv"))
      Similarity.bruteForceTopK(queries, corpus, 10)
        .select(
          col("q_id"), col("vec_id"),
          Num.round2(col("cos")).as("sim"), col("rn").cast("long"))
        .orderBy("q_id", "rn")
    },

    // ColBERT-style late-interaction MaxSim retrieval (Similarity
    // .maxSimTopK): multi-vector documents (8 vectors per synthetic doc =
    // vec_id/8), score = Σ per query vector of the max cosine against the
    // candidate's vectors, top-5 per query doc. Cross-engine float notes
    // as q_sim_topk: per-pair cosine agrees to well under the rounding
    // tolerance, ranking ties break on round6 + c_doc, output rounds to 2.
    QueryDef(
      "q_sim_maxsim",
      Some("""WITH v AS (SELECT vec_id, vec_id // 8 AS doc,
                                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
                         FROM embeddings),
                   q AS (SELECT doc AS q_doc, vec_id AS qv_id, vv AS qv
                         FROM v WHERE doc < 2),
                   c AS (SELECT doc AS c_doc, vv AS cv FROM v WHERE doc >= 2),
                   p AS (SELECT q_doc, c_doc, qv_id,
                                max(list_sum(list_transform(generate_series(1, len(qv)),
                                                            i -> qv[i] * cv[i])) /
                                    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
                                     sqrt(list_sum(list_transform(cv, x -> x * x))))) AS mx
                         FROM c, q GROUP BY 1, 2, 3),
                   s AS (SELECT q_doc, c_doc, sum(mx) AS maxsim FROM p GROUP BY 1, 2)
              SELECT q_doc, c_doc,
                     CAST(round(CAST(maxsim AS DECIMAL(28,6)), 2) AS DOUBLE) AS maxsim,
                     CAST(rn AS BIGINT) AS rn
              FROM (SELECT *, row_number() OVER (PARTITION BY q_doc
                      ORDER BY round(maxsim, 6) DESC, c_doc) AS rn FROM s)
              WHERE rn <= 5 ORDER BY q_doc, rn""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), (col("vec_id") / lit(8)).cast("long").as("doc"),
          V.asDouble(col("embedding")).as("vv"))
      val queries = emb.filter(col("doc") < 2)
        .select(col("doc").as("q_doc"), col("vec_id").as("qv_id"),
          col("vv").as("qv"))
      val corpus = emb.filter(col("doc") >= 2)
        .select(col("doc").as("c_doc"), col("vv").as("cv"))
      Similarity.maxSimTopK(queries, corpus, 5)
        .select(col("q_doc"), col("c_doc"),
          Num.round2(col("maxsim")).as("maxsim"), col("rn").cast("long"))
        .orderBy("q_doc", "rn")
    },

    // LSH-bucketed near-dup over embeddings — the scale path (equi-join on
    // SRP buckets instead of corpus², then exact cosine re-check).
    // The synthetic embeddings are random (max pairwise cosine ≈ 0.48), so
    // the threshold 0.3 surfaces the top of the distribution. Portable
    // hyperplanes (md5-derived signs, Portable.srpSign) make the bucket
    // assignment — and therefore the exact pair set, probe misses included —
    // reproducible by the DuckDB oracle (PortableSql.srpLshOracle).
    QueryDef("q_sim_lsh", Some(PortableSql.srpLshOracle(0.3))) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      // bits derived from corpus size (bucket count grows with the data;
      // expected bucket ~64 rows), recall recovered via Hamming-1 probing.
      // Memoized count: one sizing job per session+dir, shared with
      // q_dedup_embed, and re-running the builder (Explain) stays cheap.
      val nBits = Similarity.lshNBits(Tables.rowCount(s, d, "embeddings"))
      Similarity.lshBucketJoin(emb, dim = 64, nBits = nBits, minCosine = 0.3,
          multiProbe = true)
        .select(col("id_a"), col("id_b"), Num.round2(col("cos")).as("cos"))
        .orderBy("id_a", "id_b")
    },

    // Whole-corpus kNN GRAPH (Similarity.knnGraph): per vector, its top-5
    // neighbors among same-or-Hamming-1-bucket mates — the building block
    // for graph-based dedup clustering and NN-descent/HNSW-style index
    // construction, distinct from q_sim_lsh (thresholded PAIRS) and
    // q_sim_rerank (query-set retrieval). Portable buckets: the oracle
    // replays the candidate rule and the per-node ranking exactly.
    QueryDef(
      "q_sim_knn",
      Some(s"""WITH ${PortableSql.knnGraphCtes(5)}
          SELECT src, dst, ${Num.oracleRound2("cos")} AS cos,
                 CAST(rn AS BIGINT) AS rn
          FROM knn ORDER BY src, rn""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      val n = Tables.rowCount(s, d, "embeddings")
      val nBits = Similarity.lshNBits(n)
      Similarity.knnGraph(emb, dim = 64, nBits = nBits, k = 5, corpusRows = Some(n))
        .select(col("src"), col("dst"), Num.round2(col("cos")).as("cos"),
          col("rn").cast("long").as("rn"))
        .orderBy("src", "rn")
    },

    // One NN-descent refinement round over the q_sim_knn graph
    // (Similarity.nnDescentRound): neighbors-of-neighbors candidate
    // expansion with the reverse degree capped at k, exact-cosine
    // re-scoring, same partitioned top-k — the construction step that
    // turns the SRP-bucketed seed graph into a high-recall kNN graph
    // (recall vs brute force measured in ScaleUpSpec / SCALE artifacts).
    // Fully deterministic, so the oracle replays the round exactly.
    // prescoreFactor stays 0 here ON MEASUREMENT: the int8 gate
    // (nnDescentRound's dial, SCALE_r16.json `nndescent_ab`) trades two
    // extra joins + a per-src window for an 8x-narrower candidate exchange,
    // and at dim=64/k=5 on page-cached local shuffle the A/B puts the gate
    // SLOWER at every probed scale (100x round min 9.5 s gated vs 7.5 s
    // exact; 1x steady 3.6 vs 2.7) — the exchange it narrows is cheaper
    // than the stages it adds. The dial exists for the geometry where it
    // wins: high-dim vectors (768-dim = 6 KB/row riding every candidate
    // pair vs 96x-narrower codes) or network-shuffle clusters where
    // exchange bytes, not stage count, dominate.
    QueryDef(
      "q_sim_nndescent",
      Some(s"""WITH ${PortableSql.nnDescentCtes(5)}
          SELECT src, dst, ${Num.oracleRound2("cos")} AS cos,
                 CAST(rn AS BIGINT) AS rn
          FROM nnd ORDER BY src, rn""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      val n = Tables.rowCount(s, d, "embeddings")
      val nBits = Similarity.lshNBits(n)
      val seed = Similarity.knnGraph(emb, dim = 64, nBits = nBits, k = 5,
        corpusRows = Some(n))
      Similarity.nnDescentRound(seed, emb, k = 5, corpusRows = Some(n))
        .select(col("src"), col("dst"), Num.round2(col("cos")).as("cos"),
          col("rn").cast("long").as("rn"))
        .orderBy("src", "rn")
    },

    // HIGH-DIM NN-descent round with the int8 pre-score gate ON — the
    // geometry the gate exists for (SCALE_r16.json `nndescent_ab`: at
    // dim=768 the gate wins 4.4x at 200k vectors, where the exact path
    // moves ~120 GB of 6 KB float vectors through the candidate exchange
    // and the gate's 768-BYTE codes are 8x narrower + survivor-only float
    // fetch; at dim=64 the same dial LOSES and q_sim_nndescent ships
    // exact). The fixture extends each corpus vector to 768 dims with the
    // deterministic portable mix (extendDim/PortableSql.extendDimSql) so
    // the oracle replays seed graph, expansion, int8 pre-rank and exact
    // rerank bit-for-bit — the registry now exercises BOTH sides of the
    // measured crossover, not just the probe tool.
    QueryDef(
      "q_sim_nndescent_highdim",
      Some(s"""WITH ${PortableSql.nnDescentCtes(5, prescoreFactor = 3,
                dim = 768, seedPrescoreFactor = 3)}
          SELECT src, dst, ${Num.oracleRound2("cos")} AS cos,
                 CAST(rn AS BIGINT) AS rn
          FROM nnd ORDER BY src, rn""")) { (s, d) =>
      val dim = 768
      val emb = highDimFixture(s, d, dim)
      val n = Tables.rowCount(s, d, "embeddings")
      val nBits = Similarity.lshNBits(n)
      val seed = Similarity.knnGraph(emb, dim = dim, nBits = nBits, k = 5,
        prescoreFactor = 3, corpusRows = Some(n))
      Similarity.nnDescentRound(seed, emb, k = 5, prescoreFactor = 3,
        corpusRows = Some(n))
        .select(col("src"), col("dst"), Num.round2(col("cos")).as("cos"),
          col("rn").cast("long").as("rn"))
        .orderBy("src", "rn")
    },

    // CHAINED gated rounds at dim=768 — the production ANN-index build
    // shape (Dong WWW'11 iterates to convergence; the chained-fixture
    // recall curve seed 0.656 -> round1 0.770 -> round2 0.824 in
    // SCALE_r16 showed two rounds close most of the bucketing's recall
    // gap). Each round re-pays only the int8 pre-score on its expanded
    // candidates; the oracle composes the same round CTE twice
    // (PortableSql.nnDescentChainCtes), so every intermediate — seed,
    // round-1 survivors, round-2 rank — is replayed exactly.
    QueryDef(
      "q_sim_nndescent_chain",
      Some(s"""WITH ${PortableSql.nnDescentChainCtes(5, rounds = 2,
                prescoreFactor = 3, dim = 768, seedPrescoreFactor = 3)}
          SELECT src, dst, ${Num.oracleRound2("cos")} AS cos,
                 CAST(rn AS BIGINT) AS rn
          FROM nnd2 ORDER BY src, rn""")) { (s, d) =>
      val dim = 768
      val emb = highDimFixture(s, d, dim)
      val n = Tables.rowCount(s, d, "embeddings")
      val nBits = Similarity.lshNBits(n)
      val seed = Similarity.knnGraph(emb, dim = dim, nBits = nBits, k = 5,
        prescoreFactor = 3, corpusRows = Some(n))
      val r1 = Similarity.nnDescentRound(seed, emb, k = 5, prescoreFactor = 3,
        corpusRows = Some(n))
      Similarity.nnDescentRound(r1, emb, k = 5, prescoreFactor = 3,
        corpusRows = Some(n))
        .select(col("src"), col("dst"), Num.round2(col("cos")).as("cos"),
          col("rn").cast("long").as("rn"))
        .orderBy("src", "rn")
    },

    // Two-stage ANN retrieval (the production search shape): SRP-LSH
    // recall bounds the candidate set — each query probes its own bucket
    // plus all Hamming-1 neighbors — then an exact-cosine rerank picks
    // top-k. The portable bucket bits make the recall stage, and
    // therefore the exact result set, replayable by the DuckDB oracle
    // (PortableSql.lshRerankOracle).
    QueryDef("q_sim_rerank", Some(PortableSql.lshRerankOracle(5))) { (s, d) =>
      import graft.functions.{VectorFunctions => V}
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val corpus = emb.filter(col("vec_id") % 100 =!= 0)
        .select(col("vec_id"), col("v").as("cv"))
      val nBits = Similarity.lshNBits(Tables.rowCount(s, d, "embeddings"))
      Similarity.lshTopK(queries, corpus, dim = 64, nBits = nBits, k = 5)
        .select(col("q_id"), col("vec_id"),
          Num.round2(col("cos")).as("cos"), col("rn").cast("long").as("rn"))
        .orderBy("q_id", "rn")
    },

    // Quantized coarse scan + exact rerank (scan-then-refine on the int8
    // per-vector codec of q_embed_quant): the full corpus is scanned as
    // integer codes under an integer dot product — the 4x-smaller store
    // is the 100 TB cost driver — and only the top 4k coarse survivors
    // per query fetch float vectors for the exact cosine rerank. Both
    // engines derive identical codes (IEEE double division, shared
    // HALF_UP round), so the oracle replays the approximate result set
    // EXACTLY — the approximation is in the semantics (recall vs brute
    // force, spec-measured), never in the comparison.
    QueryDef(
      "q_sim_quant_rerank",
      Some(s"""WITH e AS (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv,
                       list_max(list_transform(v, x -> abs(x))) / 127.0 AS q_scale,
                       sqrt(list_sum(list_transform(v, x -> x * x))) AS q_norm
                FROM e WHERE vec_id < 50),
          qq AS (SELECT q_id, qv, q_scale, q_norm,
                        list_transform(qv, x -> CAST(round(x / q_scale) AS BIGINT)) AS qcode
                 FROM q WHERE q_scale > 0),
          c AS (SELECT vec_id, v AS cv,
                       list_max(list_transform(v, x -> abs(x))) / 127.0 AS c_scale,
                       sqrt(list_sum(list_transform(v, x -> x * x))) AS c_norm
                FROM e WHERE vec_id >= 50),
          -- the engine drops zero-norm vectors at quantize time (cosine
          -- undefined); mirror the guard so a zero embedding in the fixture
          -- can never divide by scale 0 here while the engine drops the row
          cc AS (SELECT vec_id, cv, c_scale, c_norm,
                        list_transform(cv, x -> CAST(round(x / c_scale) AS BIGINT)) AS ccode
                 FROM c WHERE c_scale > 0),
          coarse AS (SELECT q_id, vec_id, qv, cv,
                            CAST(list_sum(list_transform(generate_series(1, len(qcode)),
                                   ci -> qcode[ci] * ccode[ci])) AS DOUBLE)
                              * q_scale * c_scale / (q_norm * c_norm) AS approx
                     FROM qq, cc),
          surv AS (SELECT q_id, vec_id, qv, cv FROM (
                     SELECT *, row_number() OVER (PARTITION BY q_id
                              ORDER BY round(approx, 6) DESC, vec_id) AS crn
                     FROM coarse) WHERE crn <= 20),
          rer AS (SELECT q_id, vec_id, ${PortableSql.cosine("qv", "cv")} AS cos
                  FROM surv)
          SELECT q_id, vec_id, ${Num.oracleRound2("cos")} AS cos,
                 CAST(rn AS BIGINT) AS rn
          FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY round(cos, 6) DESC, vec_id) AS rn FROM rer)
          WHERE rn <= 5 ORDER BY q_id, rn""")) { (s, d) =>
      import graft.functions.{VectorFunctions => V}
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      // FIXED query set (like q_sim_topk), not a corpus fraction: the
      // operator contract is "queries small, broadcast" — a %-of-corpus
      // query set would make the coarse scan quadratic in the corpus
      // (queries x corpus both growing), which is a benchmark artifact,
      // not the serving shape
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val corpus = emb.filter(col("vec_id") >= 50)
        .select(col("vec_id"), col("v").as("cv"))
      Similarity.quantRerankTopK(queries, corpus, k = 5, candidateFactor = 4)
        .select(col("q_id"), col("vec_id"),
          Num.round2(col("cos")).as("cos"), col("rn").cast("long").as("rn"))
        .orderBy("q_id", "rn")
    },

    // MinHash + banding near-dup candidates over documents (16-component
    // signatures, 4 bands of 4 — 4-row bands collide on shared-vocabulary
    // corpora). Portable md5-derived hash family: the DuckDB oracle
    // recomputes the identical signatures and band keys, so the candidate
    // pair set is checked exactly (PortableSql.minhashPairsOracle).
    QueryDef("q_dedup_minhash",
        Some(PortableSql.minhashPairsOracle(16, 4, 0.5))) { (s, d) =>
      // round-robin spread BEFORE shingling (the corpus may arrive as one
      // split); the operator's own hash exchange then materializes shingles
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id").as("id"), T.ngrams(T.tokens(col("text")), 3).as("shingles"))
        .filter(size(col("shingles")) > 0)
      Similarity.minhashCandidatePairs(docs, k = 16, nBands = 4,
          minEstJaccard = 0.5)
        .select(col("id_a"), col("id_b"), Num.round2(col("est_jaccard")).as("est_jaccard"))
        .orderBy("id_a", "id_b")
    },

    // IVF approximate top-k — the other scale path for ANN: nearest-centroid
    // partitioning, nProbe-cell search. Every stage is deterministic
    // (first-C centroid sample, argmin ties by centroid id), so the DuckDB
    // oracle replays it stage by stage (PortableSql.ivfOracle). Cross-engine
    // float-ranking ties: argmin gaps over 16 random centroids are O(0.1) —
    // same accepted risk class as the jaccard band-boundary note.
    QueryDef("q_sim_ivf", Some(PortableSql.ivfOracle(16, 4, 10))) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), V.asDouble(col("embedding")).as("qv"))
      val corpus = emb.filter(col("vec_id") >= 5)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("cv"))
      Similarity.ivfTopK(queries, corpus, nCentroids = 16, nProbe = 4, k = 10)
        .select(col("q_id"), col("vec_id"), Num.round2(col("cos")).as("sim"),
          col("rn").cast("long"))
        .orderBy("q_id", "rn")
    },

    // Near-dup pairs resolved into duplicate CLUSTERS: connected components
    // over the jaccard pair graph via iterative star contraction
    // (Dedup.duplicateClusters, two-phase star — joins +
    // aggregations only, O(log n) rounds). Oracle: the same closure via a
    // DuckDB recursive CTE — full transitive reachability, so a hash match
    // also proves the contraction ran to convergence.
    QueryDef(
      "q_dedup_clusters",
      // MATERIALIZED on t/pairs/edges (oracle-side execution hint
      // only): DuckDB 1.0 inlines CTEs, so the RECURSIVE reach otherwise
      // re-evaluates the quadratic pair join per iteration (measured
      // 5.0 -> 0.36 s at sf0.01, identical frames)
      Some("""WITH RECURSIVE t AS MATERIALIZED (SELECT doc_id, lang,
                     CAST(floor(ln(1 + n_chars) / 0.1) AS BIGINT) AS band,
                     list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                               x -> x <> '')) AS toks
                FROM documents),
              pairs AS MATERIALIZED (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM t a JOIN t b
                  ON a.lang = b.lang AND abs(a.band - b.band) <= 1
                 AND a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5),
              edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
              reach AS (
                SELECT DISTINCT src AS id, src AS r FROM edges
                UNION
                SELECT e.src AS id, reach.r AS r
                FROM edges e JOIN reach ON e.dst = reach.id)
              SELECT id, min(r) AS root FROM reach GROUP BY id ORDER BY id""")) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), T.tokens(col("text")).as("toks"))
      val pairs = Similarity.jaccardNearDupPairs(t, minJaccard = 0.5,
        corpusRows = Some(Tables.rowCount(s, d, "documents")))
      Dedup.duplicateClusters(pairs.select("doc_a", "doc_b"))
        .orderBy("id")
    },

    // Embedding-cosine near-dup KEEPER: LSH pairs at cosine >= 0.98 mark
    // near-identical vectors; every id appearing as the larger partner is
    // dropped, smallest id per cluster (and all unpaired ids) survive —
    // one anti-join (Dedup.keepFromPairs). Portable SRP buckets, so the
    // oracle recomputes the identical pair set and survivor list
    // (PortableSql.embedDedupOracle).
    QueryDef("q_dedup_embed",
        Some(PortableSql.embedDedupOracle(0.98))) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      val pairs = Similarity.lshBucketJoin(
          emb, dim = 64,
          nBits = Similarity.lshNBits(Tables.rowCount(s, d, "embeddings")),
          minCosine = 0.98, multiProbe = true)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      Dedup.keepFromPairs(emb.select("vec_id"), "vec_id", pairs)
        .orderBy("vec_id")
    },

    // SemDeDup (Abbas et al. 2023): cluster the embedding space, compare
    // pairs only WITHIN a cluster, drop everything with an in-cell cosine
    // >= tau to a smaller id. tau = 0.3 surfaces the top of the
    // random-vector cosine distribution (max pairwise ~0.48); real corpora
    // use ~0.9+. Cell count is corpus-derived (expected cell ~stride rows,
    // like q_sim_lsh's bit count) so the in-cell quadratic term stays
    // bounded as the data grows — which is why this registers the SCALED
    // variant (stride-grid fine seeds, constant-fan-out radix-rank
    // routing tree, distributed per-depth bundles): the flat argmin would
    // be O(N²·dim) assignment compute with a linearly-growing driver
    // collect at that sizing, and the former sqrt-F router table was
    // still an O(N^1.5) asymptote. The oracle replays seed selection,
    // the rank, every descent level and the keeper arithmetic exactly
    // (PortableSql.semanticDedupOracle), so the correctness gate
    // exercises the 100 TB code path itself.
    QueryDef("q_dedup_semantic",
        Some(PortableSql.semanticDedupOracle(0.3, 64))) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("cv"))
      Similarity.semanticDedupScaled(emb, tau = 0.3, cellStride = 64)
        .select(col("vec_id"), col("c_id").cast("long").as("c_id"))
        .orderBy("vec_id")
    },

    // Incremental near-dup: every 5th document plays the "incoming batch"
    // and is deduped against the band table of the rest — the corpus text
    // is never rescanned, only its (id, band_idx, band_hash) state (4 rows
    // per doc, 132.5 parquet bytes at sf0.1). The streaming-ingest shape at
    // 100 TB. md5 hash family: the oracle recomputes both band tables and
    // the join exactly
    // (PortableSql.incrementalOracle).
    QueryDef("q_dedup_incremental",
        Some(PortableSql.incrementalOracle(16, 4)),
        prep = Tables.bucketedBandTable) { (s, d) =>
      val shingled = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id").as("id"),
          T.ngrams(T.tokens(col("text")), 3).as("shingles"))
        .filter(size(col("shingles")) > 0)
      val incoming = shingled.filter(col("id") % 5 === 0)
      // the persisted band state is a BUCKETED table on the probe keys
      // (band_idx, band_hash) — the arrival join reads it with zero
      // corpus-side exchange (plan-asserted in SourcesSpec); without the
      // bucketing, every batch re-shuffles the full corpus-sized state
      val bands = s.table(Tables.bucketedBandTable(s, d))
      Similarity.incrementalNearDup(bands, incoming, k = 16, nBands = 4)
        .orderBy("id", "matched_id")
    },

    // Incremental EMBEDDING near-dup — the ANN twin of q_dedup_incremental:
    // every 5th vector plays the incoming batch and is deduped against the
    // persisted SRP bucket table of the rest (one long per corpus vector;
    // Similarity.bucketTable). Corpus buckets are never recomputed; corpus
    // vectors are fetched by id for Hamming<=1 candidates only. tau = 0.3
    // surfaces the top of the random-vector cosine distribution (real
    // corpora use ~0.9+). Portable SRP buckets: the oracle replays buckets,
    // probe set and cosine gate exactly
    // (PortableSql.embedDedupIncrementalOracle).
    QueryDef("q_dedup_embed_incremental",
        Some(PortableSql.embedDedupIncrementalOracle(0.3)),
        prep = Tables.bucketedEmbedTables) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      val nBits = Similarity.lshNBits(Tables.rowCount(s, d, "embeddings"))
      val incoming = emb.filter(col("vec_id") % 5 === 0)
      // persisted state as BUCKETED tables: SRP buckets on the multi-probe
      // join key, vectors on the candidate-fetch key — both corpus-side
      // joins of an arrival batch are exchange-free (SourcesSpec)
      val (bktT, vecT) = Tables.bucketedEmbedTables(s, d)
      Similarity.incrementalEmbedDedup(s.table(bktT), s.table(vecT), incoming,
          dim = 64, nBits, minCosine = 0.3)
        .orderBy("id", "matched_id")
    },

    // Grouped MinHash signature via the custom typed UDAF: one signature
    // per language across ALL its documents' tokens — the multi-row-entity
    // path (chunked documents, per-user event histories) that avoids
    // collect_list-ing tokens into one giant array. Buffer is k longs per
    // group with map-side merge, so the shuffle is constant-size per group.
    // Portable hash family: the oracle recomputes each component as a plain
    // min-aggregate over the group's token hashes
    // (PortableSql.groupedMinhashOracle); SchemaInferSpec additionally
    // proves grouped == per-row signature of the concatenated tokens.
    // The signature is emitted as a comma-joined scalar string (not the raw
    // array<bigint>) so downstream row-level tooling can sort/hash the
    // column; the spec exercises the array form directly via the UDAF.
    QueryDef("q_dedup_minhash_grouped",
        Some(PortableSql.groupedMinhashOracle(16))) { (s, d) =>
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("lang"), T.tokens(col("text")).as("toks"))
        .groupBy("lang")
        .agg(MinHashAggregator.column(16)(col("toks")).as("sig_arr"))
        .select(col("lang"),
          array_join(col("sig_arr").cast("array<string>"), ",").as("sig"))
        .orderBy("lang")
    },

    // SimHash fingerprints + bucket sizes (near-dup by identical
    // fingerprint): the 63-bit md5 SimHash, one native kernel per row
    // (doc_id is unique, so per row is per doc) — the DuckDB oracle
    // replays every fingerprint (PortableSql.simhashOracle).
    QueryDef("q_dedup_simhash", Some(PortableSql.simhashOracle)) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), SimHash.simhash(T.tokens(col("text"))).as("simhash"))
        .withColumn("n_same", count(lit(1)).over(Window.partitionBy("simhash")).cast("long"))
        .orderBy("doc_id")
    },

    // Exact n-gram Jaccard near-dup with log-length-band blocking:
    // candidate pairs share lang and sit in the same or an adjacent
    // log(1+n_chars) band — still a real equi-join (see
    // Similarity.jaccardNearDupPairs), but unlike exact-n_chars blocking
    // it survives near-dups whose lengths differ. Fully oracle-checkable:
    // the oracle applies the identical banding.
    QueryDef(
      "q_dedup_jaccard",
      Some("""WITH t AS (SELECT doc_id, lang,
                                CAST(floor(ln(1 + n_chars) / 0.1) AS BIGINT) AS band,
                                list_filter(string_split_regex(lower(text), '\s+'),
                                            x -> x <> '') AS toks
                         FROM documents)
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(round(CAST(
                       CAST(len(list_intersect(list_distinct(a.toks), list_distinct(b.toks))) AS DOUBLE) /
                       len(list_distinct(list_concat(a.toks, b.toks)))
                     AS DECIMAL(28,6)), 2) AS DOUBLE) AS jaccard
              FROM t a JOIN t b
                ON a.lang = b.lang AND abs(a.band - b.band) <= 1
               AND a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(list_distinct(a.toks), list_distinct(b.toks))) AS DOUBLE) /
                    len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
              ORDER BY doc_a, doc_b""")) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), T.tokens(col("text")).as("toks"))
      Similarity.jaccardNearDupPairs(t, minJaccard = 0.5,
        corpusRows = Some(Tables.rowCount(s, d, "documents")))
        .select(col("doc_a"), col("doc_b"), Num.round2(col("jaccard")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // Asymmetric CONTAINMENT near-dup (|A∩B|/|A| — doc_a the contained
    // side): the subset relation symmetric Jaccard structurally misses
    // (Lee et al. 2022 §4; a doc embedded in a 10x larger one scores
    // J≈0.1 but containment 1.0). Over word-3-gram shingles, not
    // unigrams: the synthetic corpus draws from a ~31-word pool, so
    // unigram token SETS are near-universally mutually contained
    // (measured: 21k unigram pairs at t=0.9 vs 12 shingle pairs at
    // t=0.8 on sf0.01) — shingles make containment mean "shares actual
    // phrasing", the LLM-dedup semantics. Ordered pairs, both
    // directions for mutual containment; brute-force DuckDB oracle
    // within lang.
    QueryDef(
      "q_dedup_containment",
      Some("""WITH w AS (SELECT doc_id, lang,
                                list_filter(string_split_regex(lower(text), '\s+'),
                                            x -> x <> '') AS ws
                         FROM documents),
                   t AS (SELECT doc_id, lang,
                                list_distinct(list_transform(
                                  generate_series(1, len(ws) - 2),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS toks
                         FROM w)
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(round(CAST(
                       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(a.toks)
                     AS DECIMAL(28,6)), 2) AS DOUBLE) AS containment
              FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id
              WHERE len(a.toks) > 0
                AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(a.toks) >= 0.8
              ORDER BY doc_a, doc_b""")) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          T.ngrams(T.tokens(col("text")), 3).as("toks"))
      Similarity.containmentNearDupPairs(t, minContainment = 0.8,
        corpusRows = Some(Tables.rowCount(s, d, "documents")))
        .select(col("doc_a"), col("doc_b"),
          Num.round2(col("containment")).as("containment"))
        .orderBy("doc_a", "doc_b")
    },

    // Per-group embedding centroid: the mean vector per language (long
    // format: one row per (lang, dimension)) — the IVF/k-means training
    // audit and the "does each source cluster where it should" embedding
    // diagnostic. posexplode + ONE keyed (lang, idx) aggregation with
    // map-side partials — the shuffle carries langs x dim partial sums,
    // never vectors; the doc join is a plain equi-join. Floats cast to
    // double before averaging on BOTH engines; decimal-sandwich rounding.
    QueryDef(
      "q_embed_centroid",
      Some(s"""SELECT lang, CAST(i - 1 AS INT) AS idx,
                      ${Num.oracleRound2("avg(CAST(v[i] AS DOUBLE))")} AS c,
                      CAST(count(*) AS BIGINT) AS n_vecs
               FROM (SELECT d.lang, e.embedding AS v
                     FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
                    generate_series(1, 64) t(i)
               GROUP BY lang, i ORDER BY lang, idx""")) { (s, d) =>
      Tables.embeddings(s, d)
        .join(Tables.documents(s, d)
          .select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
        .select(col("lang"), posexplode(col("embedding")).as(Seq("idx", "x")))
        .groupBy("lang", "idx")
        .agg(
          Num.round2(avg(col("x").cast("double"))).as("c"),
          count(lit(1)).as("n_vecs"))
        .orderBy("lang", "idx")
    },

    // END-TO-END fuzzy dedup (the SlimPajama/RefinedWeb shape, Abbas 2023
    // / Penedo 2023): near-dup pairs (PPJoin at t=0.7) -> connected
    // components -> keep the minimum doc_id per cluster -> materialize
    // the SURVIVING corpus. This is the query an LLM-data user actually
    // runs — the pair/cluster queries above are its audit views. The
    // keeper rule is cluster-root = component minimum (deterministic, no
    // tie-break ambiguity); survivors are everything minus non-root
    // cluster members, applied as one anti-join on doc_id (the loser set
    // is near-dup-volume-sized, not corpus-sized, so the anti-join
    // shuffles only ids at 100 TB; Spark broadcasts it when small).
    QueryDef(
      "q_corpus_dedup_e2e",
      // MATERIALIZED on t/pairs/edges/roots: same recursive-CTE
      // re-evaluation fix as q_dedup_clusters (measured 4.4 -> 0.32 s at
      // sf0.01, identical frames); roots additionally feeds the NOT
      // EXISTS probe per corpus row
      Some("""WITH RECURSIVE t AS MATERIALIZED (SELECT doc_id, lang,
                     CAST(floor(ln(1 + n_chars) / 0.1) AS BIGINT) AS band,
                     list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                               x -> x <> '')) AS toks
                FROM documents),
              pairs AS MATERIALIZED (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM t a JOIN t b
                  ON a.lang = b.lang AND abs(a.band - b.band) <= 1
                 AND a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.7),
              edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
              reach AS (
                SELECT DISTINCT src AS id, src AS r FROM edges
                UNION
                SELECT e.src AS id, reach.r AS r
                FROM edges e JOIN reach ON e.dst = reach.id),
              roots AS MATERIALIZED (SELECT id, min(r) AS root FROM reach GROUP BY id)
              SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
              FROM documents d
              WHERE NOT EXISTS (SELECT 1 FROM roots r
                                WHERE r.id = d.doc_id AND r.root < r.id)
              ORDER BY d.doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val t = docs.select(col("doc_id"), col("lang"), col("n_chars"),
        T.tokens(col("text")).as("toks"))
      val pairs = Similarity.jaccardNearDupPairs(t, minJaccard = 0.7,
        corpusRows = Some(Tables.rowCount(s, d, "documents")))
      val losers = Dedup.duplicateClusters(pairs.select("doc_a", "doc_b"))
        .filter(col("root") =!= col("id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // EMBEDDING-NATIVE end-to-end dedup (the knnGraph edges consumed by the
    // clustering operator — SURVEY §2.10's declared seed structure for
    // graph-based dedup): kNN edges (per-vector top-5 among
    // same-or-Hamming-1 SRP bucket mates) thresholded at cosine >= tau
    // become the duplicate graph; connected components label each vector
    // with its component's minimum id; vectors with no qualifying edge are
    // their own root. tau = 0.3 surfaces the top of the random-vector
    // cosine distribution (max pairwise ~0.48; real corpora use ~0.9+).
    // Scale shape: ONE bucket exchange for the graph (knnGraph's contract),
    // edges bounded at k·N, CC over the near-dup-sized edge set only, and
    // the corpus-side labeling is a plain left join — no stage touches
    // corpus². Portable buckets: the DuckDB oracle replays buckets, edges,
    // threshold, and the full transitive closure (so a hash match also
    // proves the contraction converged).
    QueryDef(
      "q_dedup_knn_e2e",
      Some(s"""WITH RECURSIVE ${PortableSql.knnGraphCtes(5)},
          ed AS (SELECT src, dst FROM knn WHERE cos >= 0.3),
          edges AS (SELECT src, dst FROM ed
                    UNION ALL SELECT dst AS src, src AS dst FROM ed),
          reach AS (
            SELECT DISTINCT src AS id, src AS r FROM edges
            UNION
            SELECT e.src AS id, reach.r AS r
            FROM edges e JOIN reach ON e.dst = reach.id),
          roots AS (SELECT id, min(r) AS root FROM reach GROUP BY id)
          SELECT e.vec_id, coalesce(r.root, e.vec_id) AS root
          FROM e LEFT JOIN roots r ON r.id = e.vec_id
          ORDER BY vec_id""")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      val n = Tables.rowCount(s, d, "embeddings")
      val nBits = Similarity.lshNBits(n)
      val edges = Similarity.knnGraph(emb, dim = 64, nBits = nBits, k = 5,
          corpusRows = Some(n))
        .filter(col("cos") >= 0.3)
        .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      val roots = Dedup.duplicateClusters(edges)
      emb.select(col("vec_id"))
        .join(roots.select(col("id").as("vec_id"), col("root")),
          Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("root"), col("vec_id")).as("root"))
        .orderBy("vec_id")
    }
  )
}
