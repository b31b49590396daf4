package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{Num, TextFunctions => T}
import graft.operators.Sample
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators beyond basic text analytics — the filters a
  * pre-training data pipeline runs corpus-wide: TF-IDF term weighting,
  * PII redaction, repetition-based quality signals (Gopher-style), and
  * benchmark decontamination by n-gram overlap.
  *
  * Scale shapes: every query is explode/groupBy/join over codegen'd
  * built-ins plus the native Tokenize/NGrams expressions. The only shuffles
  * are keyed aggregations with map-side partials; the decontamination join
  * broadcasts the (small-by-construction) benchmark n-gram set.
  */
object CorpusQueries {

  // Learned merges, one learn per (session, dir): q_corpus_bpe emits the
  // merge table, q_corpus_bpe_apply segments with it — in production the
  // tokenizer is trained once and applied everywhere, so the two queries
  // sharing the k-iteration learn is the honest cost model. Whichever
  // runs first times the learn. The value is k rows — driver-bounded.
  private def learnedMerges(s: org.apache.spark.sql.SparkSession, d: String)
      : Seq[(Long, String, String, Long)] =
    Tables.once("bpe_merges", s, d) {
      val words = Tables.documents(s, d)
        .select(explode(T.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      // the ~31-word vocabulary is under Bpe.DriverLearnWords: driver finish
      graft.operators.Bpe.learnMerges(words, 6).orderBy("step").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }

  // Regexes kept RE2-compatible (no lookarounds) so the identical pattern
  // runs in Spark (java.util.regex) and the DuckDB oracle (RE2).
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+1-555-[0-9]{4}"

  val defs: Seq[QueryDef] = Seq(

    // TF-IDF: top-3 terms per document. tf is a (doc, token) aggregate, df
    // a token aggregate derived from it, N a broadcast one-row aggregate —
    // tf, df and their join all read ONE token-hash exchange of the
    // tokenized corpus (the repartition below). Ranking uses the
    // integer-deterministic key (tf desc, df asc, token) so both engines
    // pick identical rows regardless of float ULP differences in ln().
    QueryDef(
      "q_text_tfidf",
      Some("""WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                          t -> t <> '')) AS token
                FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
              df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(*) AS n_docs FROM documents)
              SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
                     CAST(round(CAST(tf * ln(CAST(n_docs AS DOUBLE) / df)
                       AS DECIMAL(28,6)), 2) AS DOUBLE) AS tfidf,
                     CAST(rn AS BIGINT) AS rn
              FROM (SELECT tf.doc_id, tf.token, tf.tf, df.df, n.n_docs,
                           row_number() OVER (PARTITION BY tf.doc_id
                             ORDER BY tf.tf DESC, df.df ASC, tf.token) AS rn
                    FROM tf JOIN df USING (token) CROSS JOIN n)
              WHERE rn <= 3 ORDER BY doc_id, rn""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      // One tokenize pass serves tf, df and the join. Without the explicit
      // repartition the df branch re-plans the whole scan+tokenize+partial-
      // agg subtree (column pruning strips the tf count from its copy, so
      // the two exchanges differ and ReuseExchange cannot share them:
      // digest scan=3 exch=6 reuse=0). hash(token) satisfies the
      // (doc_id, token) group-by clustering, the token group-by AND the
      // tf-df join, so this single exchange serves all three consumers and
      // the corpus is scanned/tokenized once.
      val toks = docs
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
        .repartition(col("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("token"))
      tf.join(df, "token")
        .crossJoin(broadcast(nDocs))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(
          col("doc_id"), col("token"), col("tf"),
          Num.round2(col("tf") * log(col("n_docs").cast("double") / col("df")))
            .as("tfidf"),
          col("rn").cast("long"))
        .orderBy("doc_id", "rn")
    },

    // PII detection + redaction. The corpus is synthetic, so deterministic
    // PII is planted from doc_id on BOTH sides first; the operator under
    // test is the count + redact pass — a narrow per-row map, no shuffle.
    QueryDef(
      "q_text_pii",
      Some(s"""SELECT doc_id,
                      CAST(len(regexp_extract_all(txt, '$emailRe')) AS BIGINT) AS n_email,
                      CAST(len(regexp_extract_all(txt, '$phoneRe')) AS BIGINT) AS n_phone,
                      regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
                                     '$phoneRe', '<PHONE>', 'g') AS redacted
               FROM (SELECT doc_id,
                            text || ' contact user' || doc_id ||
                            '@example.com or +1-555-' ||
                            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
                     FROM documents)
               ORDER BY doc_id""")) { (s, d) =>
      val txt = concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"), txt.as("txt"))
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("txt"), lit(emailRe), lit(0)))
            .cast("long").as("n_email"),
          size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0)))
            .cast("long").as("n_phone"),
          regexp_replace(
            regexp_replace(col("txt"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    },

    // Repetition quality signals (the Gopher-rule family): duplicate-token
    // ratio and most-frequent-token fraction per document. One shuffle on
    // (doc_id, token) with map-side partials, then a doc_id re-aggregate.
    QueryDef(
      "q_text_repetition",
      Some("""WITH t AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                          x -> x <> '')) AS token
                FROM documents),
              per AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2)
              SELECT doc_id,
                     CAST(sum(c) AS BIGINT) AS n_tokens,
                     CAST(count(*) AS BIGINT) AS n_distinct,
                     CAST(max(c) AS BIGINT) AS top_n,
                     CAST(round(CAST(1.0 - CAST(count(*) AS DOUBLE) / sum(c)
                       AS DECIMAL(28,6)), 2) AS DOUBLE) AS dup_ratio,
                     CAST(round(CAST(CAST(max(c) AS DOUBLE) / sum(c)
                       AS DECIMAL(28,6)), 2) AS DOUBLE) AS top_frac
              FROM per GROUP BY doc_id ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max("c").as("top_n"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_n"),
          Num.round2(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
            .as("dup_ratio"),
          Num.round2(col("top_n").cast("double") / col("n_tokens"))
            .as("top_frac"))
        .orderBy("doc_id")
    },

    // Compression-ratio quality signal (the other Gopher repetitiveness
    // rule): zlib-deflate size over raw size, one native expression per
    // row, no shuffle. No DuckDB-side deflate exists, so no oracle;
    // CorpusSpec proves repetitive text scores far below diverse text and
    // that the ratio is deterministic.
    QueryDef("q_text_compress", None) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          Num.round2(T.deflateRatio(col("text"))).as("deflate_ratio"))
        .orderBy("doc_id")
    },

    // URL/domain analysis: the corpus filter that drops blocklisted
    // domains and reports per-domain volume/quality. Deterministic URLs
    // are planted from (source, doc_id) on both sides; the operator under
    // test is host extraction + domain aggregation + blocklist flag — one
    // keyed aggregation over a narrow map. The extraction regex is
    // RE2-compatible so the identical pattern runs in both engines.
    QueryDef(
      "q_text_domains",
      Some("""WITH u AS (
                SELECT doc_id, n_chars,
                       'https://' || source || '.example.' ||
                       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'com'
                            WHEN 1 THEN 'org' ELSE 'net' END ||
                       '/p/' || doc_id AS url
                FROM documents)
              SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS domain,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(round(CAST(avg(n_chars) AS DECIMAL(28,6)), 2) AS DOUBLE)
                       AS avg_chars,
                     regexp_extract(url, '^https?://([^/]+)/', 1) LIKE '%.net'
                       AS blocked
              FROM u GROUP BY 1 ORDER BY domain""")) { (s, d) =>
      val url = concat(
        lit("https://"), col("source"), lit(".example."),
        element_at(array(lit("com"), lit("org"), lit("net")),
          (col("doc_id") % 3).cast("int") + 1),
        lit("/p/"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), url.as("url"))
        .withColumn("domain", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
        .groupBy("domain")
        .agg(
          count(lit(1)).as("n_docs"),
          Num.round2(avg(col("n_chars"))).as("avg_chars"))
        .withColumn("blocked", col("domain").endsWith(".net"))
        .orderBy("domain")
    },

    // Benchmark decontamination: flag training docs sharing any 5-gram with
    // the held-out set. The stand-in benchmark is a FIXED id set
    // (doc_id % 97 == 0 below a fixed cap), not a corpus fraction — a real
    // eval benchmark does not grow with the training corpus, and pinning
    // it keeps the broadcast genuinely bounded at any scale (a
    // `% 97 == 0` stand-in alone would broadcast 1/97th of 100 TB).
    // Per-doc array_distinct bounds the explode volume.
    QueryDef(
      "q_text_decontam",
      Some("""WITH grams AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                         generate_series(1, len(toks) - 4),
                         i -> array_to_string(toks[i:i+4], ' ')))) AS g
                FROM (SELECT doc_id,
                             list_filter(string_split_regex(lower(text), '\s+'),
                                         t -> t <> '') AS toks
                      FROM documents)),
              ev AS (SELECT DISTINCT g FROM grams
                     WHERE doc_id % 97 = 0 AND doc_id < 700)
              SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_shared
              FROM grams JOIN ev USING (g)
              WHERE NOT (doc_id % 97 = 0 AND doc_id < 700)
              GROUP BY doc_id ORDER BY doc_id""")) { (s, d) =>
      val isEval = col("doc_id") % 97 === 0 && col("doc_id") < 700
      val grams = Tables.documents(s, d)
        .select(
          col("doc_id"),
          explode(array_distinct(T.ngrams(T.tokens(col("text")), 5))).as("g"))
      val ev = grams.filter(isEval).select("g").distinct()
      grams
        .filter(!isEval)
        .join(broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(countDistinct("g").as("n_shared"))
        .orderBy("doc_id")
    },

    // End-to-end corpus preparation — the flagship composition: quality
    // gate -> exact dedup (deterministic keep-first) -> benchmark
    // decontamination -> per-language corpus stats, all as ONE declarative
    // plan (Catalyst sees every stage; nothing materializes in between).
    // Scale shapes per stage: the gate is a narrow map; dedup is one hash
    // shuffle on the fingerprint; decontamination broadcasts the eval
    // n-gram set and anti-joins the contaminated id set; stats are a
    // map-side-partial aggregation. The eval set reads the RAW corpus
    // (a benchmark is fixed externally, not subject to training filters).
    QueryDef(
      "q_corpus_pipeline",
      Some("""WITH base AS (
                SELECT doc_id, lang, n_chars, text,
                       len(list_filter(string_split_regex(lower(text), '\s+'),
                                       t -> t <> '')) AS n_tokens
                FROM documents),
              quality AS (
                SELECT * FROM base
                WHERE n_tokens >= 5 AND CAST(n_chars AS DOUBLE) / n_tokens <= 15.0),
              deduped AS (
                SELECT * FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                    ORDER BY doc_id) AS rn
                  FROM quality) WHERE rn = 1),
              ev AS (
                SELECT DISTINCT unnest(list_distinct(list_transform(
                         generate_series(1, len(toks) - 4),
                         i -> array_to_string(toks[i:i+4], ' ')))) AS g
                FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'),
                                         t -> t <> '') AS toks
                      FROM documents WHERE doc_id % 97 = 0 AND doc_id < 700)),
              train AS (
                SELECT * FROM deduped WHERE NOT (doc_id % 97 = 0 AND doc_id < 700)),
              contaminated AS (
                SELECT DISTINCT doc_id
                FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                            generate_series(1, len(toks) - 4),
                            i -> array_to_string(toks[i:i+4], ' ')))) AS g
                      FROM (SELECT doc_id,
                                   list_filter(string_split_regex(lower(text), '\s+'),
                                               t -> t <> '') AS toks
                            FROM train)) JOIN ev USING (g)),
              clean AS (
                SELECT * FROM train
                WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
              SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                     CAST(round(CAST(avg(CAST(n_chars AS DOUBLE) / n_tokens)
                       AS DECIMAL(28,6)), 2) AS DOUBLE) AS avg_cpt
              FROM clean GROUP BY lang ORDER BY lang""")) { (s, d) =>
      import graft.operators.Dedup
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
        .withColumn("n_tokens", size(T.tokens(col("text"))))
      val quality = base.filter(col("n_tokens") >= 5 &&
        col("n_chars").cast("double") / col("n_tokens") <= 15.0)
      val deduped = Dedup.exactKeepFirst(
        quality.withColumn("fp", T.fingerprintMd5(col("text"))), Seq("fp"), "doc_id")
      val isEval = col("doc_id") % 97 === 0 && col("doc_id") < 700
      def gramsOf(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"),
        explode(array_distinct(T.ngrams(T.tokens(col("text")), 5))).as("g"))
      val evGrams = gramsOf(Tables.documents(s, d).filter(isEval))
        .select("g").distinct()
      val train = deduped.filter(!isEval)
      val contaminated = gramsOf(train).join(broadcast(evGrams), "g")
        .select("doc_id").distinct()
      val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
      clean.groupBy("lang")
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum("n_tokens").cast("long").as("total_tokens"),
          Num.round2(avg(col("n_chars").cast("double") / col("n_tokens")))
            .as("avg_cpt"))
        .orderBy("lang")
    },

    // Sequence packing: assign documents (in deterministic id order) to
    // fixed token-budget bins — the pre-training batch-construction
    // primitive ("pack docs into 512-token training sequences"). The
    // running token sum is a partitioned window (per-lang corpora pack
    // independently; partition count grows with languages/sources at
    // scale); the budget is a power of two so the bin division is
    // integer-exact in both engines. Emits per-bin fill stats — the
    // padding-waste signal a pipeline monitors.
    QueryDef(
      "q_corpus_pack",
      Some("""WITH d AS (SELECT doc_id, lang,
                     len(list_filter(string_split_regex(lower(text), '\s+'),
                                     t -> t <> '')) AS n_tokens
                FROM documents),
              c AS (SELECT lang, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
                FROM d)
              SELECT lang, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
                     CAST(round(CAST(sum(n_tokens) / 512.0 AS DECIMAL(28,6)), 2)
                       AS DOUBLE) AS fill
              FROM c GROUP BY lang, (cum - n_tokens) // 512
              ORDER BY lang, bin""")) { (s, d) =>
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(T.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum", sum("n_tokens").over(w))
        .withColumn("bin", expr("(cum - n_tokens) div 512"))
        .groupBy("lang", "bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("bin_tokens"),
          Num.round2(sum("n_tokens") / lit(512.0)).as("fill"))
        .orderBy("lang", "bin")
    },

    // Int8 embedding quantization: symmetric per-vector scale
    // (max|x|/127), quantize, and report the reconstruction error — the
    // memory side of ANN at scale (4x smaller vectors; a 100 TB corpus'
    // embedding store is the cost driver). Pure narrow map over
    // integer-exact-enough arithmetic: both engines compute scale and
    // error in double, so the rounded outputs oracle-match.
    QueryDef(
      "q_embed_quant",
      Some("""WITH v AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
                FROM embeddings),
              s AS (SELECT vec_id, dv,
                     list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
                FROM v),
              q AS (SELECT vec_id, scale,
                     list_transform(dv, x -> CAST(round(x / scale) AS BIGINT)) AS qv,
                     list_max(list_transform(dv,
                       x -> abs(CAST(round(x / scale) AS BIGINT) * scale - x))) AS err
                FROM s)
              SELECT vec_id,
                     CAST(list_min(qv) AS BIGINT) AS q_min,
                     CAST(list_max(qv) AS BIGINT) AS q_max,
                     CAST(round(CAST(scale * 1000 AS DECIMAL(28,6)), 2) AS DOUBLE) AS scale_mil,
                     CAST(round(CAST(err * 1000 AS DECIMAL(28,6)), 2) AS DOUBLE) AS err_mil
              FROM q ORDER BY vec_id""")) { (s, d) =>
      import graft.functions.{VectorFunctions => V}
      val dv = V.asDouble(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("vec_id"), dv.as("dv"))
        .withColumn("scale",
          array_max(transform(col("dv"), x => abs(x))) / lit(127.0))
        .withColumn("qv",
          transform(col("dv"), x => round(x / col("scale")).cast("long")))
        .withColumn("err",
          array_max(zip_with(col("dv"), col("qv"),
            (x, q) => abs(q * col("scale") - x))))
        .select(
          col("vec_id"),
          array_min(col("qv")).cast("long").as("q_min"),
          array_max(col("qv")).cast("long").as("q_max"),
          Num.round2(col("scale") * 1000).as("scale_mil"),
          Num.round2(col("err") * 1000).as("err_mil"))
        .orderBy("vec_id")
    },

    // Exact duplicate-substring spans (Lee et al., ACL 2022): document-level
    // dedup misses boilerplate repeated INSIDE otherwise-distinct documents,
    // so hash every 8-token window, keep windows whose hash repeats
    // corpus-wide, and merge per-doc runs of overlapping windows into
    // maximal spans — the spans a pipeline would cut before training.
    // Window hashing is Rabin–Karp over per-token portable hashes (native
    // codegen expression: one md5 per TOKEN, exact mod-P polynomial
    // arithmetic per window), replayed bit-identically by the DuckDB
    // oracle. Shuffles: one hash group-by (map-side partials), one
    // semi-join back, one per-doc window.
    QueryDef(
      "q_dedup_substring",
      Some(s"""WITH t AS (SELECT doc_id, ${PortableSql.toks("text")} AS tk FROM documents),
               h AS (SELECT doc_id, ${PortableSql.tokenHashes("tk")} AS hs FROM t),
               w0 AS (SELECT doc_id, ${PortableSql.windowHashes("hs", 8)} AS whs FROM h),
               g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, whs[i] AS wh
                     FROM (SELECT doc_id, whs,
                                  unnest(generate_series(1, len(whs))) AS i
                           FROM w0)),
               c AS (SELECT wh FROM g GROUP BY wh HAVING count(*) > 1),
               dws AS (SELECT doc_id, pos FROM g WHERE wh IN (SELECT wh FROM c)),
               gap AS (SELECT doc_id, pos,
                              CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                                   THEN 1 ELSE 0 END AS ns
                       FROM dws),
               sp AS (SELECT doc_id, pos,
                             sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
                      FROM gap)
               SELECT doc_id,
                      CAST(min(pos) AS BIGINT) AS span_start,
                      CAST(max(pos) + 8 AS BIGINT) AS span_end,
                      CAST(count(*) AS BIGINT) AS n_windows
               FROM sp GROUP BY doc_id, span_id
               ORDER BY doc_id, span_start""")) { (s, d) =>
      import graft.functions.Portable
      val wsize = 8
      val wins = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(Portable.windowHashesNative(T.tokens(col("text")), wsize))
            .as(Seq("pos", "wh")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("wh"))
      graft.operators.Dedup.duplicateSpans(wins, wsize)
        .select(col("doc_id"),
          col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"),
          col("n_windows").cast("long").as("n_windows"))
        .orderBy("doc_id", "span_start")
    },

    // Corpus mixing / upsampling plan — the data-mixing primitive: given
    // target mixture weights per language, compute the per-language
    // repetition factor that reaches the target shares by UPSAMPLING only
    // (the language with the scarcest tokens relative to its weight is the
    // anchor at factor 1.0 — nothing is dropped). All ordering and the
    // planned token counts are exact integer arithmetic (anchor selection
    // by cross-multiply-scaled key, planned = w * t_anchor div w_anchor),
    // so both engines agree bit-for-bit; post-mix shares equal the target
    // weights by construction. One keyed aggregation + a broadcast-sized
    // anchor row.
    QueryDef(
      "q_corpus_mix",
      Some(s"""WITH w(lang, w) AS (VALUES
                 ('en', 40), ('zh', 20), ('de', 15), ('es', 15), ('fr', 10)),
               t AS (SELECT d.lang,
                            CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(len(${PortableSql.toks("text")})) AS BIGINT) AS tokens,
                            CAST(coalesce(any_value(w.w), 1) AS BIGINT) AS w
                     FROM documents d LEFT JOIN w ON d.lang = w.lang
                     GROUP BY d.lang),
               a AS (SELECT w AS w_a, tokens AS t_a FROM (
                       SELECT w, tokens,
                              row_number() OVER (ORDER BY (w * 1000000000000) // tokens, lang) AS rn
                       FROM t) WHERE rn = 1)
               SELECT lang, n_docs, tokens,
                      CAST((t.w * a.t_a) // a.w_a AS BIGINT) AS planned_tokens,
                      ${Num.oracleRound2("CAST((t.w * a.t_a) // a.w_a AS DOUBLE) / tokens")} AS factor
               FROM t CROSS JOIN a ORDER BY lang""")) { (s, d) =>
      import s.implicits._
      val weights = Seq(("en", 40L), ("zh", 20L), ("de", 15L), ("es", 15L), ("fr", 10L))
        .toDF("lang", "w")
      val t = Tables.documents(s, d)
        .select(col("lang"), size(T.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
        .join(broadcast(weights), Seq("lang"), "left")
        .withColumn("w", coalesce(col("w"), lit(1L)))
      // anchor = argmin of w/tokens (exact: scaled integer division key);
      // the global window runs on the per-language AGGREGATE — bounded by
      // language count, not data size
      val aw = Window.orderBy(expr("w * 1000000000000 div tokens"), col("lang"))
      val anchor = t
        .withColumn("rn", row_number().over(aw))
        .filter(col("rn") === 1)
        .select(col("w").as("w_a"), col("tokens").as("t_a"))
      t.crossJoin(broadcast(anchor))
        .select(
          col("lang"), col("n_docs"), col("tokens"),
          expr("w * t_a div w_a").as("planned_tokens"),
          Num.round2(expr("w * t_a div w_a").cast("double") / col("tokens"))
            .as("factor"))
        .orderBy("lang")
    },

    // n-gram LM familiarity score (the integer-exact form of CCNet-style
    // LM-perplexity quality filtering): train the "LM" on the corpus itself
    // — corpus-wide bigram counts — and score each doc by the average
    // corpus frequency of its bigrams. Docs full of rare bigram sequences
    // (garbled text, boilerplate noise, wrong-language fragments) score
    // low. Sums are BIGINT counts, so the only float op is one final
    // division of two exact integers — hash-match-safe across engines.
    // Shuffles: bigram count group-by (map-side partials), count join back
    // (bigram-keyed — the LM table is vocab²-sized, never broadcast), and
    // the per-doc re-aggregation.
    QueryDef(
      "q_text_lm_score",
      Some(s"""WITH t AS (SELECT doc_id, ${PortableSql.toks("text")} AS tk FROM documents),
               bg AS (SELECT doc_id, unnest(${PortableSql.shingles("tk", 2)}) AS bg FROM t),
               c AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
               d AS (SELECT doc_id, count(*) AS n_bigrams, sum(c.c) AS sum_freq
                     FROM bg JOIN c USING (bg) GROUP BY doc_id)
               SELECT doc.doc_id,
                      CAST(coalesce(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                      CAST(coalesce(d.sum_freq, 0) AS BIGINT) AS sum_freq,
                      CASE WHEN coalesce(d.n_bigrams, 0) > 0
                           THEN ${Num.oracleRound2("CAST(d.sum_freq AS DOUBLE) / d.n_bigrams")}
                           ELSE 0.0 END AS familiarity
               FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
               ORDER BY doc.doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bigs = docs
        .select(col("doc_id"), explode(T.ngrams(T.tokens(col("text")), 2)).as("bg"))
      val cnt = bigs.groupBy("bg").agg(count(lit(1)).as("c"))
      val perDoc = bigs.join(cnt, "bg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("c").as("sum_freq"))
      docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).cast("long").as("n_bigrams"),
          coalesce(col("sum_freq"), lit(0L)).cast("long").as("sum_freq"),
          when(coalesce(col("n_bigrams"), lit(0L)) > 0,
            Num.round2(col("sum_freq").cast("double") / col("n_bigrams")))
            .otherwise(lit(0.0)).as("familiarity"))
        .orderBy("doc_id")
    },

    // Tokenizer vocabulary build + OOV-rate scoring: corpus-wide token
    // counts → top-V vocabulary (count desc, token asc — a total order, so
    // the cutoff is deterministic on both engines) → per-doc out-of-
    // vocabulary rate. The first step of training any BPE/WordPiece
    // tokenizer, and the OOV rate is a standard corpus-fit signal. Scale
    // shape: one token group-by with map-side partials; the top-V is a
    // distributed TakeOrdered (never a global window over the vocabulary);
    // the vocab is V-sized by construction, so the join back is a
    // broadcast; per-doc re-agg is keyed by doc_id.
    QueryDef(
      "q_corpus_vocab",
      Some(s"""WITH toks AS (SELECT doc_id, unnest(${PortableSql.toks("text")}) AS token
                             FROM documents),
               c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
               v AS (SELECT token FROM c ORDER BY cnt DESC, token LIMIT 16),
               d AS (SELECT toks.doc_id, count(*) AS n_tokens,
                            sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
                     FROM toks LEFT JOIN v ON toks.token = v.token
                     GROUP BY toks.doc_id)
               SELECT doc.doc_id,
                      CAST(coalesce(d.n_tokens, 0) AS BIGINT) AS n_tokens,
                      CAST(coalesce(d.n_oov, 0) AS BIGINT) AS n_oov,
                      CASE WHEN coalesce(d.n_tokens, 0) > 0
                           THEN ${Num.oracleRound2("CAST(d.n_oov AS DOUBLE) / d.n_tokens")}
                           ELSE 0.0 END AS oov_rate
               FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
               ORDER BY doc.doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(16)
        .select(col("token"), lit(1).as("in_vocab"))
      val perDoc = toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
      docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).cast("long").as("n_tokens"),
          coalesce(col("n_oov"), lit(0L)).cast("long").as("n_oov"),
          when(coalesce(col("n_tokens"), lit(0L)) > 0,
            Num.round2(col("n_oov").cast("double") / col("n_tokens")))
            .otherwise(lit(0.0)).as("oov_rate"))
        .orderBy("doc_id")
    },

    // BPE merge learning (Sennrich et al. 2016) — the step AFTER
    // q_corpus_vocab in tokenizer training: 6 iterations of corpus-wide
    // top-pair selection over the WORD-FREQUENCY table (vocabulary-sized,
    // so iteration cost is independent of corpus size), each merging the
    // winning adjacent-symbol pair greedily left-to-right. Tie-breaks are
    // integer-count DESC then binary string order — deterministic across
    // engines; the oracle unrolls the same 6 levels in SQL and replays
    // the merge via the identical separator-encoded replace
    // (PortableSql.bpeOracle). Driver state = one winning pair per
    // iteration; localCheckpoint discipline as in duplicateClusters.
    QueryDef("q_corpus_bpe", Some(PortableSql.bpeOracle(6))) { (s, d) =>
      import s.implicits._
      learnedMerges(s, d).toDF("step", "lhs", "rhs", "n").orderBy("step")
    },

    // BPE APPLY — the tokenize step that pairs with q_corpus_bpe: learn
    // the 6 merges, then segment every distinct word with a chain of 6
    // narrow replace maps (merges are driver literals — the learned vocab
    // delta is inherently tiny; NO shuffle, NO join in the apply itself)
    // and join document tokens to their word's precomputed segmentation
    // (vocabulary-sized build side). Output: per-doc token vs subword
    // counts and the subword ratio — the fertility metric tokenizer
    // training monitors. Oracle replays learn + apply + join end to end.
    QueryDef("q_corpus_bpe_apply", Some(PortableSql.bpeApplyOracle(6))) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), explode(T.tokens(col("text"))).as("word"))
      val words = toks.groupBy("word").agg(count(lit(1)).as("n"))
      val merges = learnedMerges(s, d).map { case (_, l, r, _) => (l, r) }
      val seg = graft.operators.Bpe.applyMerges(words.select("word"), merges)
        .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
      val perDoc = toks.join(seg, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("n_sub").as("n_subwords"))
      docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
          when(coalesce(col("n_tokens"), lit(0L)) > 0,
            Num.round2(col("n_subwords").cast("double") / col("n_tokens")))
            .otherwise(lit(0.0)).as("subword_ratio"))
        .orderBy("doc_id")
    },

    // Deterministic train/validation/test split: every document's fate is
    // an arithmetic function of its own id (Sample.hashBucket — identical
    // in Spark and DuckDB), so splits are reproducible across runs and
    // engines, and re-ingesting new documents never moves an old one
    // across splits (no leakage drift). Output audits the split: per
    // source × split doc and char counts. One keyed agg; the split column
    // is a narrow map.
    QueryDef(
      "q_split_assign",
      Some(s"""SELECT source,
                     CASE WHEN b < 90 THEN 'train'
                          WHEN b < 95 THEN 'validation'
                          ELSE 'test' END AS split,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_chars) AS BIGINT) AS sum_chars
              FROM (SELECT source, n_chars,
                           ${PortableSql.hashBucket("doc_id", 100)} AS b
                    FROM documents)
              GROUP BY source, split
              ORDER BY source, split""")) { (s, d) =>
      val b = Sample.hashBucket(col("doc_id"), 100)
      Tables.documents(s, d)
        .withColumn("split",
          when(b < 90, "train").when(b < 95, "validation").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("source", "split")
    },

    // Deterministic training-order interleave: shuffle each source by a
    // portable hash of the doc id (reproducible "random" order), then
    // round-robin across sources — position (rank−1)·n_src + src_idx —
    // so every epoch of every run reads the same sequence and no source
    // floods a training window. The per-source rank is a partitioned
    // window; the only global window is over the DISTINCT source list
    // (dimension-sized by construction), and the source index + count
    // join back as broadcasts.
    QueryDef(
      "q_corpus_interleave",
      Some(s"""WITH srcs AS (SELECT source,
                      CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx
                    FROM (SELECT DISTINCT source FROM documents)),
               n AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM srcs),
               r AS (SELECT doc_id, source,
                            row_number() OVER (PARTITION BY source
                              ORDER BY ${PortableSql.h48("'il_' || CAST(doc_id AS VARCHAR)")},
                                       doc_id) AS rk
                     FROM documents)
               SELECT CAST((rk - 1) * n_src + src_idx AS BIGINT) AS pos, source, doc_id
               FROM r JOIN srcs USING (source) CROSS JOIN n
               WHERE (rk - 1) * n_src + src_idx < 120
               ORDER BY pos""")) { (s, d) =>
      import graft.functions.Portable
      val docs = Tables.documents(s, d)
      // unpartitioned window over `distinct source`: one row per source
      val srcIdx = docs.select("source").distinct()
        .withColumn("src_idx",
          (row_number().over(Window.orderBy("source")) - 1).cast("long"))
      val nSrc = srcIdx.agg(count(lit(1)).as("n_src"))
      val w = Window.partitionBy("source")
        .orderBy(Portable.h48(concat(lit("il_"), col("doc_id").cast("string"))),
          col("doc_id"))
      docs.select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
        .join(broadcast(srcIdx), "source")
        .crossJoin(broadcast(nSrc))
        .withColumn("pos",
          (col("rk") - 1).cast("long") * col("n_src") + col("src_idx"))
        .filter(col("pos") < 120)
        .select(col("pos"), col("source"), col("doc_id"))
        .orderBy("pos")
    },

    // Robust per-language outlier gate (Robust.madOutliers): flag documents
    // whose length deviates from their language's EXACT median by more than
    // k=2 MADs — the robust-statistics quality filter (median/MAD shrug off
    // the very outliers mean/stddev would absorb). Both median layers use
    // the doubled order statistic med2 (sum of the two middle values), so
    // the whole decision is integer arithmetic every engine replays
    // bit-for-bit — no percentile interpolation, no floats. Two
    // lang-partitioned rank windows + two lang-sized broadcast joins.
    QueryDef(
      "q_text_outliers",
      Some("""WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
               r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) rn,
                            count(*) OVER (PARTITION BY lang) n FROM d),
               m AS (SELECT lang, sum(n_chars * ((rn = (n+1)//2)::BIGINT + (rn = (n+2)//2)::BIGINT)) med2
                     FROM r WHERE rn = (n+1)//2 OR rn = (n+2)//2 GROUP BY lang),
               dv AS (SELECT d.*, med2, abs(2*n_chars - med2) dev2 FROM d JOIN m USING (lang)),
               r2 AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY dev2, doc_id) rn,
                             count(*) OVER (PARTITION BY lang) n FROM dv),
               m2 AS (SELECT lang, sum(dev2 * ((rn = (n+1)//2)::BIGINT + (rn = (n+2)//2)::BIGINT)) mad4
                      FROM r2 WHERE rn = (n+1)//2 OR rn = (n+2)//2 GROUP BY lang)
               SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
                      CAST(dev2 AS BIGINT) AS dev2, CAST(mad4 AS BIGINT) AS mad4
               FROM dv JOIN m2 USING (lang) WHERE 2*dev2 > 2*mad4
               ORDER BY doc_id""")) { (s, d) =>
      import graft.operators.Robust
      Robust.madOutliers(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          stratumCol = "lang", valueCol = "n_chars", idCol = "doc_id", k = 2)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          col("dev2"), col("mad4"))
        .orderBy("doc_id")
    },

    // Deterministic negative sampling for contrastive pairs
    // (Sample.negativePairs): every document gets k=3 negatives — the
    // representatives (min id) of the k hash-buckets after its own, mod
    // B=64. Reproducible across runs/engines (pure id arithmetic), never
    // self-pairing (a different bucket by construction), and shuffle-free
    // at any corpus size: one 64-row rep aggregation broadcast against a
    // narrow ×3 explode. The "precompute hard-ish negatives once, reuse
    // every epoch" primitive of embedding-model training.
    QueryDef(
      "q_corpus_negatives",
      Some(s"""WITH b AS (SELECT doc_id,
                      ${PortableSql.hashBucket("doc_id", 64)} AS bk
                    FROM documents),
               reps AS (SELECT bk, min(doc_id) AS neg_id FROM b GROUP BY bk)
               SELECT b.doc_id, CAST(j AS BIGINT) AS neg_rank,
                      CAST(r.neg_id AS BIGINT) AS neg_id
               FROM b CROSS JOIN generate_series(1, 3) t(j)
               JOIN reps r ON r.bk = (b.bk + j) % 64
               ORDER BY b.doc_id, neg_rank""")) { (s, d) =>
      Sample.negativePairs(
          Tables.documents(s, d).select("doc_id"),
          idCol = "doc_id", k = 3, buckets = 64)
        .orderBy("doc_id", "neg_rank")
    }
  )
}
