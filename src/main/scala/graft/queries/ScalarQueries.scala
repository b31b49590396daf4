package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{Num, TextFunctions => T, VectorFunctions => V}
import org.apache.spark.sql.functions._

/** Scalar function surface: string / date / math / array / map / json —
  * SURVEY.md §2.8. Every string behavior here is a reference behavior
  * (file:line cited per query); array/map/json are the north-star multimodal
  * columns exercised on `events.props` and `embeddings.embedding`.
  */
object ScalarQueries {

  /** Channel-c area-average of the planted BMP pattern over one resample
    * box — the DuckDB replay of Multimodal.resizeBmpArea's integer
    * arithmetic (Long sums, truncating division) on
    * HeaderCodec.patternValue pixels. */
  private def bmpChan(c: Int): String =
    s"""list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
          list_transform(generate_series(x0, x1 - 1), x ->
            ((id % 251) + x * 3 + y * 5 + $c * 11) % 256))))
        // ((x1 - x0) * (y1 - y0))"""

  val defs: Seq[QueryDef] = Seq(

    // Whitespace cleanup (cf. .replace("\t","").replace("\n","") + .strip(),
    // data_seoul_1_category.py:72,82; data_seoul_2_csv_noopenapi.py:108).
    QueryDef(
      "q_str_clean",
      Some("""SELECT doc_id,
                     substring(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 30) AS prefix,
                     CAST(length(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS BIGINT) AS n_clean
              FROM documents ORDER BY doc_id""")) { (s, d) =>
      val clean = T.normalizeWs(col("text"))
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          substring(clean, 1, 30).as("prefix"),
          length(clean).cast("long").as("n_clean"))
        .orderBy("doc_id")
    },

    // Concat + zero-pad naming (cf. "NLDATA_" + str(id).rjust(6,"0"),
    // data_seoul_2_csv_noopenapi.py:68-69; "COL_"+rjust(3,"0"),
    // data_seoul_3_csv.py:138).
    QueryDef(
      "q_str_pad",
      Some("""SELECT n_nationkey,
                     'NLDATA_' || lpad(CAST(n_nationkey AS VARCHAR), 6, '0') AS table_name,
                     'COL_' || lpad(CAST(n_regionkey AS VARCHAR), 3, '0') AS col_name
              FROM nation ORDER BY n_nationkey""")) { (s, d) =>
      Tables.nation(s, d)
        .select(
          col("n_nationkey"),
          T.paddedName("NLDATA_", col("n_nationkey"), 6).as("table_name"),
          T.paddedName("COL_", col("n_regionkey"), 3).as("col_name"))
        .orderBy("n_nationkey")
    },

    // camelCase → SNAKE_CASE (cf. re.sub(r'(?<!^)(?=[A-Z])','_',s).upper(),
    // data_seoul_3_csv.py:110-111). Capture-group regex — same result,
    // portable to RE2 (DuckDB has no lookbehind).
    QueryDef(
      "q_str_snake",
      Some("""SELECT r_regionkey,
                     upper(regexp_replace(lower(r_name) || 'RegionKey',
                                          '([a-z0-9])([A-Z])', '\1_\2', 'g')) AS snake
              FROM region ORDER BY r_regionkey""")) { (s, d) =>
      Tables.region(s, d)
        .select(
          col("r_regionkey"),
          T.camelToSnake(concat(lower(col("r_name")), lit("RegionKey"))).as("snake"))
        .orderBy("r_regionkey")
    },

    // Split + positional extraction (cf. split('/sample/xml/')[1] and
    // rsplit('/',n)[0], data_seoul_3_csv.py:93,101-106).
    QueryDef(
      "q_str_split",
      Some("""SELECT c_custkey,
                     CAST(split_part(c_name, '#', 2) AS BIGINT) AS name_num,
                     CAST(len(string_split(c_name, '#')) AS BIGINT) AS n_parts
              FROM customer ORDER BY c_custkey""")) { (s, d) =>
      Tables.customer(s, d)
        .select(
          col("c_custkey"),
          element_at(split(col("c_name"), "#"), 2).cast("long").as("name_num"),
          size(split(col("c_name"), "#")).cast("long").as("n_parts"))
        .orderBy("c_custkey")
    },

    // Conditional substitution (cf. the per-id auth-key/URL branching,
    // data_seoul_3_csv.py:94-106) as CASE WHEN banding.
    QueryDef(
      "q_str_case",
      Some("""SELECT CASE WHEN o_totalprice > 300000.0 THEN 'HIGH'
                          WHEN o_totalprice > 150000.0 THEN 'MID'
                          ELSE 'LOW' END AS band,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(round(CAST(sum(o_totalprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_price
              FROM orders GROUP BY 1 ORDER BY band""")) { (s, d) =>
      Tables.orders(s, d)
        .select(
          when(col("o_totalprice") > 300000.0, "HIGH")
            .when(col("o_totalprice") > 150000.0, "MID")
            .otherwise("LOW").as("band"),
          col("o_totalprice"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), Num.round2(sum("o_totalprice")).as("sum_price"))
        .orderBy("band")
    },

    // Ordered string aggregation (cf. the INSERT column-list build loop,
    // data_seoul_2_csv_noopenapi.py:103-110) — collect_list is unordered in
    // a distributed engine, so sort the array before joining.
    QueryDef(
      "q_str_agg",
      Some("""SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
              FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")) { (s, d) =>
      Tables.nation(s, d)
        .groupBy("n_regionkey")
        .agg(concat_ws(",", array_sort(collect_list("n_name"))).as("names"))
        .orderBy("n_regionkey")
    },

    // Timestamp formatting (cf. strftime('%Y-%m-%d %H:%M:%S'),
    // data_seoul_2_csv_noopenapi.py:71-72).
    QueryDef(
      "q_date_fmt",
      Some("""SELECT o_orderkey,
                     strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate
              FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""")) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 100)
        .select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("odate"))
        .orderBy("o_orderkey")
    },

    // Date part extraction / truncation / difference.
    QueryDef(
      "q_date_ops",
      Some("""SELECT o_orderkey,
                     CAST(year(o_orderdate) AS BIGINT) AS y,
                     CAST(month(o_orderdate) AS BIGINT) AS m,
                     strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
                     CAST(datediff('day', DATE '1997-01-01', o_orderdate) AS BIGINT) AS days_since
              FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""")) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 100)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
            .as("month_start"),
          datediff(col("o_orderdate"), lit("1997-01-01")).cast("long")
            .as("days_since"))
        .orderBy("o_orderkey")
    },

    // Interval arithmetic: month/day offsets and truncation-based buckets.
    QueryDef(
      "q_date_arith",
      Some("""SELECT o_orderkey,
                     strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m,
                     strftime(o_orderdate - INTERVAL 45 DAY, '%Y-%m-%d') AS minus_45d,
                     CAST(CAST(strftime(o_orderdate, '%u') AS INT) % 7 AS BIGINT) AS dow
              FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""")) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 100)
        .select(
          col("o_orderkey"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus_3m"),
          date_format(date_sub(col("o_orderdate").cast("date"), 45), "yyyy-MM-dd")
            .as("minus_45d"),
          // ISO day-of-week mod 7 (Mon=1..Sat=6, Sun=0): Spark weekday is
          // Mon=0..Sun=6, DuckDB %u is Mon=1..Sun=7 — (weekday+1)%7 == %u%7
          (weekday(col("o_orderdate")) + 1).mod(7).cast("long").as("dow"))
        .orderBy("o_orderkey")
    },

    // Character translation (cf. the reference's chained .replace calls,
    // data_seoul_1_category.py:72).
    QueryDef(
      "q_str_translate",
      Some("""SELECT c_custkey,
                     translate(c_name, '#0', '-_') AS translated
              FROM customer WHERE c_custkey < 50 ORDER BY c_custkey""")) { (s, d) =>
      Tables.customer(s, d)
        .filter(col("c_custkey") < 50)
        .select(
          col("c_custkey"),
          translate(col("c_name"), "#0", "-_").as("translated"))
        .orderBy("c_custkey")
    },

    // Math surface: modulo banding (cf. idx % 3 == 0, data_seoul_3_csv.py:132),
    // sqrt/ln/floor/ceil/abs over a group-by.
    QueryDef(
      "q_math_ops",
      Some("""SELECT CAST(l_orderkey % 7 AS BIGINT) AS k,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(round(CAST(sum(sqrt(l_quantity)) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_sqrt,
                     CAST(round(CAST(sum(ln(l_extendedprice)) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_ln,
                     CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_floor,
                     CAST(round(CAST(sum(abs(l_discount - 0.05)) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_absdev
              FROM lineitem GROUP BY 1 ORDER BY k""")) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(pmod(col("l_orderkey"), lit(7)).as("k"))
        .agg(
          count(lit(1)).as("n"),
          Num.round2(sum(sqrt(col("l_quantity")))).as("sum_sqrt"),
          Num.round2(sum(log(col("l_extendedprice")))).as("sum_ln"),
          sum(floor(col("l_extendedprice"))).cast("long").as("sum_floor"),
          Num.round2(sum(abs(col("l_discount") - 0.05))).as("sum_absdev"))
        .orderBy("k")
    },

    // Array ops over embeddings (cast to double first — identical arithmetic
    // on both engines; see VectorFunctions).
    QueryDef(
      "q_arr_ops",
      Some("""SELECT vec_id,
                     CAST(len(embedding) AS BIGINT) AS dim,
                     CAST(round(CAST(sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS DECIMAL(28,6)), 2) AS DOUBLE) AS l2norm,
                     CAST(round(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(28,6)), 2) AS DOUBLE) AS first_el,
                     CAST(round(CAST(list_sum(list_transform(embedding[1:8],
                       x -> CAST(x AS DOUBLE))) AS DECIMAL(28,6)), 2) AS DOUBLE) AS head_sum
              FROM embeddings ORDER BY vec_id""")) { (s, d) =>
      val v = V.asDouble(col("embedding"))
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          Num.round2(V.l2NormNative(v)).as("l2norm"),
          Num.round2(element_at(v, 1)).as("first_el"),
          Num.round2(aggregate(slice(v, 1, 8), lit(0.0), (s0, x) => s0 + x))
            .as("head_sum"))
        .orderBy("vec_id")
    },

    // Map ops: build map event_type -> count, then explode back to rows
    // (create_map / explode; oracle computes the flat equivalent).
    QueryDef(
      "q_map_ops",
      Some("""SELECT event_type AS key, CAST(count(*) AS BIGINT) AS value
              FROM events GROUP BY event_type ORDER BY key""")) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .select(org.apache.spark.sql.functions.map(col("event_type"), col("n")).as("m"))
        .select(explode(col("m")))
        .orderBy("key")
    },

    // JSON extraction from events.props (north-star multimodal metadata).
    QueryDef(
      "q_json_extract",
      Some("""SELECT event_type,
                     CAST(round(CAST(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DECIMAL(28,6)), 2) AS DOUBLE) AS avg_k,
                     CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
                     CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
              FROM events GROUP BY event_type ORDER BY event_type""")) { (s, d) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, d)
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(
          Num.round2(avg("k")).as("avg_k"),
          min("k").as("min_k"),
          max("k").as("max_k"))
        .orderBy("event_type")
    },

    // Regex field extraction over text — the engine-side equivalent of the
    // reference's DOM field extraction (data_seoul_1_category.py:70-78,
    // data_seoul_3_csv.py:74-89): pull structured fields out of
    // semi-structured text with regexp_extract.
    QueryDef(
      "q_html_extract",
      Some("""SELECT doc_id,
                     regexp_extract(text, '^(\w+)', 1) AS first_word,
                     CAST(len(regexp_extract_all(text, 'data')) AS BIGINT) AS n_data
              FROM documents ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "^(\\w+)", 1).as("first_word"),
          size(regexp_extract_all(col("text"), lit("data"), lit(0))).cast("long")
            .as("n_data"))
        .orderBy("doc_id")
    },

    // Multimodal binary plumbing: text -> UTF-8 bytes as an opaque binary
    // column with typed metadata (byte length + content hash) — the schema
    // shape for image/audio payloads (SURVEY.md §2.10; decode stubs live in
    // graft.multimodal).
    QueryDef(
      "q_mm_meta",
      Some("""SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     sha256(text) AS content_sha
              FROM documents ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
          sha2(encode(col("text"), "UTF-8"), 256).as("content_sha"))
        .orderBy("doc_id")
    },

    // REAL multimodal header decode: every document is materialized as a
    // spec-conformant PNG / BMP / WAV (valid CRCs, real deflated IDAT,
    // RIFF chunk walk — multimodal/Multimodal.HeaderCodec) whose header
    // fields are arithmetic in (doc_id, n_chars); the engine byte-parses
    // them back and the oracle predicts every decoded field.
    QueryDef(
      "q_mm_decode",
      Some("""SELECT doc_id AS media_id,
                     CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
                          WHEN 1 THEN 'bmp' ELSE 'wav' END AS format,
                     CAST(CASE WHEN doc_id % 3 < 2 THEN doc_id % 64 + 1 ELSE 0 END AS INT) AS width,
                     CAST(CASE WHEN doc_id % 3 < 2 THEN n_chars % 64 + 1 ELSE 0 END AS INT) AS height,
                     CAST(CASE WHEN doc_id % 3 = 2 THEN 8000 + doc_id % 8000 ELSE 0 END AS INT) AS sample_rate,
                     CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 2 ELSE 0 END AS INT) AS channels,
                     CAST(CASE WHEN doc_id % 3 = 2 THEN n_chars % 1000 + 1 ELSE 0 END AS BIGINT) AS n_samples
              FROM documents ORDER BY media_id""")) { (s, d) =>
      graft.multimodal.Multimodal.decodeFeatures(
          graft.multimodal.Multimodal.plantedMedia(Tables.documents(s, d)))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("sample_rate"), col("channels"), col("n_samples"))
        .orderBy("media_id")
    },

    // Multimodal frame sampling: payloads chunked into 64-byte "frames",
    // every 2nd frame kept (the video frame-stride shape; the stub stands
    // in for the codec, the partition-iterator plumbing and the chunk
    // arithmetic are real). Oracle reproduces the chunk arithmetic from
    // the byte length.
    QueryDef(
      "q_mm_frames",
      Some("""SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
                     CAST(sum(least(64, nb - f * 64)) AS BIGINT) AS sum_bytes
              FROM (
                SELECT doc_id AS media_id, octet_length(encode(text)) AS nb,
                       unnest(generate_series(0,
                         CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 64) AS BIGINT) - 1)) AS f
                FROM documents)
              WHERE f % 2 = 0
              GROUP BY media_id ORDER BY media_id""")) { (s, d) =>
      import s.implicits._
      val media = graft.multimodal.Multimodal
        .fromDocuments(Tables.documents(s, d), kind = "video")
        .as[graft.multimodal.Multimodal.MediaRecord]
      graft.multimodal.Multimodal.sampleFrames(media, stride = 64)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(col("frame_bytes")).cast("long").as("sum_bytes"))
        .orderBy("media_id")
    },

    // Multimodal resize: every payload reduced to a fixed 8x4 byte grid by
    // strided selection (Multimodal.resize — the stub resampler with the
    // real pipeline shape: typed mapPartitions, bounded output per row
    // regardless of input size). Payloads here are the documents' UTF-8
    // bytes (pure ASCII in the synthetic corpus, verified — so byte index
    // == char index) and the oracle replays the exact stride arithmetic
    // payload[(i*n)/cells] character by character; the output sample is
    // compared as a STRING, byte-exact.
    QueryDef(
      "q_mm_resize",
      Some("""SELECT doc_id AS media_id, CAST(8 AS INT) AS width,
                     CAST(4 AS INT) AS height,
                     CASE WHEN length(text) = 0 THEN ''
                          ELSE array_to_string(list_transform(
                                 generate_series(0, 31),
                                 i -> substring(text,
                                        CAST((i * length(text)) // 32 AS BIGINT) + 1,
                                        1)), '')
                     END AS sample
              FROM documents ORDER BY media_id""")) { (s, d) =>
      import s.implicits._
      // fixture-contract gate: the byte-exact string compare above relies
      // on byte index == char index, i.e. pure-ASCII text. A future
      // corpus-generator change introducing multi-byte chars should fail
      // HERE with a named contract error, not as a look-alike operator
      // bug in the hash compare. assert_true returns NULL on pass, so the
      // isNull predicate keeps the guard in the plan.
      val docs = Tables.documents(s, d).where(
        assert_true(octet_length(col("text")) === length(col("text")),
          lit("q_mm_resize contract: documents.text must be pure ASCII " +
            "(byte index == char index)")).isNull)
      val media = graft.multimodal.Multimodal
        .fromDocuments(docs)
        .as[graft.multimodal.Multimodal.MediaRecord]
      graft.multimodal.Multimodal.resize(media, targetW = 8, targetH = 4)
        .select(col("media_id"), col("width"), col("height"),
          decode(col("payload"), "UTF-8").as("sample"))
        .orderBy("media_id")
    },

    // REAL multimodal resize, not a stub resampler: every
    // document becomes a spec-conformant 24-bit BMP with arithmetic
    // pattern pixels, the engine DECODES the actual byte layout
    // (bottom-up rows, BGR channels, 4-byte row padding) and box-filters
    // the pixel grid to 8x4 RGB with pure integer arithmetic. The oracle
    // never sees the bytes — it re-derives every resampled channel value
    // from (doc_id, n_chars) arithmetic, so a pass proves the
    // decode+resample round-trip byte-exactly. Output is one row per
    // target cell (scalar columns hash-compare robustly across engines).
    QueryDef(
      "q_mm_resize_real",
      Some(s"""WITH d AS (SELECT doc_id AS id,
                       CAST(doc_id % 64 + 1 AS BIGINT) AS w,
                       CAST(n_chars % 64 + 1 AS BIGINT) AS h
                FROM documents),
          cells AS (SELECT id, w, h, cx, cy
                    FROM d,
                         (SELECT unnest(generate_series(0, 7)) AS cx),
                         (SELECT unnest(generate_series(0, 3)) AS cy)),
          box AS (SELECT id, cx, cy,
                         (cx * w) // 8 AS x0,
                         GREATEST((cx * w) // 8 + 1, ((cx + 1) * w) // 8) AS x1,
                         (cy * h) // 4 AS y0,
                         GREATEST((cy * h) // 4 + 1, ((cy + 1) * h) // 4) AS y1
                  FROM cells)
          SELECT id AS media_id,
                 CAST(cx AS INT) AS cell_x, CAST(cy AS INT) AS cell_y,
                 CAST(${bmpChan(0)} AS INT) AS r,
                 CAST(${bmpChan(1)} AS INT) AS g,
                 CAST(${bmpChan(2)} AS INT) AS b
          FROM box ORDER BY media_id, cell_y, cell_x""")) { (s, d) =>
      import s.implicits._
      val media = graft.multimodal.Multimodal
        .plantedPatternBmp(Tables.documents(s, d))
      graft.multimodal.Multimodal.resizeBmpArea(media, targetW = 8, targetH = 4)
        .flatMap { rm =>
          for (cy <- 0 until 4; cx <- 0 until 8) yield {
            val base = (cy * 8 + cx) * 3
            (rm.media_id, cx, cy,
              rm.payload(base) & 0xff,
              rm.payload(base + 1) & 0xff,
              rm.payload(base + 2) & 0xff)
          }
        }
        .toDF("media_id", "cell_x", "cell_y", "r", "g", "b")
        .orderBy("media_id", "cell_y", "cell_x")
    },

    // REAL PNG decode + resample, not just the IHDR header:
    // the same planted pattern and box-filter as q_mm_resize_real, but the
    // payload is a spec-conformant PNG — zlib-deflated IDAT the engine
    // must INFLATE and per-row filter bytes cycling all five spec filters
    // (None/Sub/Up/Average/Paeth) it must RECONSTRUCT before resampling.
    // Decode goes through the container registry (resizeImageArea: BMP
    // then PNG by magic). The oracle is identical to q_mm_resize_real's —
    // it re-derives every channel value from (doc_id, n_chars) arithmetic
    // and never sees bytes — so a pass proves the deflate->filter->pixel
    // round-trip byte-exactly.
    QueryDef(
      "q_mm_resize_png",
      Some(s"""WITH d AS (SELECT doc_id AS id,
                       CAST(doc_id % 64 + 1 AS BIGINT) AS w,
                       CAST(n_chars % 64 + 1 AS BIGINT) AS h
                FROM documents),
          cells AS (SELECT id, w, h, cx, cy
                    FROM d,
                         (SELECT unnest(generate_series(0, 7)) AS cx),
                         (SELECT unnest(generate_series(0, 3)) AS cy)),
          box AS (SELECT id, cx, cy,
                         (cx * w) // 8 AS x0,
                         GREATEST((cx * w) // 8 + 1, ((cx + 1) * w) // 8) AS x1,
                         (cy * h) // 4 AS y0,
                         GREATEST((cy * h) // 4 + 1, ((cy + 1) * h) // 4) AS y1
                  FROM cells)
          SELECT id AS media_id,
                 CAST(cx AS INT) AS cell_x, CAST(cy AS INT) AS cell_y,
                 CAST(${bmpChan(0)} AS INT) AS r,
                 CAST(${bmpChan(1)} AS INT) AS g,
                 CAST(${bmpChan(2)} AS INT) AS b
          FROM box ORDER BY media_id, cell_y, cell_x""")) { (s, d) =>
      import s.implicits._
      val media = graft.multimodal.Multimodal
        .plantedPatternPng(Tables.documents(s, d))
      graft.multimodal.Multimodal.resizeImageArea(media, targetW = 8, targetH = 4)
        .flatMap { rm =>
          for (cy <- 0 until 4; cx <- 0 until 8) yield {
            val base = (cy * 8 + cx) * 3
            (rm.media_id, cx, cy,
              rm.payload(base) & 0xff,
              rm.payload(base + 1) & 0xff,
              rm.payload(base + 2) & 0xff)
          }
        }
        .toDF("media_id", "cell_x", "cell_y", "r", "g", "b")
        .orderBy("media_id", "cell_y", "cell_x")
    },

    // REAL audio feature extraction: every document becomes a mono 16-bit
    // PCM WAV with an arithmetic sawtooth payload, the engine decodes the
    // actual RIFF/PCM byte layout (chunk walk, little-endian i16) and
    // reduces 256-sample frames to integer-exact features (energy,
    // sum|s|, peak, zero-crossings). The oracle never sees the bytes — it
    // re-derives every sample from (doc_id, i) arithmetic, so a pass
    // proves the encode->decode->window round-trip exactly. Frames are
    // independent (crossings never pair across a boundary), which is both
    // what lets the oracle group by i // 256 and what keeps the operator
    // embarrassingly parallel at 100 TB.
    QueryDef(
      "q_mm_audio_feats",
      Some("""WITH d AS (SELECT doc_id AS id, n_chars % 500 + 32 AS ns FROM documents),
              s AS (SELECT id, unnest(generate_series(0, ns - 1)) AS i FROM d),
              v AS (SELECT id, i, ((id % 251) + i * 131) % 4097 - 2048 AS v FROM s),
              w AS (SELECT id, i, v, i // 256 AS f,
                           lag(v) OVER (PARTITION BY id ORDER BY i) AS pv
                    FROM v)
              SELECT id AS media_id, CAST(f AS INT) AS frame_idx,
                     CAST(count(*) AS INT) AS n,
                     CAST(sum(v * v) AS BIGINT) AS energy,
                     CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
                     CAST(max(abs(v)) AS INT) AS peak,
                     CAST(coalesce(sum(CASE WHEN i % 256 <> 0
                                             AND ((pv < 0) <> (v < 0))
                                            THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS zero_cross
              FROM w GROUP BY id, f ORDER BY media_id, frame_idx""")) { (s, d) =>
      val media = graft.multimodal.Multimodal
        .plantedPatternWav(Tables.documents(s, d))
      graft.multimodal.Multimodal.audioFrameFeatures(media, frame = 256)
        .toDF()
        .orderBy("media_id", "frame_idx")
    },

    // COMPOSED multimodal curation plan — the flagship shape: ONE binary
    // column carrying two container formats (patterned BMPs on even ids,
    // patterned WAVs on odd), each modality routed to its decoder branch
    // (box-filter resize to 4x2 RGB for images; 256-sample frame features
    // for audio) and reduced to a unified per-media feature row, all in
    // one declarative plan. The codec-registry property does the routing
    // for free: resizeBmpArea claims BMP and drops the rest,
    // audioFrameFeatures claims PCM16 and drops the rest — no per-row
    // format dispatch, no driver loop. Oracle re-derives both branches
    // from (doc_id, n_chars) arithmetic: a pass proves BMP layout
    // inversion + integer resample AND RIFF walk + PCM windowing inside
    // the same composed query.
    QueryDef(
      "q_mm_pipeline",
      Some(s"""WITH img AS (SELECT doc_id AS id, doc_id % 64 + 1 AS w,
                       n_chars % 64 + 1 AS h
                FROM documents WHERE doc_id % 2 = 0),
          cells AS (SELECT id, w, h, cx, cy
                    FROM img, (SELECT unnest(generate_series(0, 3)) AS cx),
                              (SELECT unnest(generate_series(0, 1)) AS cy)),
          box AS (SELECT id, cx, cy,
                         (cx * w) // 4 AS x0,
                         GREATEST((cx * w) // 4 + 1, ((cx + 1) * w) // 4) AS x1,
                         (cy * h) // 2 AS y0,
                         GREATEST((cy * h) // 2 + 1, ((cy + 1) * h) // 2) AS y1
                  FROM cells),
          chan AS (SELECT id, CAST(${bmpChan(0)} AS BIGINT) AS r,
                          CAST(${bmpChan(1)} AS BIGINT) AS g,
                          CAST(${bmpChan(2)} AS BIGINT) AS b FROM box),
          imgf AS (SELECT id AS media_id, 'image' AS modality,
                          CAST(sum(r + g + b) AS BIGINT) AS feat_a,
                          CAST(max(GREATEST(r, g, b)) AS BIGINT) AS feat_b
                   FROM chan GROUP BY id),
          aud0 AS (SELECT doc_id AS id, n_chars % 500 + 32 AS ns
                   FROM documents WHERE doc_id % 2 = 1),
          st AS (SELECT id, unnest(generate_series(0, ns - 1)) AS i FROM aud0),
          vt AS (SELECT id, i, ((id % 251) + i * 131) % 4097 - 2048 AS v FROM st),
          wt AS (SELECT id, i, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS pv
                 FROM vt),
          audf AS (SELECT id AS media_id, 'audio' AS modality,
                          CAST(sum(v * v) AS BIGINT) AS feat_a,
                          CAST(coalesce(sum(CASE WHEN i % 256 <> 0
                                                  AND ((pv < 0) <> (v < 0))
                                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
                            AS feat_b
                   FROM wt GROUP BY id)
          SELECT * FROM imgf UNION ALL SELECT * FROM audf
          ORDER BY media_id""")) { (s, d) =>
      import s.implicits._
      val media = graft.multimodal.Multimodal
        .plantedPatternMedia(Tables.documents(s, d))
      val img = graft.multimodal.Multimodal.resizeBmpArea(media, targetW = 4, targetH = 2)
        .map { rm =>
          var sm = 0L; var mx = 0L
          rm.payload.foreach { b =>
            val v = (b & 0xff).toLong
            sm += v
            if (v > mx) mx = v
          }
          (rm.media_id, "image", sm, mx)
        }
        .toDF("media_id", "modality", "feat_a", "feat_b")
      val aud = graft.multimodal.Multimodal.audioFrameFeatures(media, frame = 256)
        .groupBy("media_id")
        .agg(sum(col("energy")).as("feat_a"), sum(col("zero_cross")).as("feat_b"))
        .select(col("media_id"), lit("audio").as("modality"),
          col("feat_a"), col("feat_b"))
      img.unionByName(aud).orderBy("media_id")
    }
  )
}
