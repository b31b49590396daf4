package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.operators.{Cdc, Joins, Layout, Privacy, StringJoin}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-scale operations surface — SURVEY.md §2.11.
  *
  * Operators a 100 TB deployment needs that the reference's
  * single-threaded re-ingest scripts sidestep entirely: skew-safe joins,
  * time-interval joins, snapshot CDC, partition-pruned layouts, idempotent
  * partition replacement, k-anonymity release gates, edit-distance string
  * matching, and URL canonicalization for web-corpus dedup.
  */
object ScaleQueries {

  val defs: Seq[QueryDef] = Seq(

    // Salted join under extreme key skew: ~85% of events hash to one hot
    // key (value < 150 -> key 0). The plain join puts the hot key on ONE
    // reducer; Joins.saltedJoin spreads it over 8 via a (key, salt)
    // composite. Result is semantically the plain join -> plain-join oracle.
    // Measured vs AQE (tools/SkewBench, broadcast disabled, min-of-3):
    // sf0.1 salted 0.45s / plain+AQE 0.51s / plain-noAQE 0.62s; 10x
    // plain+AQE 0.71s / salted 0.92s — AQE skew-split WINS as data grows
    // (salting's dim explode and wider composite-key shuffle scale with
    // the data; AQE splits only the partitions that need it). Default at
    // cluster scale: plain join + AQE (ScaleOpsSpec asserts
    // OptimizeSkewedJoin fires); saltedJoin stays the static mitigation
    // for engines/paths without AQE and for skewed AGGREGATIONS, and is
    // what this query exercises.
    QueryDef(
      "q_join_skew",
      Some("""SELECT n.n_name,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(round(CAST(sum(e.value) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_value
              FROM events e
              JOIN nation n
                ON (CASE WHEN e.value < 150 THEN 0 ELSE e.user_id % 25 END) = n.n_nationkey
              GROUP BY n.n_name ORDER BY n.n_name""")) { (s, d) =>
      val fact = Tables.events(s, d)
        .withColumn("nkey",
          when(col("value") < 150, lit(0L)).otherwise(col("user_id") % 25))
      val dim = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("nkey"), col("n_name"))
      Joins.saltedJoin(fact, dim, "nkey", salts = 8, saltSource = col("event_id"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_events"), Num.round2(sum("value")).as("sum_value"))
        .orderBy("n_name")
    },

    // Interval-overlap join: clicks landing inside the 30 minutes after a
    // high-value purchase. Two large sides, non-equi time predicate — the
    // bucketed formulation shuffles both sides by hash(time bin) instead
    // of nested-looping (Joins.intervalJoin).
    QueryDef(
      "q_join_interval",
      Some("""SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_clicks
              FROM events p JOIN events c
                ON CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
               AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
              WHERE p.event_type = 'purchase' AND p.value > 90
                AND c.event_type = 'click'
              GROUP BY p.event_id ORDER BY p.event_id""")) { (s, d) =>
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("value") > 90)
        .select(col("event_id"), col("ts").as("p_ts"))
      val clicks = Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(col("ts").as("c_ts"))
      Joins.intervalJoin(
          purchases, clicks,
          lStart = col("p_ts"),
          lEnd = col("p_ts") + expr("INTERVAL 30 MINUTES"),
          rTime = col("c_ts"),
          binSeconds = 1800L)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
    },

    // Interval × interval overlap join — BOTH sides are large interval
    // sets (here: ±10min activity windows around purchases vs around
    // errors — "purchases possibly affected by an error"), where a raw
    // theta join nested-loops. Both sides grid-bucket; a pair meeting in
    // several bins is emitted only in the first shared bin, so the result
    // is exactly-once without a distinct (Joins.intervalOverlapJoin; the
    // DuckDB oracle is the brute-force theta join — lossless).
    QueryDef(
      "q_join_overlap",
      Some("""WITH p AS (SELECT event_id AS p_id,
                                ts - INTERVAL 10 MINUTE AS ps,
                                ts + INTERVAL 10 MINUTE AS pe
                         FROM events WHERE event_type = 'purchase'),
                   e AS (SELECT event_id AS e_id,
                                ts - INTERVAL 10 MINUTE AS es,
                                ts + INTERVAL 10 MINUTE AS ee
                         FROM events WHERE event_type = 'error')
              SELECT p_id, CAST(count(*) AS BIGINT) AS n_errs,
                     CAST(min(e_id) AS BIGINT) AS first_err
              FROM p JOIN e ON ps <= ee AND es <= pe
              GROUP BY p_id ORDER BY p_id""")) { (s, d) =>
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"),
          (col("ts") - expr("INTERVAL 10 MINUTES")).as("ps"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("pe"))
      val errors = Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"),
          (col("ts") - expr("INTERVAL 10 MINUTES")).as("es"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("ee"))
      Joins.intervalOverlapJoin(
          purchases, errors,
          lStart = col("ps"), lEnd = col("pe"),
          rStart = col("es"), rEnd = col("ee"),
          binSeconds = 1200L)
        .groupBy("p_id")
        .agg(count(lit(1)).as("n_errs"), min("e_id").as("first_err"))
        .orderBy("p_id")
    },

    // Snapshot CDC: diff yesterday's and today's extracts on the business
    // key. Synthetic snapshots derived deterministically from orders:
    // yesterday misses keys ending in 3, today misses keys ending in 7 and
    // reprices keys ending in 0 — so every change class is populated.
    QueryDef(
      "q_cdc_diff",
      Some("""WITH o AS (SELECT * FROM orders WHERE o_orderkey % 10 != 3),
                   n AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                                CASE WHEN o_orderkey % 10 = 0
                                     THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
                                o_orderdate, o_orderpriority
                         FROM orders WHERE o_orderkey % 10 != 7)
              SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                          WHEN n.o_orderkey IS NULL THEN 'delete'
                          WHEN o.o_totalprice != n.o_totalprice THEN 'update'
                          ELSE 'unchanged' END AS change_type,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(min(coalesce(o.o_orderkey, n.o_orderkey)) AS BIGINT) AS min_key,
                     CAST(max(coalesce(o.o_orderkey, n.o_orderkey)) AS BIGINT) AS max_key
              FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
              GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      val orders = Tables.orders(s, d)
      val yesterday = orders.filter(col("o_orderkey") % 10 =!= 3)
      val today = orders.filter(col("o_orderkey") % 10 =!= 7)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
      Cdc.snapshotDiff(yesterday, today, Seq("o_orderkey"))
        .groupBy("change_type")
        .agg(
          count(lit(1)).as("n"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .orderBy("change_type")
    },

    // Changelog → SCD2: compact the event log into slowly-changing-
    // dimension type-2 validity intervals (per user, one row per
    // event_type change, valid until the next change; NULL valid_to =
    // current version). The dimension-history builder every warehouse
    // maintains; one hash-partition-by-key shared by both windows.
    QueryDef(
      "q_cdc_scd2",
      Some("""WITH o AS (
                SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                       lag(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev
                FROM events),
              c AS (SELECT user_id, event_id, event_type, ts_us FROM o
                    WHERE prev IS NULL OR prev <> event_type)
              SELECT user_id, event_id, event_type,
                     CAST(ts_us AS BIGINT) AS valid_from,
                     CAST(lead(ts_us) OVER w AS BIGINT) AS valid_to,
                     (lead(ts_us) OVER w IS NULL) AS is_current
              FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
              ORDER BY user_id, valid_from, event_id""")) { (s, d) =>
      Cdc.scd2FromChangelog(
          Tables.events(s, d),
          keys = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
          attrCols = Seq("event_type"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from"),
          unix_micros(col("valid_to")).as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    },

    // Time travel: the dimension state AS OF an instant, read from the
    // SCD2 history q_cdc_scd2 builds (Cdc.snapshotAt) — "what did every
    // user's state look like on Jan 15" without replaying the log. A
    // narrow validity-interval filter; at most one version per key
    // survives because intervals are non-overlapping by construction.
    QueryDef(
      "q_cdc_asof",
      Some("""WITH o AS (
                SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                       lag(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev
                FROM events),
              c AS (SELECT user_id, event_id, event_type, ts_us FROM o
                    WHERE prev IS NULL OR prev <> event_type),
              v AS (SELECT user_id, event_id, event_type,
                           ts_us AS valid_from,
                           lead(ts_us) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS valid_to
                    FROM c)
              SELECT user_id, event_id, event_type,
                     CAST(valid_from AS BIGINT) AS valid_from
              FROM v
              WHERE valid_from <= epoch_us(TIMESTAMP '2024-01-15 00:00:00')
                AND (valid_to IS NULL
                     OR valid_to > epoch_us(TIMESTAMP '2024-01-15 00:00:00'))
              ORDER BY user_id""")) { (s, d) =>
      val hist = Cdc.scd2FromChangelog(
        Tables.events(s, d),
        keys = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
        attrCols = Seq("event_type"))
      Cdc.snapshotAt(hist, lit("2024-01-15 00:00:00").cast("timestamp"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from"))
        .orderBy("user_id")
    },

    // Point-in-time (temporal) join: enrich each fact row with the
    // dimension version active at its timestamp — the consumer of the
    // SCD2 history q_cdc_scd2 builds. Equi-join on the key plus a
    // validity-interval filter; per-key versions are bounded and
    // non-overlapping, so each fact matches exactly once and the join
    // stays a plain hash equi-join at any scale (no interval blow-up).
    // Events grouped by their active state version: an event whose type
    // didn't change state still maps to the RUN's first timestamp.
    QueryDef(
      "q_join_temporal",
      Some("""WITH o AS (
                SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                       lag(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev
                FROM events),
              c AS (SELECT user_id, event_id, event_type, ts_us FROM o
                    WHERE prev IS NULL OR prev <> event_type),
              v AS (SELECT user_id, event_type AS state, ts_us AS vf,
                           lead(ts_us) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS vt
                    FROM c),
              e AS (SELECT user_id, epoch_us(ts) AS t FROM events)
              SELECT e.user_id, state,
                     CAST(vf AS BIGINT) AS valid_from,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM e JOIN v ON e.user_id = v.user_id
                AND t >= vf AND (vt IS NULL OR t < vt)
              GROUP BY e.user_id, state, vf
              ORDER BY e.user_id, valid_from""")) { (s, d) =>
      val events = Tables.events(s, d)
      val facts = events
        .select(col("user_id").as("f_user"), unix_micros(col("ts")).as("t"))
      val dim = Cdc.scd2FromChangelog(
          events, Seq("user_id"), "ts", "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          unix_micros(col("valid_from")).as("vf"),
          unix_micros(col("valid_to")).as("vt"))
      facts.join(dim,
          facts("f_user") === dim("user_id") &&
            col("t") >= col("vf") &&
            (col("vt").isNull || col("t") < col("vt")))
        .groupBy(col("user_id"), col("state"), col("vf"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("state"),
          col("vf").as("valid_from"), col("n_events"))
        .orderBy("user_id", "valid_from")
    },

    // Edit-distance near-dup over the part-name vocabulary via PassJoin
    // segment blocking (StringJoin.editDistancePairs) — the character-level
    // member of the near-dup family. Vocabulary-first is the scale shape:
    // the pair space collapses from rows to distinct strings.
    QueryDef(
      "q_dedup_editdist",
      Some("""WITH v AS (SELECT DISTINCT p_name AS nm FROM part WHERE length(p_name) >= 2),
                   p AS (SELECT a.nm AS x, b.nm AS y FROM v a JOIN v b ON a.nm < b.nm
                         WHERE levenshtein(a.nm, b.nm) <= 1)
              SELECT CASE WHEN length(y) < length(x) THEN y ELSE x END AS name_a,
                     CASE WHEN length(y) < length(x) THEN x ELSE y END AS name_b,
                     CAST(levenshtein(x, y) AS BIGINT) AS dist
              FROM p ORDER BY name_a, name_b""")) { (s, d) =>
      StringJoin.editDistancePairs(
          Tables.part(s, d).select(col("p_name")), "p_name", maxDist = 1)
        .select(
          col("left").as("name_a"),
          col("right").as("name_b"),
          col("dist").cast("long").as("dist"))
        .orderBy("name_a", "name_b")
    },

    // k-anonymity release gate on the order book: QI = (priority, order
    // year, 20k price band); groups smaller than k=10 are suppressed into
    // one '*' bucket (Privacy.kAnonymize) — which is itself dropped when
    // fewer than k rows were suppressed in total (the star bucket must
    // honor the same k floor). Output: released group sizes.
    QueryDef(
      "q_anon_k",
      Some("""WITH g AS (
                SELECT o_orderpriority AS prio,
                       CAST(year(o_orderdate) AS VARCHAR) AS yr,
                       CAST(CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS VARCHAR) AS band,
                       count(*) OVER (PARTITION BY o_orderpriority,
                                      year(o_orderdate),
                                      floor(o_totalprice / 20000.0)) AS gsize
                FROM orders),
              s AS (SELECT count(*) AS nsup FROM g WHERE gsize < 10)
              SELECT CASE WHEN gsize < 10 THEN '*' ELSE prio END AS prio,
                     CASE WHEN gsize < 10 THEN '*' ELSE yr END AS yr,
                     CASE WHEN gsize < 10 THEN '*' ELSE band END AS band,
                     CAST(count(*) AS BIGINT) AS n_rows
              FROM g, s WHERE gsize >= 10 OR nsup >= 10
              GROUP BY 1, 2, 3 ORDER BY prio, yr, band""")) { (s, d) =>
      val qi = Tables.orders(s, d).select(
        col("o_orderpriority").as("prio"),
        year(col("o_orderdate")).cast("string").as("yr"),
        floor(col("o_totalprice") / 20000.0).cast("long").cast("string").as("band"))
      Privacy.kAnonymize(qi, Seq("prio", "yr", "band"), k = 10)
        .groupBy("prio", "yr", "band")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("prio", "yr", "band")
    },

    // Partition-pruned scan: events laid out as one directory per
    // event_type; a reader filtering on the partition column touches only
    // that directory (PartitionFilters — asserted on the physical plan in
    // ScaleOpsSpec). Oracle = the same aggregate over the flat table.
    QueryDef(
      "q_part_prune",
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                     CAST(round(CAST(sum(value) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_value
              FROM events WHERE event_type = 'purchase'"""),
        prep = Tables.partitionedEvents) { (s, d) =>
      val path = Tables.partitionedEvents(s, d)
      s.read.parquet(path)
        .filter(col("event_type") === "purchase")
        .agg(
          count(lit(1)).as("n"),
          countDistinct("user_id").as("n_users"),
          Num.round2(sum("value")).as("sum_value"))
    },

    // Idempotent partition replacement: re-ingest ONE day into the by-day
    // layout with dynamic partition overwrite — only that directory is
    // rewritten, a re-run converges to the same table (the scale-out form
    // of the reference's offset-resume, which can only append). The query
    // re-executes the overwrite every run and then audits the whole table.
    QueryDef(
      "q_part_overwrite",
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(round(CAST(sum(value) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1 ORDER BY day"""),
        prep = Tables.partitionedEventsByDay) { (s, d) =>
      val path = Tables.partitionedEventsByDay(s, d)
      // recompute one day and swap just its partition (idempotent: the
      // rewritten rows equal the originals)
      Tables.events(s, d)
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .filter(col("event_date") === "2024-01-05")
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
      s.read.parquet(path)
        .groupBy(col("event_date").cast("string").as("day"))
        .agg(count(lit(1)).as("n"), Num.round2(sum("value")).as("sum_value"))
        .orderBy("day")
    },

    // URL canonicalization for web-corpus dedup: lowercase scheme+host,
    // strip tracking params and fragments, then group — the standard first
    // pass before content near-dup. URLs are built deterministically from
    // doc fields (the corpus has no URL column), canonicalized with
    // RE2-portable regexes that run identically in both engines.
    QueryDef(
      "q_url_canon",
      Some("""WITH raw AS (
                SELECT 'HTTPS://WWW.' || upper(source) || '.Example.COM/d/'
                       || CAST(doc_id % 10 AS VARCHAR)
                       || CASE WHEN doc_id % 3 = 0
                               THEN '?utm_source=feed&utm_campaign=' || lang
                                    || '&ref=' || CAST(doc_id % 2 AS VARCHAR)
                               WHEN doc_id % 3 = 1
                               THEN '?ref=' || CAST(doc_id % 2 AS VARCHAR) || '&utm_medium=rss'
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END AS url
                FROM documents),
                   canon AS (
                SELECT url,
                       regexp_replace(regexp_replace(
                         lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([^/]*//[^/]+)', 1))
                           || regexp_replace(regexp_replace(url, '#.*$', ''), '^[^/]*//[^/]+', ''),
                         'utm_[a-z]+=[^&]*&?', '', 'g'), '[?&]+$', '', 'g') AS curl
                FROM raw)
              SELECT curl, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(count(DISTINCT url) AS BIGINT) AS n_variants
              FROM canon GROUP BY curl ORDER BY curl""")) { (s, d) =>
      val raw = Tables.documents(s, d).select(
        concat(
          lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM/d/"),
          (col("doc_id") % 10).cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("?utm_source=feed&utm_campaign="), col("lang"),
              lit("&ref="), (col("doc_id") % 2).cast("string")))
            .when(col("doc_id") % 3 === 1,
              concat(lit("?ref="), (col("doc_id") % 2).cast("string"),
                lit("&utm_medium=rss")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#top")).otherwise(lit(""))).as("url"))
      val noFrag = regexp_replace(col("url"), "#.*$", "")
      val canon = raw.withColumn("curl",
        regexp_replace(
          regexp_replace(
            concat(
              lower(regexp_extract(noFrag, "^([^/]*//[^/]+)", 1)),
              regexp_replace(noFrag, "^[^/]*//[^/]+", "")),
            "utm_[a-z]+=[^&]*&?", ""),
          "[?&]+$", ""))
      canon.groupBy("curl")
        .agg(count(lit(1)).as("n_docs"), countDistinct("url").as("n_variants"))
        .orderBy("curl")
    },

    // URL-level dedup with a best-doc KEEPER (the RefinedWeb/CCNet first
    // pass — URL dedup runs BEFORE content near-dup because it needs no
    // tokenization): group by canonical URL, keep the longest document
    // (ties to the smallest doc_id — deterministic, no ambiguity). One
    // keyed aggregation, not a window: max over struct(n_chars, -doc_id)
    // is order-isomorphic to the (longest, then smallest-id) rule, so the
    // keeper reduces with map-side partials and the shuffle carries one
    // row per URL group — a window sort over corpus-sized partitions
    // would shuffle every row at 100 TB. Fixture URLs as in q_url_canon.
    QueryDef(
      "q_dedup_url",
      Some("""WITH raw AS (
                SELECT doc_id, n_chars,
                       'HTTPS://WWW.' || upper(source) || '.Example.COM/d/'
                       || CAST(doc_id % 10 AS VARCHAR)
                       || CASE WHEN doc_id % 3 = 0
                               THEN '?utm_source=feed&utm_campaign=' || lang
                                    || '&ref=' || CAST(doc_id % 2 AS VARCHAR)
                               WHEN doc_id % 3 = 1
                               THEN '?ref=' || CAST(doc_id % 2 AS VARCHAR) || '&utm_medium=rss'
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END AS url
                FROM documents),
                   canon AS (
                SELECT doc_id, n_chars,
                       regexp_replace(regexp_replace(
                         lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([^/]*//[^/]+)', 1))
                           || regexp_replace(regexp_replace(url, '#.*$', ''), '^[^/]*//[^/]+', ''),
                         'utm_[a-z]+=[^&]*&?', '', 'g'), '[?&]+$', '', 'g') AS curl
                FROM raw)
              SELECT curl, keeper_id, n_chars, n_docs FROM (
                SELECT curl, doc_id AS keeper_id, n_chars,
                       CAST(count(*) OVER (PARTITION BY curl) AS BIGINT) AS n_docs,
                       row_number() OVER (PARTITION BY curl
                                          ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM canon)
              WHERE rn = 1 ORDER BY curl""")) { (s, d) =>
      val raw = Tables.documents(s, d).select(
        col("doc_id"), col("n_chars"),
        concat(
          lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM/d/"),
          (col("doc_id") % 10).cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("?utm_source=feed&utm_campaign="), col("lang"),
              lit("&ref="), (col("doc_id") % 2).cast("string")))
            .when(col("doc_id") % 3 === 1,
              concat(lit("?ref="), (col("doc_id") % 2).cast("string"),
                lit("&utm_medium=rss")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#top")).otherwise(lit(""))).as("url"))
      val noFrag = regexp_replace(col("url"), "#.*$", "")
      val canon = raw.withColumn("curl",
        regexp_replace(
          regexp_replace(
            concat(
              lower(regexp_extract(noFrag, "^([^/]*//[^/]+)", 1)),
              regexp_replace(noFrag, "^[^/]*//[^/]+", "")),
            "utm_[a-z]+=[^&]*&?", ""),
          "[?&]+$", ""))
      // max over (n_chars, -doc_id) == (longest doc, then smallest id):
      // struct max is lexicographic and doc_id >= 0, so negation flips
      // the id order without touching the length order
      canon.groupBy("curl")
        .agg(
          max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("nid"))).as("best"),
          count(lit(1)).as("n_docs"))
        .select(col("curl"), (-col("best.nid")).as("keeper_id"),
          col("best.nc").as("n_chars"), col("n_docs"))
        .orderBy("curl")
    },

    // Compaction planner: assign per-day partitions to target-sized
    // compaction bins (bin = floor of the PRECEDING days' cumulative row
    // count / target) — the small-file maintenance pass every partitioned
    // warehouse schedules. The plan is computed over per-day STATS (one
    // row per partition — metadata-sized by construction, like a catalog
    // listing), so the single ordered window costs nothing; the data
    // itself is only touched by the keyed count. Integer-exact both sides
    // (`div` / `//`).
    QueryDef(
      "q_layout_compact",
      Some("""WITH pc AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                                 count(*) AS n_rows
                          FROM events GROUP BY day),
              w AS (SELECT day, n_rows,
                           coalesce(sum(n_rows) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
                    FROM pc)
              SELECT strftime(day, '%Y-%m-%d') AS day,
                     CAST(n_rows AS BIGINT) AS n_rows,
                     CAST(cum_prev // 1200 AS BIGINT) AS bin,
                     CAST(sum(n_rows) OVER (PARTITION BY cum_prev // 1200) AS BIGINT) AS bin_rows
              FROM w ORDER BY day""")) { (s, d) =>
      val perDay = Tables.events(s, d)
        .groupBy(to_date(date_trunc("DAY", col("ts"))).as("day"))
        .agg(count(lit(1)).as("n_rows"))
      // ordered window over the per-partition stats table (one row per
      // day — bounded metadata, not data)
      val wPrev = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      perDay
        .withColumn("cum_prev",
          coalesce(sum("n_rows").over(wPrev), lit(0L)))
        .withColumn("bin", expr("cum_prev div 1200"))
        .withColumn("bin_rows",
          sum("n_rows").over(Window.partitionBy("bin")))
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_rows"), col("bin"), col("bin_rows"))
        .orderBy("day")
    },

    // Compaction EXECUTOR — the planner's other half: actually rewrite the
    // fragmented per-day partition dirs (8 files/day by construction) into
    // target-sized files via dynamic partition overwrite, then audit the
    // resulting layout from the FILESYSTEM. The oracle checks the physical
    // law the executor must satisfy — every day ends at exactly
    // ceil(n_rows / 2000) files — so a file-count match proves the rewrite
    // ran and converged (idempotent: a second run finds no over-target
    // partition and touches nothing).
    QueryDef(
      "q_layout_compact_exec",
      Some("""SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
                     CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(ceil(count(*) / 2000.0) AS BIGINT) AS n_files
              FROM events GROUP BY 1 ORDER BY day"""),
        prep = Tables.compactableEventsByDay) { (s, d) =>
      val path = Tables.compactableEventsByDay(s, d)
      Layout.compactExecute(s, path, "event_date", Tables.CompactTargetRows)
        .select(col("event_date").as("day"), col("n_rows"),
          col("files_after").cast("long").as("n_files"))
        .orderBy("day")
    },

    // Calendar-spine / date-dimension builder: densify the full day range
    // of the fact table (weekends and zero-activity days included) and
    // enrich each day with the standard dimension attributes — the date
    // dimension every warehouse materializes once and joins everywhere.
    // The spine is generated from ONE broadcast (min, max) row; days are
    // metadata-sized relative to facts, so the left join back is cheap.
    QueryDef(
      "q_date_spine",
      Some("""WITH span AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
                                   CAST(max(o_orderdate) AS DATE) AS d1
                            FROM orders),
              cal AS (SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                               CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
                      FROM span),
              o AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
                    FROM orders GROUP BY day)
              SELECT strftime(day, '%Y-%m-%d') AS day,
                     CAST(isodow(day) AS BIGINT) AS dow,
                     CAST(quarter(day) AS BIGINT) AS quarter,
                     (isodow(day) >= 6) AS is_weekend,
                     CAST(coalesce(n, 0) AS BIGINT) AS n_orders
              FROM cal LEFT JOIN o USING (day)
              ORDER BY day""")) { (s, d) =>
      val orders = Tables.orders(s, d)
      val cal = orders
        .agg(to_date(min("o_orderdate")).as("d0"),
          to_date(max("o_orderdate")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val perDay = orders
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"))
      cal.join(perDay, Seq("day"), "left")
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          (weekday(col("day")) + 1).cast("long").as("dow"),
          quarter(col("day")).cast("long").as("quarter"),
          (weekday(col("day")) + 1 >= 6).as("is_weekend"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_orders"))
        .orderBy("day")
    },

    // ε-differentially-private histogram release (Laplace mechanism,
    // sensitivity 1): per-event-type counts + deterministic seeded noise
    // (Privacy.laplaceNoise — portable md5-derived uniform, so re-running
    // the release republishes the SAME noised values instead of averaging
    // the protection away, and DuckDB replays the noise exactly). One
    // keyed agg; noise is a narrow post-agg map.
    QueryDef(
      "q_anon_dp",
      Some(s"""WITH c AS (SELECT event_type, count(*) AS n
                          FROM events GROUP BY event_type),
               u AS (SELECT event_type, n,
                            (${PortableSql.h48(
                              "'rel1_' || coalesce(event_type, '__null__')")} + 0.5)
                              / 281474976710656.0 * 2.0 - 1.0 AS ctr
                     FROM c)
               SELECT event_type,
                      ${Num.oracleRound2(
                        "n + -1.0 * sign(ctr) * ln(1.0 - abs(ctr))")} AS noisy_n
               FROM u ORDER BY event_type""")) { (s, d) =>
      Privacy.dpCounts(Tables.events(s, d), "event_type",
          epsilon = 1.0, releaseTag = "rel1")
        .select(col("event_type"), Num.round2(col("noisy_n")).as("noisy_n"))
        .orderBy("event_type")
    }
  )
}
