package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Num
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregations — SURVEY.md §2.4.
  *
  * All group-bys are two-phase (partial map-side + final) under Catalyst's
  * HashAggregate; nothing here materializes on the driver. The reference's
  * only aggregate is a driver-side running row counter
  * (`data_seoul_2_csv_noopenapi.py:112,127`).
  */
object AggQueries {

  val defs: Seq[QueryDef] = Seq(

    // Global count (cf. list_total_count, data_seoul_2_csv_noopenapi.py:127).
    QueryDef(
      "q_agg_count",
      Some("SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem")) { (s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("n_rows"))
    },

    // Hash group-by with sum/avg/min/max/count — TPC-H Q1 shape; the
    // engine's flagship query (SparkEntry.entry).
    QueryDef(
      "q_agg_group",
      Some("""SELECT l_returnflag, l_linestatus,
                     sum(l_quantity) AS sum_qty,
                     CAST(round(CAST(sum(l_extendedprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_base_price,
                     CAST(round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_disc_price,
                     CAST(round(CAST(avg(l_quantity) AS DECIMAL(28,6)), 2) AS DOUBLE) AS avg_qty,
                     CAST(round(CAST(avg(l_extendedprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS avg_price,
                     min(l_quantity) AS min_qty,
                     max(l_quantity) AS max_qty,
                     CAST(count(*) AS BIGINT) AS count_order
              FROM lineitem
              GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          Num.round2(sum("l_extendedprice")).as("sum_base_price"),
          Num.round2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("sum_disc_price"),
          Num.round2(avg("l_quantity")).as("avg_qty"),
          Num.round2(avg("l_extendedprice")).as("avg_price"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Exact count distinct per group (expand + two-phase agg under the hood).
    QueryDef(
      "q_agg_distinct",
      Some("""SELECT o_orderpriority,
                     CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
              FROM orders GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct("o_custkey").as("n_cust"))
        .orderBy("o_orderpriority")
    },

    // Approximate distinct via HyperLogLog++ — the 100 TB substitute for
    // exact distinct. No DuckDB oracle (different sketch); the driver
    // records a rows-only check and EntrySpec asserts the estimate lands
    // within 3x the configured rsd of the exact per-group counts.
    QueryDef("q_agg_approx", None) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"))
        .orderBy("l_returnflag")
    },

    // Cube: all grouping-set combinations of two keys.
    QueryDef(
      "q_agg_cube",
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                     coalesce(l_linestatus, 'ALL') AS ls,
                     CAST(count(*) AS BIGINT) AS n,
                     sum(l_quantity) AS sum_qty
              FROM lineitem
              GROUP BY CUBE(l_returnflag, l_linestatus)
              ORDER BY rf, ls""")) { (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    },

    // Explicit GROUPING SETS: per-status totals and per-priority totals in
    // one pass (neither rollup nor cube — an arbitrary set list).
    QueryDef(
      "q_agg_grouping_sets",
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
                     coalesce(o_orderpriority, 'ALL') AS priority,
                     CAST(count(*) AS BIGINT) AS n
              FROM orders
              GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
              ORDER BY status, priority""")) { (s, d) =>
      Tables.orders(s, d)
        .createOrReplaceTempView("orders_gs")
      s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
                      coalesce(o_orderpriority, 'ALL') AS priority,
                      CAST(count(*) AS BIGINT) AS n
               FROM orders_gs
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
               ORDER BY status, priority""")
    },

    // Statistical aggregates: stddev/variance/correlation/covariance.
    QueryDef(
      "q_agg_stats",
      Some("""SELECT l_returnflag,
                     CAST(round(CAST(stddev_samp(l_quantity) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sd_qty,
                     CAST(round(CAST(var_samp(l_quantity) AS DECIMAL(28,6)), 2) AS DOUBLE) AS var_qty,
                     CAST(round(CAST(corr(l_quantity, l_extendedprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS corr_qp,
                     CAST(round(CAST(covar_samp(l_discount, l_tax) AS DECIMAL(28,6)), 2) AS DOUBLE) AS cov_dt
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          Num.round2(stddev_samp(col("l_quantity"))).as("sd_qty"),
          Num.round2(var_samp(col("l_quantity"))).as("var_qty"),
          Num.round2(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
          Num.round2(covar_samp(col("l_discount"), col("l_tax"))).as("cov_dt"))
        .orderBy("l_returnflag")
    },

    // Exact interpolated percentiles + median.
    QueryDef(
      "q_agg_percentile",
      Some("""SELECT l_returnflag,
                     CAST(round(CAST(median(l_quantity) AS DECIMAL(28,6)), 2) AS DOUBLE) AS med_qty,
                     CAST(round(CAST(quantile_cont(l_extendedprice, 0.25) AS DECIMAL(28,6)), 2) AS DOUBLE) AS p25_price,
                     CAST(round(CAST(quantile_cont(l_extendedprice, 0.75) AS DECIMAL(28,6)), 2) AS DOUBLE) AS p75_price
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          Num.round2(median(col("l_quantity"))).as("med_qty"),
          // exact interpolated percentile (approx_percentile picks a real
          // element — it would NOT match DuckDB's quantile_cont)
          Num.round2(expr("percentile(l_extendedprice, 0.25)")).as("p25_price"),
          Num.round2(expr("percentile(l_extendedprice, 0.75)")).as("p75_price"))
        .orderBy("l_returnflag")
    },

    // Pivot: one column per order status, conditional-aggregate oracle.
    // A pivot cell with no rows is NULL in Spark's pivot; the count it
    // stands for is 0, as the oracle's count(*) FILTER gives.
    QueryDef(
      "q_pivot",
      Some("""SELECT o_orderpriority,
                     CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
                     CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
                     CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
              FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")) { (s, d) =>
      val statuses = Seq("F", "O", "P")
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(count(lit(1)))
        .select(col("o_orderpriority") +:
          statuses.map(v => coalesce(col(v), lit(0L)).as(v)): _*)
        .orderBy("o_orderpriority")
    },

    // Unpivot (melt): wide numeric columns to (metric, value) rows.
    QueryDef(
      "q_unpivot",
      Some("""SELECT l_orderkey, l_linenumber, metric, value FROM (
                SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
                UNION ALL
                SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
                UNION ALL
                SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
              WHERE l_orderkey < 300
              ORDER BY l_orderkey, l_linenumber, metric, value""")) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 300)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric", "value")
    },

    // Rollup (grouping sets): subtotals + grand total. NULL group keys from
    // rolled-up levels are labeled 'ALL' on both sides so the hash compare
    // sees identical values.
    QueryDef(
      "q_agg_rollup",
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
                     coalesce(o_orderpriority, 'ALL') AS priority,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(round(CAST(sum(o_totalprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_price
              FROM orders
              GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
              ORDER BY status, priority""")) { (s, d) =>
      Tables.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), Num.round2(sum("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("sum_price"))
        .orderBy("status", "priority")
    },

    // Heavy hitters over DataSketches' frequent-items sketch (the built-in
    // approx_top_k family): the sketch tracks at most maxItemsTracked = 48
    // items (hash map size M = 64) whatever the item cardinality, so the
    // aggregation is partial map-side and the shuffle carries one bounded
    // sketch. Contract, from the sketch's a-priori error 3.5·n/M
    // (= 0.055n): the reported count is an UPPER bound,
    // true <= est <= true + 0.055n, and every item with true > 2·0.055n is
    // reported. So est - 0.055n > n/4 is the guaranteed-real band: each
    // emitted item's true count exceeds n/4 (the oracle's threshold), and
    // every item above n/4 + 0.055n is emitted; only (n/4, 0.305n] is
    // indeterminate. The generated o_orderstatus splits about a third
    // each (0.329-0.343 of n at sf0.001-sf0.1), above that band, so the
    // emitted SET is exact. Estimates depend on merge order, so the output
    // joins back to exact counts.
    QueryDef(
      "q_agg_heavy",
      Some("""WITH t AS (SELECT count(*) AS n FROM orders)
              SELECT o_orderstatus AS item, CAST(count(*) AS BIGINT) AS n_item
              FROM orders, t GROUP BY o_orderstatus, t.n
              HAVING count(*) * 4 > n ORDER BY item""")) { (s, d) =>
      val orders = Tables.orders(s, d)
      val tracked = 48
      val aprioriError = 3.5 / 64 // 3.5 / M, M = 2^ceil(log2(tracked / 0.75))
      val sketch = orders
        .agg(call_function("approx_top_k_estimate",
          call_function("approx_top_k_accumulate", col("o_orderstatus"), lit(tracked)),
          lit(tracked)).as("hh"))
        .select(inline(col("hh")))
      val total = orders.agg(count(lit(1)).as("n"))
      val exact = orders.groupBy(col("o_orderstatus").as("item"))
        .agg(count(lit(1)).as("n_item"))
      sketch.crossJoin(broadcast(total))
        .filter(col("count") - col("n") * aprioriError > col("n") / 4) // guaranteed-real band
        .join(exact, "item")
        .select(col("item"), col("n_item"))
        .orderBy("item")
    },

    // Grouped top-k via bounded-buffer UDAF (graft.functions.TopKAggregator):
    // same semantics as the window formulation (q_text_tf — the oracle IS
    // that query's SQL), but the shuffle carries k entries per group with
    // map-side partials instead of every row into a per-group sort — the
    // scale-correct top-k for high-cardinality groups. Total ordering
    // (n desc, token asc) makes the result deterministic.
    QueryDef(
      "q_agg_topk_group",
      Some("""SELECT lang, token, n, CAST(rn AS BIGINT) AS rn FROM (
                SELECT lang, token, CAST(count(*) AS BIGINT) AS n,
                       row_number() OVER (PARTITION BY lang
                         ORDER BY count(*) DESC, token) AS rn
                FROM (SELECT lang,
                             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                                t -> t <> '')) AS token
                      FROM documents)
                GROUP BY lang, token)
              WHERE rn <= 3 ORDER BY lang, rn""")) { (s, d) =>
      import graft.functions.{TextFunctions => T, TopK}
      val counts = Tables.documents(s, d)
        .select(col("lang"), explode(T.tokens(col("text"))).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("n"))
      counts
        .groupBy("lang")
        .agg(TopK.column(3)(col("token"), col("n")).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "entry")))
        .select(
          col("lang"), col("entry._1").as("token"), col("entry._2").as("n"),
          (col("pos") + 1).cast("long").as("rn"))
        .orderBy("lang", "rn")
    },

    // Ordered funnel: per user, the first view, the first click AFTER that
    // view, the first purchase AFTER that click — the product-analytics
    // staple (each stage must follow the previous one in time, so a
    // click-before-any-view doesn't count). Sequential dependence is
    // expressed as a chain of min-aggregations, each filtered by the
    // previous stage's time; every agg and join keys on user_id, so the
    // whole funnel is ONE hash partitioning reused four times — no
    // windows, no per-user sort.
    QueryDef(
      "q_agg_funnel",
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
              t1 AS (SELECT user_id, min(t) AS t1 FROM e
                     WHERE event_type = 'view' GROUP BY user_id),
              t2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN t1 USING (user_id)
                     WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id),
              t3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN t2 USING (user_id)
                     WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id)
              SELECT u.user_id,
                     CAST(CASE WHEN t3 IS NOT NULL THEN 3
                               WHEN t2 IS NOT NULL THEN 2
                               WHEN t1 IS NOT NULL THEN 1
                               ELSE 0 END AS BIGINT) AS stage,
                     CAST(t1 AS BIGINT) AS first_view_us,
                     CAST(t2 - t1 AS BIGINT) AS view_to_click_us,
                     CAST(t3 - t2 AS BIGINT) AS click_to_purchase_us
              FROM (SELECT DISTINCT user_id FROM e) u
                LEFT JOIN t1 USING (user_id)
                LEFT JOIN t2 USING (user_id)
                LEFT JOIN t3 USING (user_id)
              ORDER BY u.user_id""")) { (s, d) =>
      // ONE hash partitioning on user_id, reused by every stage: three
      // conditional-min windows (t2's predicate reads the t1 window
      // column, t3's reads t2 — sequential WindowExecs over the SAME
      // partitioning, so no further exchange) and the final per-user agg,
      // zero joins. A/B'd against the staged-min-agg + join-chain shape
      // (sf0.1): windows 0.18-0.22 s vs joins
      // 0.30-0.36 s warm, identical output. Scale note: the one exchange
      // carries the full event stream (no map-side combine), while the
      // join chain shuffled clicks/purchases in full anyway (their stage
      // filters need the previous stage's time, so they can't pre-agg) —
      // comparable bytes, 1 exchange instead of 7. A whale user's events
      // buffer in one window group (spillable); funnel events per human
      // user are bounded in practice.
      // Whale-user guard at 100 TB scale: the unbounded-unordered
      // window buffers ONE GROUP at a time, so the failure mode is not
      // correctness but a straggler task when a single user_id carries
      // millions of rows — at warehouse scale that is a BOT or a null/
      // sentinel id (user_id = 0 / -1 / "unknown" sinks from upstream
      // fixups), never a human funnel. Deployments should pre-filter
      // known sentinel ids and cap per-user event counts upstream
      // (e.g. `filter(user_id is not null)` + a per-user count gate à la
      // q_text_quality's length gates) BEFORE this operator; the
      // synthetic events table has no sentinel convention to encode, so
      // the guard stays a documented deployment contract rather than a
      // hard-coded id list that would silently drop real data elsewhere.
      // If a residual whale slips through, the window spills (sort-based
      // WindowExec) and the task completes slow rather than OOMing; AQE
      // cannot split a single key, so the fix belongs before the
      // exchange, not after.
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
      val w = Window.partitionBy("user_id")
      e.withColumn("t1",
          min(when(col("event_type") === "view", col("t"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("t") > col("t1"),
            col("t"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("t") > col("t2"),
            col("t"))).over(w))
        .groupBy("user_id")
        .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
        .select(
          col("user_id"),
          when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
            .when(col("t1").isNotNull, 1L).otherwise(0L).as("stage"),
          col("t1").as("first_view_us"),
          (col("t2") - col("t1")).as("view_to_click_us"),
          (col("t3") - col("t2")).as("click_to_purchase_us"))
        .orderBy("user_id")
    },

    // Cohort retention matrix: cohort = a user's first active day; cell
    // (cohort, offset) counts how many of that cohort came back `offset`
    // days later. Distinct user-days first (so a burst of same-day events
    // counts once), then one per-user min, one join back, one keyed count
    // — all partitioned by user_id until the final (cohort, offset) agg.
    QueryDef(
      "q_agg_retention",
      Some("""WITH d AS (SELECT DISTINCT user_id,
                                CAST(date_trunc('day', ts) AS DATE) AS day
                         FROM events),
              c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
              SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
                     CAST(day - cohort AS BIGINT) AS day_offset,
                     CAST(count(*) AS BIGINT) AS n_users
              FROM d JOIN c USING (user_id)
              GROUP BY cohort, day_offset
              ORDER BY cohort_day, day_offset""")) { (s, d) =>
      val days = Tables.events(s, d)
        .select(col("user_id"), to_date(date_trunc("DAY", col("ts"))).as("day"))
        .distinct()
      val cohorts = days.groupBy("user_id").agg(min("day").as("cohort"))
      days.join(cohorts, "user_id")
        .groupBy(
          date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
          datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },

    // Rolling 7-day active users (WAU): each distinct user-day contributes
    // to the 7 window-end days it falls in, so the rolling distinct count
    // becomes a plain keyed count-distinct after a bounded 7× explode —
    // the exact formulation (no sliding-window distinct operator needed;
    // the sketch alternative is the q_agg_approx family). Scale shape:
    // distinct user-days (one shuffle), narrow 7× flatMap, one keyed agg.
    QueryDef(
      "q_agg_wau",
      Some("""WITH d AS (SELECT DISTINCT user_id,
                                CAST(date_trunc('day', ts) AS DATE) AS day
                         FROM events),
              mx AS (SELECT max(day) AS max_day FROM d),
              x AS (SELECT user_id, day + CAST(k AS INTEGER) AS tday
                    FROM d CROSS JOIN generate_series(0, 6) AS t(k))
              SELECT strftime(tday, '%Y-%m-%d') AS day,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS wau
              FROM x CROSS JOIN mx
              WHERE tday <= max_day
              GROUP BY tday ORDER BY day""")) { (s, d) =>
      val days = Tables.events(s, d)
        .select(col("user_id"), to_date(date_trunc("DAY", col("ts"))).as("day"))
        .distinct()
      val mx = days.agg(max("day").as("max_day"))
      days
        .select(col("user_id"), col("day"),
          explode(sequence(lit(0), lit(6))).as("k"))
        .withColumn("tday", date_add(col("day"), col("k")))
        .crossJoin(broadcast(mx))
        .filter(col("tday") <= col("max_day"))
        .groupBy(date_format(col("tday"), "yyyy-MM-dd").as("day"))
        .agg(countDistinct("user_id").as("wau"))
        .orderBy("day")
    },

    // Fixed-width numeric histogram: one keyed aggregation over an
    // arithmetic bucket key (integer-exact floor division, identical in
    // both engines) — distribution profiling without a sort or a
    // percentile pass. Bucket edges land on exactly-representable
    // doubles, so the floor never straddles an ULP.
    QueryDef(
      "q_agg_hist",
      Some("""SELECT CAST(LEAST(floor(value / 50.0), 9) AS BIGINT) AS bucket,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(round(CAST(min(value) AS DECIMAL(28,6)), 2) AS DOUBLE) AS lo,
                     CAST(round(CAST(max(value) AS DECIMAL(28,6)), 2) AS DOUBLE) AS hi
              FROM events GROUP BY bucket ORDER BY bucket""")) { (s, d) =>
      Tables.events(s, d)
        .groupBy(least(floor(col("value") / 50.0), lit(9)).cast("long").as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          Num.round2(min("value")).as("lo"),
          Num.round2(max("value")).as("hi"))
        .orderBy("bucket")
    },

    // Per-group linear trend: least-squares slope/intercept of value over
    // day offset per user — drift/trend detection as ONE keyed aggregate
    // (regr_slope/regr_intercept are distributive: map-side partial sums
    // of x, y, xy, x²), not a per-group fit loop. The x axis is integer
    // days since a fixed epoch so both engines feed identical doubles.
    QueryDef(
      "q_agg_trend",
      Some(s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                     ${Num.oracleRound2(
                       "regr_slope(value, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))")} AS slope,
                     ${Num.oracleRound2(
                       "regr_intercept(value, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))")} AS icept
              FROM events GROUP BY user_id ORDER BY user_id""")) { (s, d) =>
      val x = datediff(to_date(col("ts")), lit("2024-01-01")).cast("double")
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n"),
          Num.round2(regr_slope(col("value"), x)).as("slope"),
          Num.round2(regr_intercept(col("value"), x)).as("icept"))
        .orderBy("user_id")
    },

    // Rolling actives via MERGEABLE SKETCHES — the 100 TB form of
    // q_agg_wau: the raw events are touched ONCE (per-day HLL sketches,
    // map-side partial merge); the rolling 7-day union then runs over the
    // DAY-sketch table (metadata-sized — one row per day), not over
    // user-days. Precompute-once/merge-anywhere is what makes arbitrary
    // window recombination affordable at scale; the exact twin exists for
    // the oracle. No DuckDB oracle by nature (Datasketches HLL binary is
    // engine-specific); EntrySpec bounds the estimate against the exact
    // q_agg_wau per-day within HLL tolerance.
    QueryDef("q_agg_wau_sketch", None) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(to_date(date_trunc("DAY", col("ts"))).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val mx = daily.agg(max("day").as("max_day"))
      daily
        .select(col("day"), col("sk"), explode(sequence(lit(0), lit(6))).as("k"))
        .withColumn("tday", date_add(col("day"), col("k")))
        .crossJoin(broadcast(mx))
        .filter(col("tday") <= col("max_day"))
        .groupBy(date_format(col("tday"), "yyyy-MM-dd").as("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .cast("long").as("wau_est"))
        .orderBy("day")
    },

    // Rolling 7-day value percentiles via MERGEABLE QUANTILE SKETCHES —
    // the percentile twin of q_agg_wau_sketch: per-day KLL sketches
    // (DataSketches, default k = 200; map-side partial merge, one compact
    // sketch per day crosses the shuffle) merged into each 7-day window
    // over the DAY-sketch table. Raw events are touched once; any
    // re-window merges stored sketches. No DuckDB oracle by nature (the
    // sketch binary and its rank-approximate answers are engine-specific);
    // EntrySpec brackets every window's p50/p90/p99 between the exact
    // quantiles at p ± 0.03, above KLL's k = 200 normalized rank error
    // (1.65% two-sided at 99% confidence). The answers are NOT
    // reproducible run to run: kll_merge_agg_double compacts with
    // DataSketches' unseeded static KllSketch.random and Spark exposes no
    // seed, so two runs give different quantiles inside the rank bound
    // (the same 30 day sketches merged five times gave p50 498–500 and
    // p90 893–903). That alone rules out a hash oracle for this query.
    QueryDef("q_agg_quantile_sketch", None) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(to_date(date_trunc("DAY", col("ts"))).as("day"))
        .agg(kll_sketch_agg_double(col("value")).as("sk"))
      val mx = daily.agg(max("day").as("max_day"))
      daily
        .select(col("day"), col("sk"), explode(sequence(lit(0), lit(6))).as("k"))
        .withColumn("tday", date_add(col("day"), col("k")))
        .crossJoin(broadcast(mx))
        .filter(col("tday") <= col("max_day"))
        .groupBy(date_format(col("tday"), "yyyy-MM-dd").as("day"))
        .agg(kll_sketch_get_quantile_double(kll_merge_agg_double(col("sk")),
          array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
        .select(col("day"),
          col("q")(0).as("p50"), col("q")(1).as("p90"), col("q")(2).as("p99"))
        .orderBy("day")
    }
  )
}
