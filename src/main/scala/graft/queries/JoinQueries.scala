package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.operators.Joins
import graft.sources.Warehouse
import org.apache.spark.sql.functions._

/** Join surface — SURVEY.md §2.3.
  *
  * The reference performs joins as nested driver loops with per-key SQL
  * (`data_seoul_2_csv_noopenapi.py:58,74-79,89-96`); here they are real
  * distributed joins. Small dimensions are broadcast explicitly; large-large
  * joins shuffle on their keys and AQE handles skew at scale.
  */
object JoinQueries {

  val defs: Seq[QueryDef] = Seq(

    // Large-large equi inner join (sort-merge / shuffled-hash at scale):
    // revenue per order status.
    QueryDef(
      "q_join_inner",
      Some("""SELECT o.o_orderstatus,
                     CAST(round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(28,6)), 2) AS DOUBLE) AS revenue,
                     CAST(count(*) AS BIGINT) AS n_items
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              GROUP BY o.o_orderstatus
              ORDER BY o.o_orderstatus""")) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          Num.round2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderstatus")
    },

    // Broadcast hash join over tiny dimensions: customers per region.
    QueryDef(
      "q_join_broadcast",
      Some("""SELECT r.r_name,
                     CAST(count(*) AS BIGINT) AS n_cust,
                     CAST(round(CAST(sum(c.c_acctbal) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_bal
              FROM customer c
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              GROUP BY r.r_name ORDER BY r.r_name""")) { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"), Num.round2(sum("c_acctbal")).as("sum_bal"))
        .orderBy("r_name")
    },

    // Left semi join — EXISTS (cf. the reference's "has a physical table"
    // existence check, data_seoul_2_csv_noopenapi.py:74-78).
    QueryDef(
      "q_join_semi",
      Some("""SELECT c_custkey, c_name FROM customer c
              WHERE EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_totalprice > 400000.0)
              ORDER BY c_custkey""")) { (s, d) =>
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Left anti join — NOT EXISTS.
    QueryDef(
      "q_join_anti",
      Some("""SELECT c_custkey, c_name FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND o.o_totalprice > 400000.0)
              ORDER BY c_custkey""")) { (s, d) =>
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Theta/range join: events bucketed into value bands. The band table is
    // tiny → broadcast nested-loop, the scale-safe shape for non-equi joins
    // against a small side.
    QueryDef(
      "q_join_range",
      Some("""SELECT r.r_name AS band,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(round(CAST(sum(e.value) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_value
              FROM events e JOIN region r
                ON e.value >= r.r_regionkey * 70.0
               AND e.value <  (r.r_regionkey + 1) * 70.0
              GROUP BY r.r_name ORDER BY r.r_name""")) { (s, d) =>
      Joins.rangeJoinSmall(Tables.events(s, d), Tables.region(s, d),
          col("value") >= col("r_regionkey") * 70.0 &&
            col("value") < (col("r_regionkey") + 1) * 70.0)
        .groupBy(col("r_name").as("band"))
        .agg(count(lit(1)).as("n_events"), Num.round2(sum("value")).as("sum_value"))
        .orderBy("band")
    },

    // Full outer join: customers with F-orders vs customers with O-orders —
    // unmatched sides surface with NULL counts (labeled 0 for the compare).
    QueryDef(
      "q_join_full",
      Some("""SELECT coalesce(f.k, o.k) AS custkey,
                     CAST(coalesce(f.n, 0) AS BIGINT) AS n_f,
                     CAST(coalesce(o.n, 0) AS BIGINT) AS n_o
              FROM (SELECT o_custkey AS k, count(*) AS n FROM orders
                    WHERE o_orderstatus = 'F' AND o_totalprice > 350000.0 GROUP BY 1) f
              FULL OUTER JOIN
                   (SELECT o_custkey AS k, count(*) AS n FROM orders
                    WHERE o_orderstatus = 'O' AND o_totalprice > 350000.0 GROUP BY 1) o
                ON f.k = o.k
              ORDER BY custkey""")) { (s, d) =>
      val orders = Tables.orders(s, d).filter(col("o_totalprice") > 350000.0)
      def side(status: String) = orders
        .filter(col("o_orderstatus") === status)
        .groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("n"))
      val f = side("F").select(col("k").as("f_k"), col("n").as("f_n"))
      val o = side("O").select(col("k").as("o_k"), col("n").as("o_n"))
      f.join(o, col("f_k") === col("o_k"), "full_outer")
        .select(
          coalesce(col("f_k"), col("o_k")).as("custkey"),
          coalesce(col("f_n"), lit(0L)).as("n_f"),
          coalesce(col("o_n"), lit(0L)).as("n_o"))
        .orderBy("custkey")
    },

    // As-of join: for each purchase event, the latest order of that user at
    // or before the event time. Implemented as an equi join on the key plus
    // a windowed top-1 per event (graft.operators.Joins.asOf) — the
    // shuffle-friendly formulation (no global sort, partitioned by event).
    QueryDef(
      "q_join_asof",
      Some("""SELECT event_id, asof_orderkey, asof_date FROM (
                SELECT e.event_id,
                       o.o_orderkey AS asof_orderkey,
                       strftime(o.o_orderdate, '%Y-%m-%d') AS asof_date,
                       row_number() OVER (PARTITION BY e.event_id
                         ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
                FROM events e JOIN orders o
                  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
                WHERE e.event_type = 'purchase')
              WHERE rn = 1 ORDER BY event_id""")) { (s, d) =>
      val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
      Joins.asOf(
          purchases, Tables.orders(s, d),
          leftKey = col("user_id"), rightKey = col("o_custkey"),
          leftTime = col("ts"), rightTime = col("o_orderdate"),
          idCols = Seq("event_id"),
          tieBreak = Seq(col("o_orderkey").desc))
        .select(
          col("event_id"),
          col("o_orderkey").as("asof_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("asof_date"))
        .orderBy("event_id")
    },

    // Bucketed co-located join (Warehouse): both sides pre-bucketed on the
    // join key, so the recurring join — and the downstream per-key
    // aggregate — plan with ZERO Exchange (SURVEY §4.2's shuffle-elimination
    // strategy for 100 TB recurring joins). SourcesSpec asserts the
    // no-Exchange physical plan; this entry oracle-checks the values
    // through the driver gate.
    QueryDef(
      "q_join_colocated",
      Some("""SELECT o.o_custkey AS custkey,
                     CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(round(CAST(sum(o.o_totalprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_price
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              GROUP BY o.o_custkey ORDER BY custkey""")) { (s, d) =>
      // one-time bucketed table build memoized in Tables (Bench pre-builds
      // it during warmup, so the bench row times the join, not the write)
      val (ordsT, custT) = Tables.bucketedOrdersCustomer(s, d)
      Warehouse.colocatedJoin(s, ordsT, custT, "custkey")
        .groupBy("custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          Num.round2(sum("o_totalprice")).as("sum_price"))
        .orderBy("custkey")
    },

    // Bloom-prefiltered join (Joins.bloomPrefilteredJoin): a selective dim
    // predicate becomes a Bloom filter pushed into the fact scan BEFORE
    // the join shuffle — Spark's runtime-filter technique made explicit.
    // No false negatives, so the result is EXACTLY the plain join's and
    // the DuckDB oracle is the plain join; OperatorSpec asserts the
    // pruning actually shrinks the pre-join fact stream.
    QueryDef(
      "q_join_bloom",
      Some("""SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(round(CAST(sum(o_totalprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS sum_price
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE c_custkey % 50 = 0
              GROUP BY o_custkey ORDER BY custkey""")) { (s, d) =>
      val dim = Tables.customer(s, d)
        .filter(col("c_custkey") % 50 === 0)
        .select(col("c_custkey").as("custkey"))
      val fact = Tables.orders(s, d)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      Joins.bloomPrefilteredJoin(fact, dim, "custkey")
        .groupBy("custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          Num.round2(sum("o_totalprice")).as("sum_price"))
        .orderBy("custkey")
    },

    // Star-schema join: the fact table against four dimensions (part +
    // supplier → nation → region), every dimension explicitly broadcast —
    // the fact side streams through four BroadcastHashJoins in ONE stage
    // with zero fact-side shuffles before the final keyed agg. At 100 TB
    // the fact scan is the only big input; dims stay dimension-sized.
    // SourcesSpec asserts the plan shape (4 broadcasts, no SortMergeJoin).
    QueryDef(
      "q_join_star",
      Some("""SELECT r_name, n_name,
                     CAST(count(*) AS BIGINT) AS n_items,
                     CAST(round(CAST(sum(l_extendedprice * (1 - l_discount))
                       AS DECIMAL(28,6)), 2) AS DOUBLE) AS revenue
              FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
              WHERE p_size <= 25
              GROUP BY r_name, n_name
              ORDER BY r_name, n_name""")) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_size") <= 25)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          count(lit(1)).as("n_items"),
          Num.round2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue"))
        .orderBy("r_name", "n_name")
    }
  )
}
