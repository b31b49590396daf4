package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.operators.Enrich
import graft.sources.{Audit, CatalogSchema, Ingest, Jdbc, SchemaInfer, UrlTemplating}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}
import scala.jdk.CollectionConverters._

/** The reference pipeline's own semantics, Spark-native — SURVEY.md §2.1,
  * §3: catalog-schema CSV ingest with offset resume, MERGE enrichment,
  * audit bookkeeping.
  */
object PipelineQueries {

  /** The running checkout's CSV fixtures, as absolute paths (Verify and
    * Bench may run from any cwd): the nearest ancestor of this class's
    * compiled location that holds `src/test/resources/fixtures`. */
  private val fixtures: String =
    Iterator.iterate(new java.io.File(
        getClass.getProtectionDomain.getCodeSource.getLocation.toURI))(_.getParentFile)
      .takeWhile(_ != null)
      .map(new java.io.File(_, "src/test/resources/fixtures"))
      .find(_.isDirectory)
      .fold("src/test/resources/fixtures")(_.getAbsolutePath)
  private[graft] val fixtureCsv = s"$fixtures/tmp_dataset.csv"
  private[graft] val corruptCsv = s"$fixtures/tmp_dataset_corrupt.csv"

  val defs: Seq[QueryDef] = Seq(

    // Offset-resume semantics on the shared tables (cf. skip until
    // start_idx <= row, data_seoul_2_csv_noopenapi.py:115): ingest only
    // rows past the high-water mark, report the audit numbers.
    QueryDef(
      "q_ingest_resume",
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_ingested,
                     CAST(min(event_id) AS BIGINT) AS first_id,
                     CAST(max(event_id) AS BIGINT) AS last_id
              FROM events WHERE event_id > 500""")) { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") > 500)
        .agg(
          count(lit(1)).as("n_ingested"),
          min("event_id").as("first_id"),
          max("event_id").as("last_id"))
    },

    // Catalog-schema CSV ingest with resume (the reference's Entry 2 in
    // full): schema from MANAGE_PHYSICAL_COLUMN-shaped rows, header skip,
    // per-partition surrogate ids, resume filter at start_idx=2.
    // Oracle: DuckDB read_csv over the same fixture with all_varchar (the
    // staging read is untyped by design) — the fixture's STN_ID is a
    // unique integer increasing in file order, so row_number() ordered by
    // the *numeric* value of STN_ID reproduces the file-order surrogate id
    // deterministically (numeric cast, not lexicographic: '9' < '10' must
    // hold if the fixture ever gains IDs of differing digit lengths).
    // IngestSpec still asserts exact rows.
    QueryDef(
      "q_scan_csv",
      Some(s"""SELECT * FROM (
                SELECT STN_ID, STN_NAME, MEA_DATE, MEA_VALUE,
                       CAST(row_number() OVER (ORDER BY CAST(STN_ID AS BIGINT)) AS BIGINT) AS id
                FROM read_csv('$fixtureCsv',
                              header=true, all_varchar=true))
              WHERE id > 2 ORDER BY id""")) { (s, d) =>
      import s.implicits._
      val catalogRows = Seq(
        (1, "STN_ID", "NUMBER", 1),
        (2, "STN_NAME", "VARCHAR2", 2),
        (3, "MEA_DATE", "DATE", 3),
        (4, "MEA_VALUE", "FLOAT", 4)
      ).toDF("id", "physical_column_name", "physical_column_type",
        "physical_column_order")
        .select(col("physical_column_name"), col("physical_column_type"),
          col("physical_column_order"))
      val schema = CatalogSchema.fromRows(catalogRows)
      Ingest.csvResume(s, fixtureCsv, schema, startIdx = 2L)
        .orderBy("id")
    },

    // Schema inference from a doc page's flattened output-column table
    // (cf. the stride-3 walk skipping 공통 rows, data_seoul_3_csv.py:127-146).
    // Input is a deterministic in-code fixture (the driver-side page fetch
    // is out of engine scope), so the oracle pins the exact expected rows.
    QueryDef(
      "q_schema_infer",
      Some("""SELECT * FROM (VALUES
                (CAST(1 AS BIGINT), 'MSRDT', 'COL_001'),
                (CAST(2 AS BIGINT), 'MSRSTE_NM', 'COL_002'),
                (CAST(3 AS BIGINT), 'NO2', 'COL_003'))
              t(ordinal, english, col_name) ORDER BY ordinal""")) { (s, d) =>
      import s.implicits._
      val pages = Seq(
        (23L, Seq(
          "공통", "list_total_count", "총 데이터 건수",
          "출력", "MSRDT", "측정일시",
          "공통", "RESULT.CODE", "요청결과 코드",
          "출력", "MSRSTE_NM", "측정소명",
          "출력", "NO2", "이산화질소농도"))
      ).toDF("page_id", "cells")
      SchemaInfer.inferColumns(pages)
        .select("ordinal", "english", "col_name")
        .orderBy("ordinal")
    },

    // XML extraction — the reference's vestigial XML path (ElementTree
    // import at data_seoul_1_category.py:11-12; save_xml_path carried at
    // data_seoul_2_csv_noopenapi.py:81 but never executed) made real with
    // Spark 4's built-in from_xml. The payload is built from the nation
    // table and parsed back, so the oracle can check the full round trip
    // against the base columns.
    QueryDef(
      "q_xml_extract",
      Some("""SELECT n_nationkey, upper(n_name) AS name_up, n_regionkey
              FROM nation ORDER BY n_nationkey""")) { (s, d) =>
      val payload = concat(
        lit("<row><key>"), col("n_nationkey"),
        lit("</key><name>"), col("n_name"),
        lit("</name><region>"), col("n_regionkey"),
        lit("</region></row>"))
      val xmlSchema = StructType(Seq(
        StructField("key", LongType),
        StructField("name", StringType),
        StructField("region", LongType)))
      Tables.nation(s, d)
        .select(from_xml(payload, xmlSchema,
          Map.empty[String, String].asJava).as("x"))
        .select(
          col("x.key").as("n_nationkey"),
          upper(col("x.name")).as("name_up"),
          col("x.region").as("n_regionkey"))
        .orderBy("n_nationkey")
    },

    // Sample-URL surgery (cf. auth-key substitution + trailing-slash fix +
    // rsplit truncation, data_seoul_3_csv.py:93-106) over derived URLs.
    QueryDef(
      "q_url_template",
      Some("""SELECT n_nationkey,
                     regexp_replace(u, '/sample/', '/MYKEY/') AS auth_url,
                     CASE WHEN u LIKE '%/' THEN u ELSE u || '/' END AS slashed,
                     regexp_replace(regexp_replace(u, '/[^/]*$', ''), '/[^/]*$', '') AS truncated
              FROM (SELECT n_nationkey,
                           'http://host/sample/xml/Svc' || CAST(n_nationkey AS VARCHAR) || '/1/5' AS u
                    FROM nation)
              ORDER BY n_nationkey""")) { (s, d) =>
      val u = concat(lit("http://host/sample/xml/Svc"),
        col("n_nationkey").cast("string"), lit("/1/5"))
      Tables.nation(s, d)
        .select(col("n_nationkey"), u.as("u"))
        .select(
          col("n_nationkey"),
          UrlTemplating.withAuthKey(col("u"), lit("MYKEY")).as("auth_url"),
          UrlTemplating.ensureTrailingSlash(col("u")).as("slashed"),
          UrlTemplating.dropLastSegments(col("u"), 2).as("truncated"))
        .orderBy("n_nationkey")
    },

    // Typed-cast stage, strict ANSI policy (Ingest.applyTypes): the staged
    // all-string frame casts back to the catalog types, and clean values
    // must round-trip exactly. The reference defers typing to the DB (type
    // carried but never consulted, data_seoul_2_csv_noopenapi.py:89); here
    // typing is an explicit, oracle-checked stage.
    QueryDef(
      "q_cast_strict",
      Some("""SELECT CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS o_orderkey,
                     CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS o_totalprice,
                     CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP) AS o_orderdate,
                     o_orderkey AS id
              FROM orders ORDER BY id""")) { (s, d) =>
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType)))
      val staged = Tables.orders(s, d).select(
        col("o_orderkey").cast("string").as("o_orderkey"),
        col("o_totalprice").cast("string").as("o_totalprice"),
        col("o_orderdate").cast("string").as("o_orderdate"),
        col("o_orderkey").as("id"))
      Ingest.applyTypes(staged, schema).orderBy("id")
    },

    // Typed-cast stage, lenient policy (Ingest.applyTypesLenient):
    // deterministically corrupted values (every 7th price, every 11th
    // timestamp) become NULL via try_cast instead of failing the job —
    // the quarantine-and-continue ingest policy, vs DuckDB TRY_CAST.
    QueryDef(
      "q_cast_lenient",
      Some("""SELECT TRY_CAST(CASE WHEN o_orderkey % 7 = 0
                                   THEN 'x' || CAST(o_totalprice AS VARCHAR)
                                   ELSE CAST(o_totalprice AS VARCHAR) END
                              AS DOUBLE) AS o_totalprice,
                     TRY_CAST(CASE WHEN o_orderkey % 11 = 0
                                   THEN 'not-a-timestamp'
                                   ELSE CAST(o_orderdate AS VARCHAR) END
                              AS TIMESTAMP) AS o_orderdate,
                     o_orderkey AS id
              FROM orders ORDER BY id""")) { (s, d) =>
      val schema = StructType(Seq(
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType)))
      val staged = Tables.orders(s, d).select(
        when(col("o_orderkey") % 7 === 0,
          concat(lit("x"), col("o_totalprice").cast("string")))
          .otherwise(col("o_totalprice").cast("string")).as("o_totalprice"),
        when(col("o_orderkey") % 11 === 0, lit("not-a-timestamp"))
          .otherwise(col("o_orderdate").cast("string")).as("o_orderdate"),
        col("o_orderkey").as("id"))
      Ingest.applyTypesLenient(staged, schema).orderBy("id")
    },

    // Malformed-LINE quarantine (Ingest.csvQuarantine): a PERMISSIVE
    // staging read over a fixture with planted wrong-column-count lines —
    // clean lines pass through untouched, malformed lines surface their
    // parsed prefix fields PLUS the raw line for the quarantine sink, and
    // nothing fails the job. The DuckDB oracle re-derives the rule from
    // the RAW file (line split, field-count test), so the quarantine
    // semantics — not just this fixture's outcome — are what's checked.
    // ORACLE ID INVARIANT (shared with q_scan_csv's convention): the engine
    // id is FILE ORDER (withSurrogateId), while this oracle derives it from
    // row_number() ordered by the casted first field — they coincide only
    // because tmp_dataset_corrupt.csv keeps STN_ID ascending, unique, and
    // numeric-prefixed even on the malformed lines. Editing the fixture
    // (reordered / duplicate stn_id, or a malformed line whose FIRST field
    // is non-numeric) breaks the oracle, not the engine; TRY_CAST below
    // keeps a non-numeric first field from erroring the oracle outright
    // (it would sort NULLS LAST and mismatch loudly instead).
    QueryDef(
      "q_cast_corrupt",
      Some(s"""SELECT * FROM (
                SELECT CAST(row_number() OVER (ORDER BY TRY_CAST(f[1] AS BIGINT)) AS BIGINT) AS id,
                       f[1] AS stn_id, f[2] AS stn_name,
                       f[3] AS mea_date, f[4] AS mea_value,
                       len(f) <> 4 AS quarantined,
                       CASE WHEN len(f) <> 4 THEN line ELSE NULL END AS corrupt_raw
                FROM (SELECT line, string_split(line, ',') AS f
                      FROM read_csv('$corruptCsv',
                                    columns={'line': 'VARCHAR'},
                                    delim=e'\\x01', quote='', header=true)))
              ORDER BY id""")) { (s, d) =>
      val schema = StructType(Seq(
        StructField("STN_ID", LongType),
        StructField("STN_NAME", StringType),
        StructField("MEA_DATE", TimestampType),
        StructField("MEA_VALUE", DoubleType)))
      Ingest.withSurrogateId(Ingest.csvQuarantine(s, corruptCsv, schema))
        .select(col("id"),
          col("STN_ID").as("stn_id"), col("STN_NAME").as("stn_name"),
          col("MEA_DATE").as("mea_date"), col("MEA_VALUE").as("mea_value"),
          col(Ingest.CorruptCol).isNotNull.as("quarantined"),
          col(Ingest.CorruptCol).as("corrupt_raw"))
        .orderBy("id")
    },

    // MERGE enrichment (cf. the category write-back UPDATE,
    // data_seoul_1_category.py:80-83): updates win where matched, other
    // rows pass through.
    QueryDef(
      "q_enrich_merge",
      Some("""SELECT c.c_custkey,
                     coalesce(u.new_segment, c.c_mktsegment) AS segment
              FROM customer c
              LEFT JOIN (SELECT c_custkey, 'PREMIUM' AS new_segment
                         FROM customer WHERE c_acctbal > 9000.0) u
                ON c.c_custkey = u.c_custkey
              ORDER BY c.c_custkey""")) { (s, d) =>
      val customer = Tables.customer(s, d)
      val updates = customer
        .filter(col("c_acctbal") > 9000.0)
        .select(col("c_custkey"), lit("PREMIUM").as("c_mktsegment"))
      Enrich.merge(customer, updates, "c_custkey", Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        .orderBy("c_custkey")
    },

    // Audit bookkeeping row (cf. DATA_INSERTED_YN/DATA_INSERT_ROW update,
    // data_seoul_2_csv_noopenapi.py:133-140). The timestamp itself is
    // nondeterministic, so the checked output proves its presence only.
    QueryDef(
      "q_audit_row",
      Some("""SELECT 'lineitem' AS table_name, 'Y' AS data_inserted_yn,
                     (now() IS NOT NULL) AS ts_ok,
                     CAST(count(*) AS BIGINT) AS data_insert_row,
                     CAST(max(l_orderkey) AS BIGINT) AS high_water_mark,
                     CAST(0 AS BIGINT) AS data_quarantine_row
              FROM lineitem""")) { (s, d) =>
      Audit.record(s, "lineitem",
          Tables.lineitem(s, d).withColumn("id", col("l_orderkey")))
        .select(
          col("table_name"), col("data_inserted_yn"),
          col("data_insert_date").isNotNull.as("ts_ok"),
          col("data_insert_row"), col("high_water_mark"),
          col("data_quarantine_row"))
    },

    // Z-order clustering key (Layout.zValue2): bucketize two dimensions
    // into 16-bit ranks with integer-exact arithmetic (bounds from a tiny
    // broadcast agg — the whole thing is ONE declarative plan), then
    // interleave the bits. Sorting by this key is what Layout.zorderWrite
    // does before writing; the spec (LayoutSpec) proves the resulting
    // files cluster BOTH dimensions. The z arithmetic itself is exact
    // integer math, so it oracle-checks bit-for-bit in DuckDB.
    QueryDef(
      "q_layout_zorder",
      Some("""WITH b AS (SELECT min(l_partkey) AS minx, max(l_partkey) AS maxx,
                                min(l_suppkey) AS miny, max(l_suppkey) AS maxy
                         FROM lineitem),
              z AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                           ((l_partkey - minx) * 65536) // (maxx - minx + 1) AS bx,
                           ((l_suppkey - miny) * 65536) // (maxy - miny + 1) AS by
                    FROM lineitem, b)
              SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                     CAST(list_sum(list_transform(generate_series(0, 15), bb ->
                       (((bx >> bb) & 1) << (2 * bb)) +
                       (((by >> bb) & 1) << (2 * bb + 1)))) AS BIGINT) AS zv
              FROM z
              ORDER BY zv, l_orderkey, l_linenumber, l_partkey, l_suppkey
              LIMIT 5000""")) { (s, d) =>
      import graft.operators.Layout
      val bounds = Tables.lineitem(s, d).agg(
        min("l_partkey").as("minx"), max("l_partkey").as("maxx"),
        min("l_suppkey").as("miny"), max("l_suppkey").as("maxy"))
      Tables.lineitem(s, d)
        .crossJoin(broadcast(bounds))
        .withColumn("bx", expr("((l_partkey - minx) * 65536) div (maxx - minx + 1)"))
        .withColumn("by", expr("((l_suppkey - miny) * 65536) div (maxy - miny + 1)"))
        .withColumn("zv", Layout.zValue2(col("bx"), col("by"), 16))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "zv")
        .orderBy("zv", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .limit(5000)
    },

    // JDBC round trip (sources/Jdbc): nation is batch-written to an
    // embedded Derby database (Spark's bundled metastore engine — the
    // offline stand-in for the reference's RDBMS), then read back as a
    // range-partitioned JDBC scan (MIN/MAX probe + 4 parallel range
    // queries) and aggregated. The oracle is the same aggregate over the
    // parquet nation table, so a hash match proves the sink wrote every
    // row faithfully and the partitioned source lost/duplicated none at
    // the range seams. Spark's JDBC writer quotes the column DDL, so
    // names come back in their original lowercase.
    QueryDef(
      "q_jdbc_roundtrip",
      Some("""SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
                     min(n_name) AS first_name,
                     CAST(sum(n_nationkey) AS BIGINT) AS key_sum
              FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")) { (s, d) =>
      val url = s"jdbc:derby:memory:graft_${Integer.toHexString(d.hashCode)};create=true"
      val driver = Some("org.apache.derby.jdbc.EmbeddedDriver")
      // the sink load runs once per session, inside the first timed run
      Tables.once("jdbc", s, (url, "nation_rt")) {
        Jdbc.write(
          Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey"),
          url, "nation_rt", driver = driver,
          // Derby maps StringType to CLOB by default, which cannot be
          // compared/aggregated — pin a comparable type for the name column
          columnTypes = Some("n_name VARCHAR(64)"))
      }
      Jdbc.readPartitioned(s, url, "nation_rt", "n_nationkey", 4, driver)
        .groupBy("n_regionkey")
        .agg(
          count(lit(1)).as("n_nations"),
          min("n_name").as("first_name"),
          sum("n_nationkey").as("key_sum"))
        .orderBy("n_regionkey")
    },

    // JSON-lines sink round-trip: write orders as JSON, read it back with
    // the explicit schema, aggregate — the oracle is the same aggregate
    // over the original parquet, so a hash match proves the text sink
    // serialized every row faithfully (timestamps through ISO-8601,
    // doubles through shortest-round-trip) and the source parsed them
    // back losslessly. Closes the sink matrix next to the parquet layout
    // writers and the JDBC round-trip.
    QueryDef(
      "q_sink_json",
      Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                     ${Num.oracleRound2("sum(o_totalprice)")} AS sum_price,
                     strftime(min(o_orderdate), '%Y-%m-%d') AS first_day,
                     strftime(max(o_orderdate), '%Y-%m-%d') AS last_day
              FROM orders GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")) { (s, d) =>
      val path = s"/tmp/graft_json_rt_${Tables.dirTag(d)}"
      Tables.cleanupOnExit(path)
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
      src.write.mode("overwrite").json(path)
      s.read.schema(src.schema).json(path)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          Num.round2(sum("o_totalprice")).as("sum_price"),
          date_format(min("o_orderdate"), "yyyy-MM-dd").as("first_day"),
          date_format(max("o_orderdate"), "yyyy-MM-dd").as("last_day"))
        .orderBy("o_orderpriority")
    },

    // Schema-evolution read: a table whose early partitions predate a
    // column (gen=1 has no event_type; gen=2 added it) read as ONE frame
    // via mergeSchema — the schema-drift reality of any multi-year
    // partitioned warehouse table. Missing columns surface as NULL, so
    // the audit (rows, typed rows, distinct types per generation) is pure
    // arithmetic over the source events — the oracle derives it from
    // first principles and the Spark side must reproduce it from the
    // ACTUAL merged read. Footer merging at scale is a metadata
    // operation (schema from footers, not data).
    QueryDef(
      "q_schema_evolve",
      Some("""SELECT gen, CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(sum(CASE WHEN gen = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_typed,
                     CAST(count(DISTINCT CASE WHEN gen = 2 THEN event_type END) AS BIGINT) AS n_types
              FROM (SELECT CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS gen,
                           event_type
                    FROM events)
              GROUP BY gen ORDER BY gen""")) { (s, d) =>
      val path = Tables.evolvedEvents(s, d)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("gen").cast("long").as("gen"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("event_type").isNotNull, 1).otherwise(0))
            .cast("long").as("n_typed"),
          countDistinct("event_type").as("n_types"))
        .orderBy("gen")
    }
  )
}
