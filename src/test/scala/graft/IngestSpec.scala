package graft

import graft.sources.{Audit, CatalogSchema, Ingest}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class IngestSpec extends AnyFunSuite with SparkTest {

  private val fixture = graft.queries.PipelineQueries.fixtureCsv

  private def schema: StructType = {
    import spark.implicits._
    CatalogSchema.fromRows(Seq(
      ("STN_ID", "NUMBER", 1),
      ("STN_NAME", "VARCHAR2", 2),
      ("MEA_DATE", "DATE", 3),
      ("MEA_VALUE", "FLOAT", 4)
    ).toDF("physical_column_name", "physical_column_type", "physical_column_order"))
  }

  test("physical type names map to Spark types under any default locale") {
    val table = Seq(
      "number" -> LongType, "int" -> LongType, "integer" -> LongType, "bigint" -> LongType,
      "float" -> DoubleType, "double" -> DoubleType, "real" -> DoubleType,
      "date" -> TimestampType, "timestamp" -> TimestampType, "datetime" -> TimestampType,
      " NUMBER(10) " -> LongType, "varchar2" -> StringType, "" -> StringType)
    Seq("en", "tr").foreach { tag =>
      SparkTest.withDefaultLocale(tag) {
        table.foreach { case (name, t) =>
          assert(CatalogSchema.toDataType(name) == t, s"locale=$tag type=$name")
        }
      }
    }
  }

  test("catalog rows build the typed schema in ordinal order") {
    assert(schema.fieldNames.toSeq ==
      Seq("STN_ID", "STN_NAME", "MEA_DATE", "MEA_VALUE"))
    assert(schema("STN_ID").dataType == LongType)
    assert(schema("STN_NAME").dataType == StringType)
    assert(schema("MEA_DATE").dataType == TimestampType)
    assert(schema("MEA_VALUE").dataType == DoubleType)
  }

  test("surrogate id equals the 1-based data line number") {
    val df = Ingest.csvResume(spark, fixture, schema, startIdx = 0L)
    val ids = df.orderBy("id").select("id", "STN_ID").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(ids.head == (1L, "101"))
    assert(ids.last == (8L, "108"))
    assert(ids.map(_._1).toSeq == (1L to 8L))
  }

  /** A CSV whose first column is each data line's 1-based number. */
  private def numberedCsv(rows: Int): String = {
    val path = s"${SparkTest.tempDir("graft_numbered_")}/data.csv"
    val lines = "N,PAD" +: (1 to rows).map(i => s"$i,${"x" * 40}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
    path
  }

  private val numberedSchema =
    StructType(Seq(StructField("N", LongType), StructField("PAD", StringType)))

  /** Every row's id equals the CSV's own line number; the row count. */
  private def idsMatchLines(df: org.apache.spark.sql.DataFrame): Long = {
    val rows = df.select(col("id"), col("N").cast("long")).collect()
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)))
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to rows.length.toLong))
    rows.length.toLong
  }

  test("one-split CSV: csvResume builds with no Spark job; ids are line numbers") {
    val path = numberedCsv(500)
    val (df, jobs, _) = jobsOf(Ingest.csvResume(spark, path, numberedSchema, 0L))
    assert(jobs == 0)
    assert(df.rdd.getNumPartitions == 1)
    assert(idsMatchLines(df) == 500L)
  }

  test("multi-split CSV: csvResume builds with one shuffle-free job; ids are line numbers") {
    val path = numberedCsv(2000)
    withSQLConf(
        "spark.sql.files.maxPartitionBytes" -> "8192",
        "spark.sql.files.openCostInBytes" -> "0") {
      val (df, jobs, shuffleW) = jobsOf(Ingest.csvResume(spark, path, numberedSchema, 0L))
      assert(jobs == 1)
      assert(shuffleW == 0L)
      val splits = spark.read.option("header", "true").csv(path).rdd.getNumPartitions
      assert(splits >= 3, s"$splits splits")
      assert(idsMatchLines(df) == 2000L)
      assert(idsMatchLines(Ingest.csvResume(spark, path, numberedSchema, 1500L)
        .unionByName(Ingest.csvResume(spark, path, numberedSchema, 0L)
          .filter(col("id") <= 1500L))) == 2000L)
    }
  }

  test("header-only CSV ingests as an empty frame") {
    val path = numberedCsv(0)
    val df = Ingest.csvResume(spark, path, numberedSchema, 0L)
    assert(df.columns.toSeq == Seq("N", "PAD", "id"))
    assert(df.collect().isEmpty)
  }

  test("ZipIndex fails loudly when the input splits unlike its counted partitions") {
    import graft.operators.ZipIndex
    import org.apache.spark.sql.functions.monotonically_increasing_id
    // The count runs on the column-pruned plan, whose narrow shuffle AQE
    // coalesces to fewer partitions than the full plan's padded rows (to
    // one at 400 rows, to two at 4000): no row may be dropped or
    // misnumbered, so the query must fail on both paths.
    withSQLConf(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "16",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384") {
      for ((rows, pruned) <- Seq(400L -> 1, 4000L -> 2)) {
        val df = spark.range(0L, rows, 1L, 4)
          .selectExpr("id", "concat_ws('', transform(sequence(1, 16), " +
            "i -> sha2(cast(id * 100 + i AS string), 256))) AS pad")
          .repartition(col("id"))
        def parts(d: org.apache.spark.sql.DataFrame) = d.queryExecution.toRdd.getNumPartitions
        assert(parts(df.select(monotonically_increasing_id())) == pruned)
        assert(parts(df) > pruned)
        val err = intercept[Exception](ZipIndex.withRowIndex(df, "idx").collect())
        assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
          .exists(e => String.valueOf(e.getMessage).contains("ZipIndex.withRowIndex")), err)
      }
    }
  }

  test("resume skips rows at or below the high-water mark (reference contract)") {
    val resumed = Ingest.csvResume(spark, fixture, schema, startIdx = 5L)
    assert(resumed.select("STN_ID").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("106", "107", "108"))
  }

  test("resume-equivalence: full ingest == prefix ++ resumed remainder") {
    val full = Ingest.csvResume(spark, fixture, schema, 0L)
    val prefix = full.filter(full("id") <= 4)
    val resumed = Ingest.csvResume(spark, fixture, schema, 4L)
    val recombined = prefix.unionByName(resumed)
    assert(recombined.orderBy("id").collect().toSeq ==
      full.orderBy("id").collect().toSeq)
  }

  test("typing stage casts staged strings to catalog types") {
    val typed = Ingest.applyTypes(
      Ingest.csvResume(spark, fixture, schema, 0L), schema)
    assert(typed.schema("STN_ID").dataType == LongType)
    assert(typed.schema("MEA_VALUE").dataType == DoubleType)
    assert(typed.selectExpr("sum(MEA_VALUE)").collect()(0).getDouble(0) > 0)
  }

  test("ZipIndex equals rdd.zipWithIndex on multi-partition input") {
    import graft.operators.ZipIndex
    import spark.implicits._
    // 7 partitions of uneven sizes (range splits 0..998 unevenly over 7),
    // including the empty-partition shape via an id filter
    val df = spark.range(0, 999, 1, 7).toDF("v")
      .filter($"v" % 13 =!= 0)
    val want = df.rdd.zipWithIndex()
      .map { case (r, i) => (r.getLong(0), i) }.collect().toMap
    val got = ZipIndex.withRowIndex(df, "idx")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("ZipIndex.withOrderedIndex is the 0-based dense rank by the key") {
    import graft.operators.ZipIndex
    import spark.implicits._
    val keys = Seq(42L, 7L, 900L, 13L, 5L, 77L, 101L, 64L)
    val df = keys.toDF("k").repartition(5)
    val got = ZipIndex.withOrderedIndex(df, "k", "r")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = keys.sorted.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
    assert(got == want)
  }

  test("withOrderedIndex freezes one shuffle layout: input evaluated once, ranks exact") {
    import graft.operators.ZipIndex
    import org.apache.spark.sql.functions.udf
    import spark.implicits._
    val evals = spark.sparkContext.longAccumulator("zipidx-evals")
    val counted = udf { (x: Long) => evals.add(1L); x }
    val n = 5000L
    val df = spark.range(0L, n, 1L, 13).select(counted($"id").as("k"))
    val got = ZipIndex.withOrderedIndex(df, "k", "r")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n).map(i => i -> i).toMap)
    // one materialization = at most two upstream passes (the range
    // exchange's boundary-sample pass + the shuffle write); before the
    // internal checkpoint, the counts job and the indexed read each re-ran
    // BOTH passes (4x) — and, worse, under RangePartitioner's
    // rdd-id-seeded sampling could freeze DIFFERENT partition boundaries,
    // corrupting ranks at scale
    assert(evals.value <= 2 * n, s"input evaluated ${evals.value} times")
  }

  test("surrogate-id plan stays in the DataFrame engine (no RDD round-trip)") {
    val df = Ingest.csvResume(spark, fixture, schema, 0L)
    val plan = df.queryExecution.executedPlan.toString
    // the old rdd.zipWithIndex round-trip re-entered as `Scan ExistingRDD`,
    // severing codegen/columnar execution from the file scan onwards
    assert(!plan.contains("ExistingRDD"), plan)
    assert(plan.contains("csv"), plan)
  }

  test("audit row records count and high-water mark") {
    val df = Ingest.csvResume(spark, fixture, schema, 0L)
    val audit = Audit.record(spark, "tmp_dataset", df).collect()(0)
    assert(audit.getAs[String]("table_name") == "tmp_dataset")
    assert(audit.getAs[String]("data_inserted_yn") == "Y")
    assert(audit.getAs[Long]("data_insert_row") == 8L)
    assert(audit.getAs[Long]("high_water_mark") == 8L)
    assert(audit.getAs[Long]("data_quarantine_row") == 0L)
  }

  private val corruptFixture = graft.queries.PipelineQueries.corruptCsv

  test("csvQuarantine: planted malformed lines quarantine, clean lines pass untouched") {
    val df = Ingest.csvQuarantine(spark, corruptFixture, schema)
    val bad = df.filter(col(Ingest.CorruptCol).isNotNull)
      .select("STN_ID", Ingest.CorruptCol).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // 103: extra columns; 105: too few; 107: one trailing extra — the raw
    // LINE is preserved verbatim for the quarantine sink
    assert(bad.keySet == Set("103", "105", "107"))
    assert(bad("105") == "105,Gwangjin")
    assert(bad("103").endsWith("EXTRA,JUNK"))
    val clean = df.filter(col(Ingest.CorruptCol).isNull)
    assert(clean.count() == 5)
    // clean rows carry full fields; nothing failed the job
    assert(clean.filter(col("MEA_VALUE").isNull).count() == 0)
    // malformed lines still surface the prefix fields that DID parse
    assert(df.filter(col("STN_ID") === "105").collect()(0)
      .getAs[String]("STN_NAME") == "Gwangjin")
  }

  test("quarantine count lands in the audit row") {
    val staged = Ingest.withSurrogateId(
      Ingest.csvQuarantine(spark, corruptFixture, schema))
    val nBad = staged.filter(col(Ingest.CorruptCol).isNotNull).count()
    val admitted = staged.filter(col(Ingest.CorruptCol).isNull)
    val audit = Audit.record(spark, "tmp_corrupt", admitted, nBad).collect()(0)
    assert(audit.getAs[Long]("data_insert_row") == 5L)
    assert(audit.getAs[Long]("data_quarantine_row") == 3L)
  }
}
