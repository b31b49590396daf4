package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry returns rows; every oracle key has a query;
  * a sample of queries executes at sf0.001. */
class EntrySpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"

  test("entry (flagship TPC-H Q1 shape) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key is backed by a registered query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("query names are unique in the registry") {
    val names = Registry.defs.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("q_agg_approx: HLL estimate within tolerance of exact distinct per group") {
    import org.apache.spark.sql.functions._
    // approx_count_distinct's default rsd is 0.05; HLL++ error is
    // probabilistic but deterministic for fixed data, so 3*rsd is a
    // stable, non-flaky band at any sf.
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n_exact"))
    val approx = SparkEntry.queries("q_agg_approx")(spark, sf)
    val joined = approx.join(exact, "l_returnflag").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val est = r.getAs[Long]("approx_parts").toDouble
      val ex = r.getAs[Long]("n_exact").toDouble
      assert(math.abs(est - ex) / ex <= 0.15,
        s"${r.getString(0)}: approx $est vs exact $ex off by ${math.abs(est - ex) / ex}")
    }
  }

  test("q_agg_wau_sketch: rolling sketch-union estimate tracks the exact WAU per day") {
    // Datasketches HLL at the default lgConfigK has rsd ~1.6%; the band
    // is wide enough to be non-flaky while still proving the sketch
    // rollup computes the same rolling-window semantics as the exact twin.
    val exact = SparkEntry.queries("q_agg_wau")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = SparkEntry.queries("q_agg_wau_sketch")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (day, e) =>
      val ex = exact(day).toDouble
      assert(math.abs(e - ex) / ex <= 0.1,
        s"$day: sketch $e vs exact $ex off by ${math.abs(e - ex) / ex}")
    }
  }

  test("q_agg_quantile_sketch: merged day-sketch percentiles respect the KLL rank bound") {
    import org.apache.spark.sql.functions._
    // KLL (k = 200): a query at rank p returns a value whose TRUE rank is
    // within 1.65%·n at 99% confidence, and merged sketches keep that
    // bound (Spark merges map-side partials the same way); verify in VALUE
    // space by bracketing each estimate between the exact quantiles at
    // p ± 0.03 (rank error + discrete-rank slack on tied/stepped data).
    val eps = 0.03
    val est = SparkEntry.queries("q_agg_quantile_sketch")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val events = Tables.events(spark, sf)
      .select(to_date(date_trunc("DAY", col("ts"))).as("day"), col("value"))
    val days = events.select("day").distinct().orderBy("day")
      .collect().map(_.getDate(0))
    assert(est.size == days.length)
    days.foreach { day =>
      val windowVals = events
        .filter(col("day") > date_sub(lit(day), 7) && col("day") <= lit(day))
        .select("value").collect().map(_.getDouble(0)).sorted
      val n = windowVals.length
      def exactAt(p: Double): Double =
        windowVals(math.min(n - 1, math.max(0, math.ceil(p * n).toInt - 1)))
      val key = new java.text.SimpleDateFormat("yyyy-MM-dd").format(day)
      val (p50, p90, p99) = est(key)
      Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99).foreach { case (p, e) =>
        val lo = exactAt(math.max(0.0, p - eps))
        val hi = exactAt(math.min(1.0, p + eps))
        assert(e >= lo && e <= hi,
          s"$key p=$p: sketch $e outside exact rank band [$lo, $hi] (n=$n)")
      }
    }
  }

  test("quantile day-sketch table survives a parquet round-trip byte-exactly") {
    import org.apache.spark.sql.functions._
    // the 100 TB contract is a STORED day-sketch table: build per-day
    // sketches, persist, read back — each stored sketch must answer as the
    // in-memory one does (the KLL binary is the load-bearing part and must
    // round-trip stable). Answers are compared per day: a merge compacts
    // with DataSketches' unseeded random offsets, so two merges of equal
    // sketches may differ within the rank bound (checked above).
    def probe(df: org.apache.spark.sql.DataFrame) =
      df.select(col("day"), kll_sketch_get_quantile_double(col("sk"),
          array(lit(0.25), lit(0.5), lit(0.9))))
        .collect().map(r => r.getDate(0).toString -> r.getSeq[Double](1)).toMap
    // materialize ONCE: sketch bytes depend on partial-merge order, which
    // Spark does not fix across independent executions — every use below
    // (the write, `direct`, the byte comparison) must read the same
    // materialization or the byte-exact assertions can flake
    val daily = Tables.events(spark, sf)
      .groupBy(to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(kll_sketch_agg_double(col("value")).as("sk"))
      .localCheckpoint(true)
    val path = SparkTest.tempDir("graft-qsketch") + "/daily"
    daily.write.parquet(path)
    val direct = probe(daily)
    val viaDisk = probe(spark.read.parquet(path))
    assert(direct.nonEmpty && viaDisk == direct, s"disk $viaDisk != direct $direct")
    // and the stored bytes themselves are identical per day
    val a = daily.collect().map(r => r.getDate(0).toString ->
      r.getAs[Array[Byte]]("sk").toSeq).toMap
    val b = spark.read.parquet(path).collect().map(r => r.getDate(0).toString ->
      r.getAs[Array[Byte]]("sk").toSeq).toMap
    assert(a == b)
  }

  test("q_pivot gives 0, not NULL, for a pivot value with no rows") {
    val dir = SparkTest.tempDir("graft-pivot-single")
    Tables.orders(spark, sf).filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
      .limit(1).write.parquet(s"$dir/orders.parquet")
    val Array(row) = SparkEntry.queries("q_pivot")(spark, dir).collect()
    assert(row.toSeq.drop(1) == Seq(1L, 0L, 0L), row.toString)
  }

  test("representative queries from each family execute and return rows") {
    val sample = Seq(
      "q_agg_group", "q_join_asof", "q_win_latest", "q_set_except",
      "q_str_snake", "q_json_extract", "q_text_tf", "q_sim_topk",
      "q_stream_session", "q_ingest_resume", "q_scan_csv", "q_dedup_minhash",
      "q_cast_lenient", "q_xml_extract", "q_sample_stratified",
      "q_text_chunks", "q_dedup_clusters", "q_mm_frames")
    sample.foreach { name =>
      val n = SparkEntry.queries(name)(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }
}
