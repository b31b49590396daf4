package graft

import graft.functions.{MinHash, MinHashAggregator, TextFunctions => T}
import graft.sources.SchemaInfer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SchemaInferSpec extends AnyFunSuite with SparkTest {

  test("stride-3 walk skips 공통 rows and emits ordinal/COL_nnn names") {
    import spark.implicits._
    // flattened (category, english, korean) cells, reference shape
    // (data_seoul_3_csv.py:127-146)
    val pages = Seq(
      (23L, Seq(
        "공통", "list_total_count", "총 데이터 건수",
        "출력", "MSRDT", "측정일시",
        "공통", "RESULT.CODE", "요청결과 코드",
        "출력", "MSRSTE_NM", "측정소명",
        "출력", "NO2", "이산화질소농도"))
    ).toDF("page_id", "cells")
    val got = SchemaInfer.inferColumns(pages)
      .orderBy("ordinal")
      .select("ordinal", "english", "korean", "col_name")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (1L, "MSRDT", "측정일시", "COL_001"),
      (2L, "MSRSTE_NM", "측정소명", "COL_002"),
      (3L, "NO2", "이산화질소농도", "COL_003")))
  }

  test("logical table name derives camel→snake like the reference") {
    import spark.implicits._
    val got = Seq("ListAirQualityByDistrictService").toDF("s")
      .select(SchemaInfer.logicalTableName(col("s"))).collect()(0).getString(0)
    assert(got == "LIST_AIR_QUALITY_BY_DISTRICT_SERVICE")
  }

  test("MinHashAggregator matches the native per-row signature on one group") {
    import spark.implicits._
    val toks = Seq("alpha", "beta", "gamma", "delta", "서울", "데이터")
    // grouped JVM path: tokens split across rows, one NULL token skipped
    val grouped = Seq((1L, toks.take(3) :+ null), (1L, toks.drop(3)))
      .toDF("id", "tokens")
      .groupBy("id")
      .agg(MinHashAggregator.column(8)(col("tokens")).as("sig"))
      .select("sig").collect()(0).getSeq[Long](0)
    // per-row native expression over all tokens in one array
    val perRow = Seq(toks).toDF("tokens")
      .select(MinHash.signature(col("tokens"), 8).as("sig"))
      .select("sig").collect()(0).getSeq[Long](0)
    assert(grouped == perRow)
  }

  test("MinHashAggregator skips NULL arrays like NULL elements") {
    import spark.implicits._
    def sig(rows: Seq[(Long, Seq[String])]) =
      rows.toDF("id", "tokens").groupBy("id")
        .agg(MinHashAggregator.column(8)(col("tokens")).as("sig"))
        .select("sig").collect()(0).getSeq[Long](0)
    val mixed = sig(Seq((1L, null), (1L, Seq("x", null, "y")), (1L, null), (1L, Seq("z"))))
    assert(mixed == sig(Seq((1L, Seq("x", "y", "z")))))
    // every array NULL: the all-Long.MaxValue zero, as the oracle's
    // coalesce(s_j, MaxLong) gives for a group without tokens
    assert(sig(Seq((1L, null), (1L, null))) == Seq.fill(8)(Long.MaxValue))
  }

  test("MinHashAggregator signature is order- and split-invariant") {
    import spark.implicits._
    val a = Seq((1L, Seq("x", "y")), (1L, Seq("z")))
    val b = Seq((1L, Seq("z", "x")), (1L, Seq("y")))
    def sig(rows: Seq[(Long, Seq[String])]) =
      rows.toDF("id", "tokens").groupBy("id")
        .agg(MinHashAggregator.column(8)(col("tokens")).as("sig"))
        .select("sig").collect()(0).getSeq[Long](0)
    assert(sig(a) == sig(b))
  }
}
