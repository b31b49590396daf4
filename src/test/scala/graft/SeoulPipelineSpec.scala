package graft

import graft.pipeline.SeoulPipeline
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end integration of the reference's three entry points over the
  * miniature catalog fixtures (FIXTURES.md §2). */
class SeoulPipelineSpec extends AnyFunSuite with SparkTest {

  private val fixtureCsv = graft.queries.PipelineQueries.fixtureCsv

  test("entry 1: category enrichment extracts from page text and merges back") {
    import spark.implicits._
    val catalog = Seq(
      (23, "Y", null.asInstanceOf[String], null.asInstanceOf[String]),
      (24, "Y", "기존대분류", "기존소분류"), // already enriched — untouched
      (25, "N", null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("id", "is_collect_yn", "category_big", "category_small")
    val pages = Seq(
      (23, """<div><strong class="side-detail-ctg"> 환경 </strong>
             |<table><td class="cate-s">대기환경</td></table></div>""".stripMargin)
    ).toDF("id", "page_text")

    val out = SeoulPipeline.categoryEnrich(catalog, pages)
      .orderBy("id").collect()
    assert(out(0).getAs[String]("category_big") == "환경")
    assert(out(0).getAs[String]("category_small") == "대기환경")
    assert(out(1).getAs[String]("category_big") == "기존대분류") // untouched
    assert(out(2).getAs[String]("category_big") == null)         // no page
  }

  test("entry 2: catalog-schema csv ingest with resume + audit") {
    import spark.implicits._
    val schemaRows = Seq(
      ("STN_ID", "NUMBER", 1), ("STN_NAME", "VARCHAR2", 2),
      ("MEA_DATE", "DATE", 3), ("MEA_VALUE", "FLOAT", 4)
    ).toDF("physical_column_name", "physical_column_type", "physical_column_order")

    val (typed, audit) = SeoulPipeline.csvIngest(
      spark, datasetId = 23, fixtureCsv, schemaRows, startIdx = 3L)
    assert(typed.count() == 5) // rows 4..8
    assert(typed.schema("STN_ID").dataType.typeName == "long")
    val a = audit.collect()(0)
    assert(a.getAs[String]("table_name") == "NLDATA_000023")
    assert(a.getAs[Long]("data_insert_row") == 5L)
    assert(a.getAs[Long]("high_water_mark") == 8L)
  }

  test("entry 3: inferred doc-page schema drives the same ingest") {
    import spark.implicits._
    val cells = Seq((23L, Seq(
      "공통", "list_total_count", "총 데이터 건수",
      "출력", "STN_ID", "측정소 번호",
      "출력", "STN_NAME", "측정소명",
      "출력", "MEA_DATE", "측정일시",
      "출력", "MEA_VALUE", "측정값"))).toDF("page_id", "cells")

    val (typed, audit) = SeoulPipeline.inferAndIngest(
      spark, datasetId = 23, fixtureCsv, cells, startIdx = 0L)
    assert(typed.columns.toSeq ==
      Seq("STN_ID", "STN_NAME", "MEA_DATE", "MEA_VALUE", "id"))
    assert(typed.count() == 8)
    assert(audit.collect()(0).getAs[Long]("data_insert_row") == 8L)
  }

  test("resume contract across the full pipeline: second run ingests only the delta") {
    import spark.implicits._
    val schemaRows = Seq(("STN_ID", "NUMBER", 1), ("STN_NAME", "VARCHAR2", 2),
      ("MEA_DATE", "DATE", 3), ("MEA_VALUE", "FLOAT", 4)
    ).toDF("physical_column_name", "physical_column_type", "physical_column_order")
    val (first, audit1) = SeoulPipeline.csvIngest(spark, 23, fixtureCsv, schemaRows, 0L)
    val hwm = audit1.collect()(0).getAs[Long]("high_water_mark")
    val (second, _) = SeoulPipeline.csvIngest(spark, 23, fixtureCsv, schemaRows, hwm)
    assert(first.count() == 8 && second.count() == 0) // nothing new → no rows
  }
}
