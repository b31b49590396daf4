package graft.sources

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema inference from documentation pages — SURVEY.md §3 Entry 3.
  *
  * The reference scrapes an OpenAPI doc page and walks its output-column
  * table in stride 3 (cell index % 3 == 0 → new column row), skipping rows
  * whose category cell is 공통 ("common"), emitting (ordinal, english name,
  * korean name) and the generic physical name COL_nnn
  * (data_seoul_3_csv.py:127-146). The logical table name is derived
  * camelCase → SNAKE_CASE (:110-111).
  *
  * Spark-native: the page's table cells arrive as one array column per page
  * (the driver-side fetch is out of engine scope — zero egress); the walk is
  * a higher-order-function projection, and the result is a schema DataFrame
  * feeding CatalogSchema. The only collect() is the schema rows themselves.
  */
object SchemaInfer {

  /** From (page_id, cells: array<string>) — cells being the flattened
    * 3-column doc table (category, english, korean per row) — to one row
    * per inferred column: (page_id, ordinal, english, korean, col_name).
    * Rows whose category is 공통 are metadata shared by every dataset and
    * are skipped, exactly as the reference does; so are rows whose
    * category cell is NULL.
    *
    * Numbering is per input row: the kept columns of one row are numbered
    * 1, 2, ... in cell order, inside a projection (no window, no
    * exchange). Two input rows with the same `page_id` are two pages and
    * are numbered separately. */
  def inferColumns(pages: DataFrame, skipCategory: String = "공통"): DataFrame = {
    val triples = transform(
      sequence(lit(0), (size(col("cells")) / 3).cast("int") - 1),
      i => struct(
        element_at(col("cells"), i * 3 + 1).as("category"),
        element_at(col("cells"), i * 3 + 2).as("english"),
        element_at(col("cells"), i * 3 + 3).as("korean")))
    pages
      .select(col("page_id"),
        posexplode(filter(triples, t => t("category") =!= skipCategory))
          .as(Seq("pos", "t")))
      .withColumn("ordinal", (col("pos") + 1).cast("long"))
      .select(
        col("page_id"),
        col("ordinal"),
        col("t.english").as("english"),
        col("t.korean").as("korean"),
        TextFunctions.paddedName("COL_", col("ordinal"), 3).as("col_name"))
  }

  /** The reference's logical table naming: sample name camelCase → SNAKE
    * (data_seoul_3_csv.py:110-111). */
  def logicalTableName(sampleName: org.apache.spark.sql.Column) =
    TextFunctions.camelToSnake(sampleName)
}
