package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Catalog-driven dynamic schemas — SURVEY.md §1.3, §1.5.
  *
  * The reference stores each dataset's schema as rows in
  * `MANAGE_PHYSICAL_COLUMN` (name/type/order; data_seoul_2_csv_noopenapi
  * .py:89-92) and applies it at ingest time. Here the same catalog rows
  * become a `StructType`. The only driver-side materialization is the
  * schema rows themselves — bounded by column count, never by data size,
  * which is the one collect() the 100 TB rules allow (SURVEY §4.2).
  */
object CatalogSchema {

  /** Reference physical type → Spark type. The reference defers typing to
    * the database (`PHYSICAL_COLUMN_TYPE` carried but never consulted in
    * Python); we map the Tibero-ish names explicitly and read everything
    * else as string (cast stage applies later, ANSI mode for loud
    * failures). */
  def toDataType(physicalType: String): DataType =
    physicalType.trim.toUpperCase.takeWhile(c => c.isLetter) match {
      case "NUMBER" | "INT" | "INTEGER" | "BIGINT" => LongType
      case "FLOAT" | "DOUBLE" | "REAL"             => DoubleType
      case "DATE" | "TIMESTAMP" | "DATETIME"       => TimestampType
      case _                                       => StringType
    }

  /** Build a StructType from MANAGE_PHYSICAL_COLUMN-shaped rows:
    * (physical_column_name, physical_column_type, physical_column_order). */
  def fromRows(catalogRows: DataFrame): StructType = {
    val cols = catalogRows
      .select("physical_column_name", "physical_column_type", "physical_column_order")
      .collect()
      .sortBy(_.getAs[Any]("physical_column_order").toString.toInt)
    StructType(cols.map { r =>
      StructField(
        r.getAs[String]("physical_column_name"),
        toDataType(r.getAs[String]("physical_column_type")),
        nullable = true)
    })
  }
}
