package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Resumable CSV ingest — SURVEY.md §3 Entry 2, Spark-native.
  *
  * The reference reads a CSV line-by-line, skips the header (`row != 0`),
  * skips until the resume offset (`start_idx <= row`), uses the 1-based
  * line number as the surrogate ID, and INSERTs one row per statement
  * (data_seoul_2_csv_noopenapi.py:113-128). Here the whole loop is one
  * distributed job: schema-applied CSV scan → per-partition surrogate IDs →
  * offset filter → columnar write.
  */
object Ingest {

  /** All-string CSV read under a catalog schema (typing is a later explicit
    * cast stage, mirroring the reference's DB-side coercion). */
  def csvWithSchema(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .schema(StructType(schema.fields.map(_.copy(dataType = StringType))))
      .csv(path)

  /** Attach a contiguous 1-based surrogate `id` column in row order.
    *
    * Scale note (SURVEY §4.2): NOT a global row_number window (single
    * partition = death at 100 TB) and NOT an `rdd.zipWithIndex` round-trip
    * (which deserializes every row and drops codegen/columnar execution
    * for the rest of a wide ingest stage). [[graft.operators.ZipIndex]]
    * numbers rows inside the DataFrame engine in file order, within and
    * across splits: a file that fits one split costs no Spark job before
    * the caller's own action; a multi-split file costs one scan-only job
    * that counts each split's rows, then offset arithmetic.
    */
  def withSurrogateId(df: DataFrame): DataFrame =
    graft.operators.ZipIndex.withRowIndex(df, "id")
      .withColumn("id", col("id") + lit(1L))

  /** The full resumable ingest: read, number, drop rows at or below the
    * high-water mark (`start_idx` = last ingested id). Re-running with the
    * same input yields the same ids — the reference's idempotence contract. */
  def csvResume(
      spark: SparkSession,
      path: String,
      schema: StructType,
      startIdx: Long): DataFrame =
    withSurrogateId(csvWithSchema(spark, path, schema))
      .filter(col("id") > startIdx)

  /** Name of the PERMISSIVE-mode quarantine column (Spark's default). */
  val CorruptCol = "_corrupt_record"

  /** PERMISSIVE staging read with malformed-LINE quarantine — the missing
    * third policy next to [[applyTypes]] (fail the job on a bad VALUE) and
    * [[applyTypesLenient]] (null a bad VALUE): the first thing a real
    * 100 TB CSV ingest hits is lines that don't parse AT ALL (wrong column
    * count, broken quoting), which the typed-cast stages never see. The
    * reference's analog is the DB rejecting an INSERT one row at a time
    * (data_seoul_2_csv_noopenapi.py:122-125); here the scan itself
    * captures each malformed line's RAW text in [[CorruptCol]] (null for
    * clean lines) while still surfacing whatever prefix fields did parse —
    * so the caller can quarantine (`CorruptCol is not null`), count for
    * the audit row, and continue, without a second pass over the file.
    *
    * The staged parse is materialized once (localCheckpoint) before being
    * returned — NOT an optimization hedge but a semantic requirement:
    * Spark's CSV column pruning re-parses the file against only the
    * REFERENCED columns, so a downstream `select(STN_ID, _corrupt_record)`
    * would re-evaluate malformedness against a 1-column schema (a 2-token
    * line suddenly "clean") and a corrupt-only projection is refused
    * outright (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    * Materializing pins the verdicts to the FULL catalog schema. This is
    * also exactly the reference's own shape — it stages every batch into a
    * TMP_<id> table before promotion (data_seoul_2_csv_noopenapi.py:68);
    * at warehouse scale, write the staged frame to that staging table
    * (reliable storage) instead of executor blocks and split from there. */
  def csvQuarantine(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val staged = StructType(
      schema.fields.map(_.copy(dataType = StringType)) :+
        StructField(CorruptCol, StringType))
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(staged)
      .csv(path)
      .localCheckpoint()
  }

  /** Explicit typing stage: cast the all-string staging frame to the
    * catalog types. Spark 4 runs ANSI mode by default, so a malformed value
    * FAILS THE JOB — the loud-failure semantics SURVEY §1.5 calls for at
    * scale (the reference let the DB reject such rows one INSERT at a
    * time). Use [[applyTypesLenient]] for the null-on-bad-value policy and
    * [[csvQuarantine]] for lines that don't parse at all. */
  def applyTypes(staged: DataFrame, schema: StructType): DataFrame =
    staged.select(schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)) :+ col("id"): _*)

  /** Permissive typing: malformed values become NULL (try_cast) instead of
    * failing the job — the quarantine-and-continue ingest policy. */
  def applyTypesLenient(staged: DataFrame, schema: StructType): DataFrame =
    staged.select(schema.fields.toIndexedSeq.map(f =>
      expr(s"try_cast(${f.name} AS ${f.dataType.sql})").as(f.name))
      :+ col("id"): _*)
}
