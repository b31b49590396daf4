package perfbench

import graft.pipeline.SeoulPipeline
import graft.sources.{Audit, CatalogSchema, Ingest, Warehouse}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** The reference's ingest surface over a generated open-data catalog.
  *
  * A pass enriches the catalog (entry 1), then ingests every dataset:
  * catalog-schema CSVs through `csvIngest`, OpenAPI datasets through
  * `inferAndIngest`, and dirty CSVs through `csvQuarantine` plus lenient
  * typing. Each result is written partitioned by ingest batch and audited
  * from what was written. A second batch resumes a subset of datasets from
  * a newer snapshot of their CSV (the original plus appended rows),
  * starting after the audited high-water mark.
  *
  * Input layout (written by perfbench/gen.py): `manifest.tsv` (id, mode,
  * dirty, resume, rows, rows2), `catalog.parquet`, `pages.parquet`,
  * `columns.parquet`, `doc_cells.parquet`, `csv/` and `csv2/`. */
final class SeoulIngest(in: String, out: String) extends Workload {
  import SeoulIngest.Ds

  private var datasets: Seq[Ds] = Nil
  private var catalog, pages, columns, cells: DataFrame = _
  private val audits = mutable.LinkedHashMap.empty[String, Row]

  def prepare(spark: SparkSession): Unit = {
    datasets = scala.io.Source.fromFile(s"$in/manifest.tsv").getLines().drop(1).map { l =>
      val f = l.split("\t")
      Ds(f(0).toInt, f(1), f(2) == "1", f(3) == "1", f(4).toLong, f(5).toLong)
    }.toSeq
    catalog = spark.read.parquet(s"$in/catalog.parquet")
    pages = spark.read.parquet(s"$in/pages.parquet")
    columns = spark.read.parquet(s"$in/columns.parquet")
    cells = spark.read.parquet(s"$in/doc_cells.parquet")
  }

  def pass(spark: SparkSession, tr: Tracer): Pass = {
    audits.clear()
    val ops = mutable.ArrayBuffer.empty[Op]
    ops += Main.op("catalog", "catalog") {
      tr.frame("pipeline.SeoulPipeline.categoryEnrich")(
        SeoulPipeline.categoryEnrich(catalog, pages)) { df =>
        tr.action("sources.Warehouse.writePartitioned")(
          Warehouse.writePartitioned(df, s"$out/catalog", Seq("category_big")))
      }
    }
    for (d <- datasets) ops += ingest(spark, tr, d, batch = 1)
    for (d <- datasets if d.resume) ops += ingest(spark, tr, d, batch = 2)
    Pass(datasets.map(d => d.rows + (if (d.resume) d.rows2 else 0L)).sum, ops.toSeq)
  }

  private def ingest(spark: SparkSession, tr: Tracer, d: Ds, batch: Int): Op =
    Main.op(s"${d.table}:b$batch", "dataset") {
      tr.action("bench.dataset") {
        val path = s"$in/${if (batch == 1) "csv" else "csv2"}/${d.table}.csv"
        val dest = s"$out/${d.table}"
        val start =
          if (batch == 1) 0L
          else Option(audits(d.table).getAs[java.lang.Long]("high_water_mark")).map(_.longValue).getOrElse(0L)
        def write(typed: DataFrame): Unit = tr.action("sources.Warehouse.writePartitioned")(
          Warehouse.writePartitioned(typed.withColumn("ingest_batch", lit(batch)), dest,
            Seq("ingest_batch"), if (batch == 1) SaveMode.Overwrite else SaveMode.Append))
        val quarantined =
          if (d.dirty) {
            val schema = CatalogSchema.fromRows(columnsOf(d.id))
            val (bad, staged) = tr.frame("sources.Ingest.csvQuarantine")(
              Ingest.csvQuarantine(spark, path, schema)) { st =>
              val n = st.filter(col(Ingest.CorruptCol).isNotNull).count()
              tr.rows(n)
              (n, st)
            }
            tr.frame("sources.Ingest.applyTypesLenient")(Ingest.applyTypesLenient(
              Ingest.withSurrogateId(
                staged.filter(col(Ingest.CorruptCol).isNull).drop(Ingest.CorruptCol))
                .filter(col("id") > start), schema))(write)
            bad
          } else {
            if (d.mode == "openapi")
              tr.frame("pipeline.SeoulPipeline.inferAndIngest")(
                SeoulPipeline.inferAndIngest(spark, d.id, path, cellsOf(d.id), start)._1)(write)
            else
              tr.frame("pipeline.SeoulPipeline.csvIngest")(
                SeoulPipeline.csvIngest(spark, d.id, path, columnsOf(d.id), start)._1)(write)
            0L
          }
        audits(d.table) = tr.frame("sources.Audit.record")(
          Audit.record(spark, d.table, spark.read.parquet(dest), quarantined))(_.collect().head)
      }
    }

  private def columnsOf(id: Int): DataFrame = columns.filter(col("dataset_id") === id)

  private def cellsOf(id: Int): DataFrame = cells.filter(col("page_id") === id)

  /** Audit rows and per-column checksums of every written table: non-null
    * count plus the sum of the value (numbers), its length (strings) or its
    * epoch seconds (times). */
  def check(spark: SparkSession): scala.collection.Map[String, Any] = {
    val sums = datasets.map { d =>
      val df = spark.read.parquet(s"$out/${d.table}").drop("ingest_batch")
      val aggs = df.schema.fields.toSeq.flatMap { f =>
        val c = col(f.name)
        val v = f.dataType match {
          case StringType    => length(c).cast("long")
          case TimestampType => unix_seconds(c)
          case _             => c
        }
        Seq(count(c).as(s"${f.name}#n"), sum(v).cast("double").as(s"${f.name}#sum"))
      }
      val r = df.agg(aggs.head, aggs.tail: _*).collect().head
      d.table -> Json.obj(r.schema.fieldNames.toSeq.map(n => n -> r.getAs[Any](n)): _*)
    }
    Json.obj(
      "audits" -> audits.map { case (t, r) =>
        t -> Json.obj(
          "data_insert_row" -> r.getAs[Long]("data_insert_row"),
          "high_water_mark" -> Option(r.getAs[java.lang.Long]("high_water_mark")).map(_.longValue),
          "data_quarantine_row" -> r.getAs[Long]("data_quarantine_row"))
      },
      "checksums" -> Json.obj(sums: _*))
  }
}

object SeoulIngest {
  private final case class Ds(id: Int, mode: String, dirty: Boolean, resume: Boolean,
      rows: Long, rows2: Long) {
    val table: String = f"NLDATA_$id%06d"
  }
}
