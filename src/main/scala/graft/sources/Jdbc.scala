package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC source/sink — the migration seam back to the reference's RDBMS
  * system of record (catalog + per-dataset tables written one INSERT at a
  * time, `/root/reference/data_seoul_2_csv_noopenapi.py:42-49,113-128`).
  *
  * The scan is range-partitioned on a numeric column so the read fans out
  * across executors instead of funneling through one connection — the only
  * JDBC shape that survives large tables. Bounds come from one MIN/MAX
  * probe query (aggregate pushdown: the probe returns a single row, the
  * same bounded-driver-state category as a broadcast). The sink batches
  * INSERTs (`batchsize`) instead of the reference's one-row round trips.
  *
  * Exercised end-to-end against embedded Derby (bundled with Spark as the
  * metastore engine) in JdbcSpec and the oracle-checked `q_jdbc_roundtrip`;
  * against a networked RDBMS only the URL/driver options change.
  */
object Jdbc {

  // Embedded Derby (the offline test engine) writes derby.log into the
  // JVM's cwd unless told otherwise; keep the repo tree clean. No effect
  // on non-Derby URLs.
  System.setProperty("derby.stream.error.file", "/tmp/derby.log")

  // jdbc:tibero: URLs resolve to the Oracle-compatible mapping
  // (sources/TiberoDialect.scala) — registered once, here, so every
  // read/write through this facade sees it.
  TiberoDialect.registered

  private def props(driver: Option[String]): Properties = {
    val p = new Properties()
    driver.foreach(p.setProperty("driver", _))
    p
  }

  /** Batched JDBC write. `columnTypes` overrides Spark's default DDL type
    * mapping (e.g. Derby maps StringType to CLOB, which cannot be grouped
    * or compared — pass "name VARCHAR(64)" style overrides for key/text
    * columns that queries touch). */
  def write(
      df: DataFrame,
      url: String,
      table: String,
      mode: SaveMode = SaveMode.Overwrite,
      driver: Option[String] = None,
      columnTypes: Option[String] = None,
      batchSize: Int = 10000): Unit = {
    val w = df.write.mode(mode)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
    driver.foreach(w.option("driver", _))
    columnTypes.foreach(w.option("createTableColumnTypes", _))
    w.save()
  }

  /** Range-partitioned JDBC read: one MIN/MAX probe on `partCol`, then
    * `numPartitions` parallel remote range scans. Predicates on `partCol`
    * (and any dialect-supported filter) push down into the remote queries. */
  def readPartitioned(
      spark: SparkSession,
      url: String,
      table: String,
      partCol: String,
      numPartitions: Int,
      driver: Option[String] = None): DataFrame = {
    // quote the column: Spark's JDBC writer creates columns quoted (so a
    // lowercase DataFrame name stays lowercase in case-folding engines
    // like Derby), while unquoted identifiers in this probe would fold
    val bounds = spark.read
      .jdbc(url, s"""(SELECT MIN("$partCol") lo, MAX("$partCol") hi FROM $table) b""",
        props(driver))
      .collect()(0)
    // An empty table probes to (NULL, NULL) — there is nothing to range-
    // partition, so fall back to a plain unpartitioned read (correct schema,
    // zero rows) instead of NPEing on the null bound.
    if (bounds.isNullAt(0) || bounds.isNullAt(1)) {
      val r0 = spark.read.format("jdbc").option("url", url).option("dbtable", table)
      driver.foreach(r0.option("driver", _))
      return r0.load()
    }
    val (lo, hi) = (bounds.getAs[Number](0).longValue, bounds.getAs[Number](1).longValue)
    val r = spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partCol)
      .option("lowerBound", lo)
      // upperBound is exclusive only for stride computation; rows at the
      // bound itself still land in the last partition
      .option("upperBound", math.max(hi, lo + 1))
      .option("numPartitions", numPartitions)
    driver.foreach(r.option("driver", _))
    r.load()
  }
}
