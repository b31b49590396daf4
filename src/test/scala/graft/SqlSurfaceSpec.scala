package graft

import graft.sources.Warehouse
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's plain-SQL face: temp views over the tables + raw
  * spark.sql — a reference user who only writes SQL keeps working. */
class SqlSurfaceSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"

  test("TPC-H Q1 shape runs as raw SQL over registered views") {
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem")
    val rows = spark.sql(
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""").collect()
    assert(rows.length == 6) // 3 returnflags x 2 linestatus
    assert(rows.map(_.getLong(3)).sum == 6000L)
  }

  test("SQL result equals the DataFrame-API result for the same query") {
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    val viaSql = spark.sql(
      """SELECT o_orderpriority, count(*) AS n FROM orders_v
         GROUP BY 1 ORDER BY 1""").collect().toSeq
    val viaDf = Tables.orders(spark, sf)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(viaSql == viaDf)
  }

  test("partitioned sink prunes partitions on read") {
    val dir = SparkTest.tempDir("graft-part")
    val events = Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Warehouse.writePartitioned(events, dir, Seq("day"))
    val firstDay = events.select(min("day")).collect()(0).getString(0)
    val pruned = spark.read.parquet(dir).filter(col("day") === firstDay)
    // partition filter appears as PartitionFilters in the scan, and only
    // that directory's rows are read
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    assert(pruned.count() ==
      events.filter(col("day") === firstDay).count())
  }

  test("typed UDAFs are callable from SQL after GraftFunctions.registerAll") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    (Seq.fill(30)("hot") ++ Seq("a", "b", "c")).toDF("item")
      .createOrReplaceTempView("items_v")
    val hh = spark.sql(
      "SELECT graft_heavy8(item) AS hh FROM items_v")
      .select(explode(col("hh")).as(Seq("item", "est"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh.contains("hot") && hh("hot") >= 30 - 33 / 9)
    val top = spark.sql(
      """SELECT graft_top3(key, n) AS t FROM (
           SELECT item AS key, count(*) AS n FROM items_v GROUP BY item)""")
      .select(explode(col("t")).as("e")).select("e._1").collect()
      .map(_.getString(0)).toSeq
    assert(top.head == "hot" && top.length == 3)
    val sig = spark.sql(
      "SELECT graft_minhash_agg(array('x','y')) AS s FROM items_v LIMIT 1")
      .collect()(0).getSeq[Long](0)
    assert(sig.length == 16 && sig.forall(_ != Long.MaxValue))
    // quantile sketch round-trip through SQL: build per-group sketches,
    // union them, read the median of 1..100 (exact on this small input)
    (1 to 100).map(i => (i % 4, i.toDouble)).toDF("g", "v")
      .createOrReplaceTempView("qs_v")
    val med = spark.sql(
      """SELECT graft_qmerge_p50_90_99(sk) AS q FROM (
           SELECT g, graft_qsketch(v) AS sk FROM qs_v GROUP BY g)""")
      .collect()(0).getSeq[Double](0)
    assert(med.length == 3 && math.abs(med(0) - 50.0) <= 3.0 &&
      math.abs(med(1) - 90.0) <= 3.0, med.mkString(","))
  }
}
