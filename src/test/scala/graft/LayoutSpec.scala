package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite with SparkTest {

  private val sfDir = "/root/testdata/sf0.001"

  test("zorderWrite preserves the exact row multiset") {
    val out = SparkTest.tempDir("graft-zorder") + "/li"
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", out, nFiles = 8)
    val back = spark.read.parquet(out)
    assert(back.count() == li.count())
    assert(li.exceptAll(back).isEmpty && back.exceptAll(li).isEmpty)
  }

  test("z-ordered files cluster BOTH dimensions (range predicate touches few files)") {
    val out = SparkTest.tempDir("graft-zorder") + "/li"
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey")
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", out, nFiles = 8)
    val back = spark.read.parquet(out)
    val total = back.select(input_file_name()).distinct().count()
    assert(total >= 6, s"expected ~8 files, got $total") // range split may merge a couple

    val (minX, maxX) = {
      val r = li.agg(min("l_partkey"), max("l_partkey")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (minY, maxY) = {
      val r = li.agg(min("l_suppkey"), max("l_suppkey")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // bottom-5% range on each dimension: bucketized rank has its top bit
    // (and more) fixed at 0, so the matching z-range is a small fraction
    // of the space — only the files whose z-range intersects it hold rows
    def filesTouched(c: String, lo: Long, hi: Long): Long =
      back.filter(col(c) >= lo && col(c) <= hi)
        .select(input_file_name()).distinct().count()
    val fx = filesTouched("l_partkey", minX, minX + (maxX - minX) / 20)
    val fy = filesTouched("l_suppkey", minY, minY + (maxY - minY) / 20)
    assert(fx < total, s"x-range predicate touched all $total files")
    assert(fy < total, s"y-range predicate touched all $total files")
    assert(fx + fy < 2 * total * 3 / 4,
      s"clustering too weak: fx=$fx fy=$fy of $total files")
  }

  test("zValue2 interleaves bits (known values)") {
    import spark.implicits._
    // x=0b11, y=0b00 -> z=0b0101; x=0b00, y=0b11 -> z=0b1010
    val df = Seq((3L, 0L), (0L, 3L), (3L, 3L), (0L, 0L)).toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y"), 2).as("z"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(5L, 10L, 15L, 0L))
  }

  test("compactExecute rewrites over-target partitions to ceil(n/target) files, " +
    "preserves rows, leaves under-target partitions byte-untouched") {
    import spark.implicits._
    val path = SparkTest.tempDir("graft-compact") + "/t"
    // three partitions: a=250 and b=90 rows fragmented over ~10 files each,
    // c=50 rows in ONE file (already at its target -> must not be rewritten)
    val frag = ((1 to 250).map(i => (i.toLong, "a")) ++
      (1001 to 1090).map(i => (i.toLong, "b"))).toDF("id", "p")
      .repartition(10)
    frag.write.partitionBy("p").parquet(path)
    (2001 to 2050).map(i => (i.toLong, "c")).toDF("id", "p")
      .coalesce(1)
      .write.mode("append").partitionBy("p").parquet(path)

    def files(pv: String): Set[String] = {
      val d = new java.io.File(s"$path/p=$pv")
      d.listFiles.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val (aBefore, bBefore) = (files("a").size, files("b").size)
    assert(aBefore > 3 && bBefore > 1, "fixture must be fragmented")
    val cBefore = files("c")
    val cMtimes = new java.io.File(s"$path/p=c").listFiles
      .map(f => f.getName -> f.lastModified).toMap
    val beforeRows = spark.read.parquet(path)
      .select("id", "p").as[(Long, String)].collect().toSet

    val audit = Layout.compactExecute(spark, path, "p", targetRowsPerFile = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2), r.getInt(3))).toMap

    // file counts: a 250/100 -> 3, b 90/100 -> 1, c untouched at 1
    assert(audit("a") === ((250L, aBefore, 3)))
    assert(audit("b") === ((90L, bBefore, 1)))
    assert(audit("c") === ((50L, 1, 1)))
    assert(files("a").size === 3 && files("b").size === 1)
    // row parity: exact multiset across the whole table
    val afterRows = spark.read.parquet(path)
      .select("id", "p").as[(Long, String)].collect().toSet
    assert(afterRows === beforeRows)
    // sibling partition untouched: same file names, same mtimes
    assert(files("c") === cBefore)
    assert(new java.io.File(s"$path/p=c").listFiles
      .map(f => f.getName -> f.lastModified).toMap === cMtimes)
    // idempotent: a second pass finds nothing over target and changes nothing
    val aAfter = files("a")
    val audit2 = Layout.compactExecute(spark, path, "p", targetRowsPerFile = 100L)
      .collect().map(r => r.getString(0) -> r.getInt(3)).toMap
    assert(audit2 === Map("a" -> 3, "b" -> 1, "c" -> 1))
    assert(files("a") === aAfter)
  }
}
