package graft

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproxTopK
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of Spark's built-in frequent-items sketch (DataSketches
  * ItemsSketch behind approx_top_k_accumulate/_estimate), which q_agg_heavy
  * relies on: a sketch tracking `tracked` items has hash map size M, every
  * reported count is an UPPER bound within [true, true + 3.5·n/M], and
  * every item with true count above 2·3.5·n/M is reported. The exact
  * bounded-buffer top-k (graft.functions.TopK) is checked here too. */
class FrequentItemsSpec extends AnyFunSuite with SparkTest {

  // skewed stream: "hot" 40%, "warm" 20%, the rest spread over 100 cold keys
  private def stream = {
    import spark.implicits._
    val items =
      Seq.fill(400)("hot") ++ Seq.fill(200)("warm") ++
        (0 until 400).map(i => s"cold${i % 100}")
    // deterministic shuffle so hot items interleave across partitions
    items.zipWithIndex.sortBy { case (s, i) => (i * 2654435761L) % 1000003 }
      .map(_._1).toDF("item").repartition(7)
  }

  private def accumulate(tracked: Int): Column =
    call_function("approx_top_k_accumulate", col("item"), lit(tracked))

  /** Every item the sketch reports, as (item, count) rows. */
  private def topK(tracked: Int): Column =
    call_function("approx_top_k_estimate", accumulate(tracked), lit(tracked))

  /** The a-priori error bound 3.5·n/M of a sketch tracking `tracked` items. */
  private def apriori(tracked: Int, n: Long): Double =
    ItemsSketch.getAprioriError(ApproxTopK.calMaxMapSize(tracked), n)

  test("frequent items: every estimate is within [true, true + 3.5n/M]") {
    val tracked = 10
    val sketch = stream.agg(topK(tracked).as("hh")).select(inline(col("hh")))
    val exact = stream.groupBy("item").agg(count(lit(1)).as("n_true"))
    val n = stream.count()
    // the bound is exercised: 102 distinct items overflow the map, so the
    // merged sketch has purged and its counts carry a nonzero error
    val state = stream.agg(accumulate(tracked).as("s")).collect()(0)
      .getStruct(0).getAs[Array[Byte]]("sketch")
    val purged = ItemsSketch.getInstance(Memory.wrap(state), new ArrayOfStringsSerDe)
    assert(purged.getMaximumError > 0 && purged.getMaximumError <= apriori(tracked, n))
    val joined = sketch.join(exact, "item").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (est, t) = (r.getAs[Long]("count"), r.getAs[Long]("n_true"))
      assert(est >= t, s"${r.getString(0)}: est $est < true $t")
      assert(est - t <= apriori(tracked, n), s"${r.getString(0)}: est $est too far above $t")
    }
  }

  test("frequent items: items above 2 * 3.5n/M are guaranteed present") {
    val tracked = 48
    val n = stream.count()
    val sketch = stream.agg(topK(tracked).as("hh")).select(inline(col("hh")))
      .collect().map(_.getString(0)).toSet
    // hot (400) and warm (200) are both > 2 * 3.5 * 1000/64 = 109
    assert(sketch.contains("hot"))
    assert(sketch.contains("warm"))
    assert(2 * apriori(tracked, n) < 200)
  }

  test("frequent items: grouped sketches stay within the per-group bound") {
    import spark.implicits._
    val tracked = 8
    val df = (Seq.fill(60)(("a", "x")) ++ Seq.fill(30)(("a", "y")) ++
      (0 until 30).map(i => ("a", s"z$i")) ++
      Seq.fill(50)(("b", "p")) ++ (0 until 10).map(i => ("b", s"q$i")))
      .toDF("g", "item").repartition(5)
    val sketches = df.groupBy("g")
      .agg(topK(tracked).as("hh"))
      .select(col("g"), inline(col("hh")))
    val exact = df.groupBy("g", "item").agg(count(lit(1)).as("n_true"))
    val totals = df.groupBy("g").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sketches.join(exact, Seq("g", "item")).collect().foreach { r =>
      val (g, est, t) = (r.getString(0), r.getAs[Long]("count"), r.getAs[Long]("n_true"))
      assert(est >= t && est - t <= apriori(tracked, totals(g)), s"$g/${r.getString(1)}")
    }
    // dominant items of each group guaranteed present
    // (60 > 2 * 3.5 * 120/16, 50 > 2 * 3.5 * 60/16)
    val present = sketches.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(present.contains(("a", "x")))
    assert(present.contains(("b", "p")))
  }

  test("bounded-buffer top-k equals the window formulation exactly") {
    import spark.implicits._
    import graft.functions.TopK
    import org.apache.spark.sql.expressions.Window
    // 40 groups x 60 distinct keys with duplicate counts and ties
    val counts = (0 until 2400).map { i =>
      (s"g${i % 40}", s"k${i % 60}", (i * 7 % 13 + 1).toLong)
    }.toDF("g", "key", "n").repartition(7)
    val viaUdaf = counts.groupBy("g")
      .agg(TopK.column(5)(col("key"), col("n")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("g"), col("e._1").as("key"), col("e._2").as("n"),
        (col("pos") + 1).as("rn"))
      .orderBy("g", "rn").collect().toSeq
    val w = Window.partitionBy("g").orderBy(col("n").desc, col("key"))
    val viaWindow = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select("g", "key", "n", "rn")
      .orderBy("g", "rn").collect().toSeq
    assert(viaUdaf == viaWindow)
  }
}
