package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pre-flight scale probe: manufacture an N-times larger copy of a test
  * scale-factor directory so shapes can be benched beyond the largest
  * generated SF before a cluster ever sees them. Usage:
  *
  *   runMain graft.tools.ScaleUp <srcSfDir> <outDir> <factor>
  *
  * Fact tables are replicated `factor` times with consistent key offsets
  * (custkey/orderkey/partkey/suppkey/event ids shift together, so joins hit
  * exactly as they do in the original); the dimension tables region/nation
  * keep their real-world cardinality. Two tables get more than offsets:
  *
  *  - `documents`: every other token (by position parity, varied per copy)
  *    gets a copy-specific suffix, so replicas of one document are NOT
  *    near-duplicates of each other (pairwise Jaccard <= ~1/3) — a 10x
  *    corpus should carry 10x the near-dup structure, not 45 phantom pairs
  *    per document. In-copy structure (planted dups, lengths, bands) is
  *    preserved.
  *  - `embeddings`: copies beyond the first get fresh deterministic
  *    pseudo-random vectors (hash-mixed per (vec_id, copy, dim)), matching
  *    the random-vector statistics of the source instead of duplicating it.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorStr) = args
    val spark = graft.Tables.session()
    run(spark, srcDir, outDir, factorStr.toInt)
    println(s"""{"scaled": "$outDir", "factor": $factorStr}""")
    spark.stop()
  }

  def run(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    def read(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // copy dims unchanged (their cardinality does not scale with data size)
    Seq("region", "nation").foreach(t => write(read(t), t))

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0) + 1L

    val (cust, supp, part, ords, line, evts) =
      (read("customer"), read("supplier"), read("part"),
        read("orders"), read("lineitem"), read("events"))
    val (cMax, sMax, pMax, oMax, eMax) =
      (maxOf(cust, "c_custkey"), maxOf(supp, "s_suppkey"),
        maxOf(part, "p_partkey"), maxOf(ords, "o_orderkey"),
        maxOf(evts, "event_id"))

    /** Union `factor` copies with per-copy column shifts. */
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until factor).map { c =>
        shifts.foldLeft(df) { case (acc, (k, step)) =>
          acc.withColumn(k, col(k) + lit(c * step))
        }
      }.reduce(_ unionAll _)

    write(replicate(cust, Map("c_custkey" -> cMax)), "customer")
    write(replicate(supp, Map("s_suppkey" -> sMax)), "supplier")
    write(replicate(part, Map("p_partkey" -> pMax)), "part")
    write(replicate(ords, Map("o_orderkey" -> oMax, "o_custkey" -> cMax)), "orders")
    write(replicate(line, Map(
      "l_orderkey" -> oMax, "l_partkey" -> pMax, "l_suppkey" -> sMax)), "lineitem")
    write(replicate(evts, Map("event_id" -> eMax, "user_id" -> cMax)), "events")

    val docs = read("documents")
    val dMax = maxOf(docs, "doc_id")
    val scaledDocs = (0 until factor).map { c =>
      val perturbed =
        if (c == 0) docs
        else {
          val toks = split(col("text"), " ")
          val newText = array_join(
            zip_with(toks, sequence(lit(0), size(toks) - 1),
              (t, i) => when((i + lit(c)) % 2 === 0,
                concat(t, lit("_"), lit(c))).otherwise(t)),
            " ")
          docs.withColumn("text", newText)
            .withColumn("n_chars", length(col("text")))
        }
      perturbed.withColumn("doc_id", col("doc_id") + lit(c * dMax))
    }.reduce(_ unionAll _)
    write(scaledDocs, "documents")

    val emb = read("embeddings")
    val vMax = maxOf(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val scaledEmb = (0 until factor).map { c =>
      val fresh =
        if (c == 0) emb
        else emb.withColumn("embedding",
          array((0 until dim).map { i =>
            (pmod(xxhash64(col("vec_id"), lit(c), lit(i)), lit(100000L))
              .cast("float") / lit(100000.0f)) - lit(0.5f)
          }: _*))
      fresh.withColumn("vec_id", col("vec_id") + lit(c * vMax))
    }.reduce(_ unionAll _)
    write(scaledEmb, "embeddings")
  }
}
