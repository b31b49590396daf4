package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured AQE-vs-salting comparison for the q_join_skew shape — turns
  * the salting default into a recorded choice instead of a guess.
  *
  * Runs a hot-key fact-dim join three ways at SPARK_GRAFT_SF_DIR with
  * broadcast disabled (simulating a dim too large to broadcast — the
  * only setting where the question exists):
  *   plain_noaqe — shuffled join, AQE skew split OFF (the problem)
  *   plain_aqe   — shuffled join, AQE skew split ON (tuned thresholds:
  *                 local data is smaller than the 256 MB default trigger;
  *                 at cluster scale the defaults play the same role)
  *   salted      — Joins.saltedJoin with 8 salts (static mitigation)
  * Prints one JSON line with min-across-runs seconds per variant.
  *
  * SPARK_GRAFT_HOT_PCT (default 30) sets the share of fact rows landing
  * on the single hot key, assigned by a deterministic event_id hash so
  * the share is exact-in-expectation at any scale (30 is a genuinely hot
  * key at 100x; 85 reproduces the SCALE_r12.json shape).
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/scale100x SPARK_GRAFT_SHUFFLE=1024 \
  *     SPARK_GRAFT_HOT_PCT=30 tools/jrun.sh graft.tools.SkewBench
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = graft.Tables.session(logLevel = "ERROR", conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB"))
    val shuffle = spark.sessionState.conf.numShufflePartitions

    val hotPct = sys.env.getOrElse("SPARK_GRAFT_HOT_PCT", "30").toInt
    def fact: DataFrame = graft.Tables.events(spark, sfDir)
      .withColumn("nkey",
        when(pmod(xxhash64(col("event_id")), lit(100)) < hotPct, lit(0L))
          .otherwise(col("user_id") % 25))
    def dim: DataFrame = graft.Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("long").as("nkey"), col("n_name"))

    def agg(joined: DataFrame): DataFrame =
      joined.groupBy("n_name")
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def best(label: String, skewJoin: Boolean)(build: => DataFrame): (String, Double) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      val t = (1 to runs).map(_ => time(agg(build).collect())).min
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      label -> t
    }

    val results = Seq(
      best("plain_noaqe", skewJoin = false)(fact.join(dim, Seq("nkey"))),
      best("plain_aqe", skewJoin = true)(fact.join(dim, Seq("nkey"))),
      best("salted", skewJoin = true)(
        graft.operators.Joins.saltedJoin(
          fact, dim, "nkey", salts = 8, saltSource = col("event_id"))))
    val js = results.map { case (k, v) => s""""$k": ${f"$v%.3f"}""" }.mkString(", ")
    println(s"""{"metric": "skew_bench", "sf_dir": "$sfDir", "shuffle": $shuffle, "hot_pct": $hotPct, $js}""")
    spark.stop()
  }
}
