package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for aggregations — SURVEY.md §4.2's 100 TB rules
  * ("skewed keys → salting or AQE skew-join"). AQE's skew-join splitting
  * covers sort-merge joins, and `Joins.saltedJoin` is the explicit join
  * fallback; an aggregation over a hot key has no AQE remedy, so it is
  * salted here. A pure plan rewrite — no data assumptions beyond the salt
  * factor.
  */
object Skew {

  /** Two-phase salted aggregation for a hot group key: partial aggregate on
    * (key, salt), then final aggregate on key. `partial` and `fin` express
    * the decomposition (e.g. sum/sum, count/sum). */
  def saltedAgg(
      df: DataFrame,
      key: String,
      saltFactor: Int,
      partial: Column => Column,
      valueCol: String,
      fin: Column => Column): DataFrame =
    df.withColumn("__salt", (rand(seed = 42) * saltFactor).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(partial(col(valueCol)).as("__partial"))
      .groupBy(col(key))
      .agg(fin(col("__partial")).as(s"${valueCol}_agg"))
}
