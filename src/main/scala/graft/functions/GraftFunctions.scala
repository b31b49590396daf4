package graft.functions

import org.apache.spark.sql.SparkSession

/** Session-level SQL registration for the typed UDAFs.
  *
  * `GraftExtensions` covers the custom scalar expressions (extensions can
  * only inject `Expression`s); aggregators built with `udaf()` register
  * through the session's UDF registry instead. Parameters (k) are baked
  * into each registered name because SQL function resolution happens
  * before literals are known to the encoder-based UDAF bridge.
  *
  * Frequent items and mergeable quantiles need no registration: Spark's
  * built-in `approx_top_k_accumulate`/`approx_top_k_estimate` and
  * `kll_sketch_agg_double`/`kll_merge_agg_double`/
  * `kll_sketch_get_quantile_double` are plain SQL.
  */
object GraftFunctions {

  def registerAll(spark: SparkSession): Unit = {
    // grouped MinHash signature over token arrays (16 components)
    spark.udf.register("graft_minhash_agg", MinHashAggregator.column(16))
    // bounded-buffer grouped top-3 over (key, value) pairs
    spark.udf.register("graft_top3", TopK.column(3))
  }
}
