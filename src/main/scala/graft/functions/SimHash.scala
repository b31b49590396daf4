package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, lit}

/** SimHash fingerprints — SURVEY.md §2.10 (near-dup family).
  *
  * 63-bit SimHash on the md5 family (graft.functions.Portable): each token
  * votes ±1 per bit position of its md5 head; the fingerprint sets bit j
  * when the vote sum is positive.
  */
object SimHash {

  /** 63-bit SimHash (bigint) of a token array column, one native kernel per
    * row (graft.expressions.SimHash64). The fingerprint is per ROW: a
    * caller that wants one per id passes one row per id (q_dedup_simhash
    * does: `documents.doc_id` is unique). A NULL array gives 0, like an
    * empty one; SQL `graft_simhash(NULL)` stays NULL. */
  def simhash(tokens: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    coalesce(column(graft.expressions.SimHash64(expression(tokens))), lit(0L))
  }
}
