package graft.functions

import graft.expressions.MinHashSignature
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed MinHash aggregator — SURVEY.md §2.4/§7.4 (the one custom UDAF the
  * engine genuinely needs beyond built-ins).
  *
  * Folds token hashes into a k-component MinHash signature ACROSS ROWS of a
  * group — the grouped counterpart of MinHash.signature (which is per-row).
  * Use case: a multi-row entity (a document split into chunks, a user's
  * event history) gets one signature without first collect_list-ing its
  * tokens into one giant array.
  *
  * The buffer is a fixed k-length array of mins — constant size per group,
  * merge is element-wise min — so partial aggregation is map-side and the
  * shuffle carries k longs per group regardless of group cardinality.
  */
class MinHashAggregator(k: Int)
    extends Aggregator[Seq[String], Array[Long], Seq[Long]] {

  /** The md5 Carter–Wegman maps of MinHash.signature
    * (graft.functions.Portable), so grouped and per-row signatures are
    * comparable and the DuckDB oracle replays both. */
  @transient private lazy val as: Array[Long] = Array.tabulate(k)(Portable.a)
  @transient private lazy val bs: Array[Long] = Array.tabulate(k)(Portable.b)

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  /** One md5 per token; NULL tokens are skipped, as in MinHash.signature. */
  override def reduce(buf: Array[Long], tokens: Seq[String]): Array[Long] = {
    tokens.foreach { t =>
      if (t != null) MinHashSignature.minInto(buf, Portable.h48Jvm(t), as, bs)
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < k) { a(j) = math.min(a(j), b(j)); j += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

object MinHashAggregator {
  /** Column form, registered over a token-array column via udaf(). */
  def column(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(
      new MinHashAggregator(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]())
}
