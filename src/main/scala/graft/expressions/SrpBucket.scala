package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** nBits-bit signed-random-projection bucket id of an `array<double>`
  * vector — the corpus-scan hot loop of every SRP-LSH operator
  * (Similarity.srpBucket feeds knnGraph / lshBucketJoin / bucketTable /
  * the embedding ingest sink). The previous formulation evaluated nBits
  * separate `aggregate(zip_with(vec, plane))` trees per row — nBits
  * interpreted HOF passes each allocating an intermediate array (the
  * same pathology [[CosineSimilarity]] and [[Int8Dot]] replaced). Here
  * the hyperplane signs ride as one plan constant (bounded nBits×dim
  * driver state) and both eval paths run a single fused loop.
  *
  * Semantics are bit-identical to the HOF form, INCLUDING the degenerate
  * inputs: per bit j the dot is a left fold over ascending i (exactly
  * `aggregate`'s order), the sign test is `dot > 0`, the bucket is the
  * OR of `1L << j`; a NULL vector maps to bucket 0L (the per-bit
  * `when(...).otherwise(0L)` swallowed the null), and a vector whose
  * length differs from the plane dimension ALSO maps to 0L (zip_with's
  * null-padding nulled every plane's dot). So every SRP-bucket oracle
  * replays unchanged, and — load-bearing for plan shape — the output is
  * NON-nullable like the old fold: Catalyst cannot infer an
  * `isnotnull(graft_srp_bucket(v))` join-key filter, which would push
  * asymmetrically into lshBucketJoin/knnGraph's probe-vs-plain branches
  * and break their single-corpus-exchange ReuseExchange contract
  * (ExchangeReuseSpec: one corpus exchange for lshBucketJoin(multiProbe)).
  */
case class SrpBucket(child: Expression, signs: Array[Array[Double]])
    extends UnaryExpression {

  require(signs.nonEmpty && signs.length <= 63)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_srp_bucket"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // case-class equality on Array is reference equality; planes built by two
  // independent srpBucket calls with identical dials must still compare
  // semantically equal or ReuseExchange/subexpression-elim lose them.
  override def equals(other: Any): Boolean = other match {
    case SrpBucket(c, s) =>
      c == child && java.util.Arrays.deepEquals(
        s.asInstanceOf[Array[AnyRef]], signs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(signs.asInstanceOf[Array[AnyRef]])

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else SrpBucket.bucket(v.asInstanceOf[ArrayData], signs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("signs", signs, "double[][]")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        long ${ev.value} = ${c.isNull}
          ? 0L : graft.expressions.SrpBucket.bucket(${c.value}, $s);
      """,
      isNull = FalseLiteral)
  }
}

object SrpBucket {
  /** Shared by interpreted eval and codegen: one pass per hyperplane,
    * zero allocation. O(nBits·dim) per row; 0L on plane/vector length
    * mismatch (see class doc — matches zip_with null-padding). */
  def bucket(v: ArrayData, signs: Array[Array[Double]]): Long = {
    if (v.numElements() != signs(0).length) return 0L
    var b = 0L
    var j = 0
    while (j < signs.length) {
      val row = signs(j)
      var dot = 0.0
      var i = 0
      while (i < row.length) {
        dot += v.getDouble(i) * row(i)
        i += 1
      }
      if (dot > 0) b |= (1L << j)
      j += 1
    }
    b
  }
}
