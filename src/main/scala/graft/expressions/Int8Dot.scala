package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Integer dot product of two `array<byte>` int8 code columns as a native
  * Catalyst expression — the hot loop of the quantized pre-score gate
  * (Similarity.nnDescentRound prescoreFactor / quantRerankTopK's coarse
  * scan). Same rationale as [[CosineSimilarity]]: the HOF formulation
  * (aggregate over zip_with with per-element casts) materializes an
  * intermediate array per ROW on the interpreted path — measured 4-6x
  * end-to-end regression when it replaced the codegen cosine on the 100x
  * nndescent candidate exchange. One fused JVM accumulation loop
  * ([[Int8Dot.dot]]) serves both the interpreted and the generated path.
  *
  * Semantics: sum over min(len) of a[i]*b[i] in left-to-right order,
  * every product exact in Long (|code| <= 127, so dim * 127^2 is far
  * inside Long — and inside double's 2^53 integer range, which keeps the
  * DuckDB oracle's list_sum arithmetic bit-identical).
  */
case class Int8Dot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_int8_dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Int8Dot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.Int8Dot.dot($a, $b)")
}

object Int8Dot {
  def dot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += x.getByte(i).toLong * y.getByte(i).toLong
      i += 1
    }
    s
  }
}
