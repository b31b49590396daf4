package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Cosine similarity of two `array<double>` columns as a native Catalyst
  * expression — SURVEY.md §4.2 item 1, implemented on measured need: the
  * higher-order-function formulation (aggregate over zip_with) runs on
  * Spark's interpreted path, which profiling showed 10–200x slower than
  * tight JVM loops for per-row hot math (see the MinHash notes in
  * graft.functions). One fused JVM loop ([[CosineSimilarity.cosine]]: one
  * pass computes dot, |a|² and |b|²) serves both the interpreted and the
  * generated path.
  *
  * Semantics: sequential left-to-right accumulation, matching both the HOF
  * formulation and the DuckDB oracle arithmetic, so swapping it into an
  * oracle-checked query changes no output bit.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.CosineSimilarity.cosine($a, $b)")
}

object CosineSimilarity {
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}
