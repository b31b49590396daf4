package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Squared L2 norm of an `array<double>` vector as a native fused loop —
  * the zero-norm guard (`l2Norm(v) > 0`) every similarity operator runs
  * over the full corpus before bucketing ran as an interpreted
  * aggregate-over-zip_with pass per plan branch. Same left-to-right
  * accumulation order as the HOF fold, so `sqrt` of this value is
  * bit-identical to the old l2Norm (ExpressionSpec). NULL in -> NULL out;
  * per-element NULLs are outside the contract (dense vectors only, as
  * [[SrpBucket]]/[[Int8Codes]]).
  */
case class NormSq(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm_sq"
  // analysis-time input contract: a mistyped child fails at analysis on
  // both eval paths
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.catalogString}")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override protected def nullSafeEval(v: Any): Any =
    NormSq.normSq(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NormSq.normSq($c)")
}

object NormSq {
  def normSq(v: ArrayData): Double = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = v.getDouble(i)
      s += x * x
      i += 1
    }
    s
  }
}
