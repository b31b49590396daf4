package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** The deterministic high-dim extension components of the dim=768 fixture
  * queries as one native pass: for xi in [fromIdx, untilIdx), element
  *
  *   CAST(((((xi+1)*40503) % 100003) * ((vec_id*2654435761) % 100003 + 1)
  *         + xi*97911) % 100003 AS DOUBLE) / 100003.0 - 0.5
  *
  * — the exact Carter-Wegman-shaped mix of SimilarityQueries.extendDim /
  * PortableSql.extendDimSql, previously spelled `transform(sequence(...))`
  * whose per-element interpreted evaluation measured 2,014 task-seconds
  * for one pass over a 200k-row corpus (~10 ms/row at 704 elements). All
  * arithmetic is exact JVM long ops (identical to Spark's non-ANSI
  * Multiply/Remainder) followed by the IEEE long->double cast, divide and
  * subtract, so the produced doubles are bit-identical to both the HOF
  * form and the DuckDB oracle's replay (pinned by ExpressionSpec).
  * NULL vec_id -> NULL array (the fixture key is never null).
  */
case class HighDimMix(child: Expression, fromIdx: Int, untilIdx: Int)
    extends UnaryExpression {

  require(fromIdx >= 0 && untilIdx >= fromIdx)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_highdim_mix"
  // analysis-time input contract: a non-long key fails at analysis on
  // both eval paths instead of diverging at runtime
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint, got ${other.catalogString}")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override protected def nullSafeEval(id: Any): Any =
    HighDimMix.mix(id.asInstanceOf[Long], fromIdx, untilIdx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.HighDimMix.mix($c, $fromIdx, $untilIdx)")
}

object HighDimMix {
  /** Shared by interpreted eval and codegen; one primitive-array pass. */
  def mix(id: Long, from: Int, until: Int): ArrayData = {
    val out = new Array[Double](until - from)
    val m = (id * 2654435761L) % 100003L + 1L
    var xi = from
    while (xi < until) {
      val t = (((xi + 1L) * 40503L) % 100003L) * m + xi * 97911L
      out(xi - from) = (t % 100003L).toDouble / 100003.0 - 0.5
      xi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
