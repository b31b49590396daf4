package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The int8 quantization codec of an `array<double>` vector as ONE fused
  * native pass — struct(qs, qn, qc) with qs = max|x| / 127 (the symmetric
  * scale), qn = the float L2 norm, qc = `round(x / qs)` byte codes. This
  * is the corpus-scan hot loop of every gated similarity path
  * (Similarity.int8Codes feeds the gated knnGraph seed, nnDescentRound's
  * pre-score and quantRerankTopK): the HOF formulation ran THREE
  * interpreted higher-order passes per row (array_max over transform(abs),
  * aggregate-over-zip_with for the norm, transform for the codes) —
  * measured 1,098 task-seconds for one pass over a 200k x 768 corpus
  * (~7 µs per element) where this expression runs the same arithmetic as
  * one generated loop.
  *
  * Bit-identical to the HOF form it replaces (pinned by ExpressionSpec):
  *  - qs: max over |x| under Spark's DoubleType ordering (NaN greatest,
  *    exactly `java.lang.Double.compare` on absolute values), divided by
  *    127.0;
  *  - qn: sqrt of the left-to-right fold of x*x (`aggregate`'s order);
  *  - qc[i]: HALF_UP round of x/qs then the double->byte cast (identical
  *    truncation for every in-range integral-valued double; a non-finite
  *    quotient — unreachable from finite vectors — yields the JVM
  *    d2i/i2b value where the ANSI cast would have thrown).
  *    The round is computed by exact binary comparison against the .5
  *    boundary instead of Spark's per-element BigDecimal/Double.toString
  *    round-trip: every half-integer boundary in the code domain
  *    (|x/qs| <= 127.5) is exactly representable, and the shortest-decimal
  *    representation BigDecimal.valueOf uses preserves order against an
  *    exactly-representable boundary, so the two agree on every double
  *    (ExpressionSpec pins the .5 boundaries either side). Non-finite
  *    quotients (a +-Inf element) reproduce Round's pass-through + the
  *    JVM d2i/i2b cast chain.
  *
  * NULL-out contract: a NULL or EMPTY vector and the all-zero vector map
  * to a NULL struct — the callers' `qs > 0` gate drops exactly the rows
  * the HOF form's filter dropped (0 and NULL fail `> 0`; a NaN scale is
  * KEPT on both paths, because Spark's SQL comparison ranks NaN greater
  * than everything). Like [[SrpBucket]], per-element NULLs are outside
  * the contract (dense vectors only).
  */
case class Int8Codes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = Int8Codes.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_int8_codes"
  // analysis-time input contract: a mistyped child fails fast
  // on BOTH eval paths instead of ClassCastException-ing interpreted while
  // silently widening under codegen (AbstractDataType is private[sql], so
  // the check is spelled directly rather than via ExpectsInputTypes)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.catalogString}")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else Int8Codes.codes(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = null;
      boolean ${ev.isNull} = true;
      if (!${c.isNull}) {
        ${ev.value} = graft.expressions.Int8Codes.codes(${c.value});
        ${ev.isNull} = ${ev.value} == null;
      }
    """)
  }
}

object Int8Codes {
  val schema: StructType = StructType(Seq(
    StructField("qs", DoubleType, nullable = false),
    StructField("qn", DoubleType, nullable = false),
    StructField("qc", ArrayType(ByteType, containsNull = false), nullable = false)))

  /** HALF_UP(q) for |q| far below 2^51, matching Spark Round(q, 0) +
    * double->byte cast exactly (see class doc); non-finite q reproduces
    * Round's pass-through then Scala's `toByte` (d2i + i2b). */
  private def roundToByte(q: Double): Byte = {
    if (java.lang.Double.isNaN(q) || java.lang.Double.isInfinite(q))
      return q.toByte // d2i clamp + i2b — NaN -> 0, +Inf -> -1, -Inf -> 0
    val a = math.abs(q)
    val n = a.toLong
    val r = if (a - n >= 0.5) n + 1 else n
    (if (q < 0) -r else r).toByte
  }

  /** Shared by interpreted eval and codegen: three primitive passes, one
    * byte-array allocation. Returns null on the degenerate inputs the
    * callers' `qs > 0` filter drops (empty vector, all-zero, NaN scale). */
  def codes(v: ArrayData): InternalRow = {
    val n = v.numElements()
    if (n == 0) return null
    var m = math.abs(v.getDouble(0))
    var i = 1
    while (i < n) {
      val ax = math.abs(v.getDouble(i))
      // Double.compare: NaN ranks greatest, matching array_max's ordering
      if (java.lang.Double.compare(ax, m) > 0) m = ax
      i += 1
    }
    val qs = m / 127.0
    // only the all-zero vector nulls out: a NaN scale RIDES (Spark's SQL
    // comparison ranks NaN greater than everything, so the HOF form's
    // `qs > 0` gate KEPT NaN-scale rows — its codes were round(x/NaN) ->
    // NaN -> byte 0, which roundToByte reproduces)
    if (qs == 0.0) return null
    var ss = 0.0
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      ss += x * x
      i += 1
    }
    val qc = new Array[Byte](n)
    i = 0
    while (i < n) {
      qc(i) = roundToByte(v.getDouble(i) / qs)
      i += 1
    }
    new GenericInternalRow(
      Array[Any](qs, math.sqrt(ss), new GenericArrayData(qc)))
  }
}
