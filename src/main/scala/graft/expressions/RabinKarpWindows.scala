package graft.expressions

import graft.functions.Portable
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Rabin–Karp window hashes of an array<string> as a native expression: one
  * 62-bit key per w-token window, for exact-substring dedup
  * (q_dedup_substring).
  *
  * Values are bit-identical to the built-in formulation
  * `Portable.windowHashes(transform(toks, t -> h48(t) % P), w)` — md5-head
  * base hash per token, two Carter–Wegman-style mod-P polynomials combined
  * as h1·2³¹ + h2 — which the DuckDB oracle replays exactly
  * (PortableSql.tokenHashes/windowHashes). NULL elements are skipped
  * before windowing, so `graft_rk_windows(array('a', NULL, 'b'), 2)` equals
  * `graft_rk_windows(array('a', 'b'), 2)`. The win is the computation
  * shape: the HOF path runs the interpreted lambda evaluator per window
  * (measured SLOWER than even md5-per-window native n-grams at sf0.1);
  * here each token is md5'd once and the window polynomials run as a plain
  * JVM loop, keeping the whole-stage codegen span intact.
  */
case class RabinKarpWindows(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 2, s"window size must be >= 2, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rk_windows"

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override protected def nullSafeEval(input: Any): Any =
    RabinKarpWindows.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.RabinKarpWindows.compute($a, $w);")
}

object RabinKarpWindows {
  private val P = Portable.P
  private val B1 = Portable.rkB(1)
  private val B2 = Portable.rkB(2)

  /** One md5 per token (Portable.h48Jvm, reduced into [0, P)), then the
    * two window polynomials over the cached token hashes. NULL elements are
    * skipped before windowing, as MinHashSignature and MinHashAggregator
    * skip them. Fewer than w non-NULL tokens yield an empty array (no
    * windows). Every intermediate product is < 2^62: acc, base < P = 2^31 - 1. */
  def compute(toks: ArrayData, w: Int): ArrayData = {
    val hs = new Array[Long](toks.numElements())
    var n = 0
    var i = 0
    while (i < hs.length) {
      if (!toks.isNullAt(i)) {
        hs(n) = Portable.h48Jvm(toks.getUTF8String(i).getBytes) % P
        n += 1
      }
      i += 1
    }
    if (n < w) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = n - w + 1
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      var h1 = 0L
      var h2 = 0L
      var k = 0
      while (k < w) {
        val x = hs(s + k)
        h1 = (h1 * B1 + x) % P
        h2 = (h2 * B2 + x) % P
        k += 1
      }
      out(s) = h1 * (1L << 31) + h2
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
