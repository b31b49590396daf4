package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `ArrayType` columns — SURVEY.md §2.10.
  *
  * Pure higher-order built-ins (`zip_with` + `aggregate`), which stay inside
  * whole-stage codegen — preferred over UDFs per SURVEY §7.4; a custom
  * codegen Expression is only warranted if profiling shows these hot.
  *
  * All functions expect `array<double>`; use [[asDouble]] on float embeddings
  * first so both engines do identical double arithmetic (element-wise float
  * multiply would round differently than DuckDB's double path).
  */
object VectorFunctions {

  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product — sequential left-to-right double fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)

  def normSq(a: Column): Column = dot(a, a)

  def l2Norm(a: Column): Column = sqrt(normSq(a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Cosine via the native codegen expression (graft.expressions) — same
    * values as [[cosine]] (identical accumulation order), one fused loop
    * instead of the interpreted HOF path. Use in per-row hot loops
    * (similarity joins); the HOF form remains for reference/testing. */
  def cosineNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.CosineSimilarity(expression(a), expression(b)))
  }

  /** Exact integer dot of two `array<byte>` int8 code columns via the
    * native codegen expression — the quantized pre-score hot loop. */
  def int8Dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.Int8Dot(expression(a), expression(b)))
  }

  /** L2 norm via the native NormSq loop — bit-identical to [[l2Norm]]
    * (same fold order under the same builtin sqrt); use on corpus-scan
    * guards/metadata where the interpreted HOF pass is hot (it costs one
    * full interpreted corpus pass per plan branch in knnGraph /
    * nnDescentRound / quantRerankTopK). */
  def l2NormNative(a: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    sqrt(column(graft.expressions.NormSq(expression(a))))
  }

  /** The int8 quantization codec — struct(qs, qn, qc) in ONE native pass
    * (graft.expressions.Int8Codes); NULL struct on the degenerate rows a
    * `qs > 0` gate drops. Bit-identical fields to the HOF triple
    * (scale / norm / HALF_UP byte codes) it replaces. */
  def int8Codes(v: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.Int8Codes(expression(v)))
  }
}
