package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokenizer as a native expression: lowercase, split on `\s+`,
  * drop empty tokens — bit-identical to the HOF formulation
  * `filter(split(lower(c), "\\s+"), t => t =!= "")` that it replaces
  * (TextFunctions.tokens), but one JIT-compiled byte scan per row instead
  * of a regex split plus an interpreted lambda filter.
  *
  * Whitespace = Java-regex ASCII `\s` ([ \t\n\x0B\f\r]); UTF-8 multi-byte
  * sequences never contain ASCII bytes, so the byte scan is Unicode-safe.
  * Lowercasing is locale-independent: ASCII text byte by byte, any other
  * text by `String.toLowerCase(Locale.ROOT)`, so a Turkish default locale
  * cannot turn "I" into "ı". The built-in `lower()` maps non-ASCII text
  * through ICU (`spark.sql.icu.caseMappings.enabled`), which follows the
  * JVM default locale; under the root locale the two agree on the
  * differential alphabets of PropertySpec and ExpressionSpec.
  */
case class Tokenize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override protected def nullSafeEval(input: Any): Any =
    Tokenize.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expressions.Tokenize.compute($s);")
}

object Tokenize {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  def compute(s: UTF8String): ArrayData = {
    val lower =
      if (s.isFullAscii) s.toLowerCaseAscii
      else UTF8String.fromString(s.toString.toLowerCase(java.util.Locale.ROOT))
    val bytes = lower.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[UTF8String](8)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start)
        out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    new GenericArrayData(out.toArray)
  }
}

/** Token n-grams (space-joined) as a native expression — replaces the
  * zip_with-over-shifted-slices HOF formulation (TextFunctions.ngrams),
  * which evaluates n interpreted slice+zip_with passes per row, with a
  * single JIT-compiled window walk. Output matches element-for-element:
  * gram i = toks(i) || ' ' || ... || toks(i+n-1); inputs shorter than n
  * yield an empty array; a null token nulls its grams (concat semantics).
  */
case class NGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 2, s"ngram size must be >= 2, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_ngrams"

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override protected def nullSafeEval(input: Any): Any =
    NGrams.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.NGrams.compute($a, $n);")
}

object NGrams {

  private val space = UTF8String.fromString(" ")

  def compute(toks: ArrayData, n: Int): ArrayData = {
    val total = toks.numElements()
    val len = math.max(total - (n - 1), 0)
    val out = new Array[AnyRef](len)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < len) {
      var j = 0
      var anyNull = false
      while (j < n) {
        if (toks.isNullAt(i + j)) anyNull = true
        else parts(j) = toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = if (anyNull) null else UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
