package graft.expressions

import graft.functions.Portable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** k-component MinHash signature of an array<string> as a native expression,
  * in the md5 Carter–Wegman family of graft.functions.Portable (the one the
  * DuckDB oracle replays): one `Portable.h48Jvm` per shingle, reduced mod
  * P, then k affine maps (a(j)·x + b(j)) mod P whose multipliers are
  * computed once per expression. Values are bit-identical to
  * `Portable.minhashFromHashes(transform(s, Portable.h48), k)` on every
  * input: NULL elements are skipped, and an empty, all-NULL or NULL array
  * gives Long.MaxValue components (so the output is non-nullable, like the
  * coalesced built-in form).
  *
  * Codegen emits a single call to [[MinHashSignature.compute]] so the
  * whole-stage span stays intact while the loop runs as plain JVM code
  * instead of k interpreted higher-order passes.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  @transient private lazy val as: Array[Long] = Array.tabulate(k)(Portable.a)
  @transient private lazy val bs: Array[Long] = Array.tabulate(k)(Portable.b)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash"

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def eval(input: InternalRow): Any =
    MinHashSignature.compute(child.eval(input).asInstanceOf[ArrayData], as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("mhA", as, "long[]")
    val b = ctx.addReferenceObj("mhB", bs, "long[]")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        ArrayData ${ev.value} = graft.expressions.MinHashSignature.compute(
          ${c.isNull} ? null : ${c.value}, $a, $b);
      """,
      isNull = FalseLiteral)
  }
}

object MinHashSignature {
  /** Shared by interpreted eval and codegen. `shingles` may be null. */
  def compute(shingles: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val mins = Array.fill(a.length)(Long.MaxValue)
    val n = if (shingles == null) 0 else shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i))
        minInto(mins, Portable.h48Jvm(shingles.getUTF8String(i).getBytes), a, b)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Folds one shingle's 48-bit base hash into the running component
    * minima: mins(j) = min(mins(j), (a(j)·(h48 mod P) + b(j)) mod P). Every
    * product is below 2^62, so no step overflows. */
  private[graft] def minInto(mins: Array[Long], h48: Long,
      a: Array[Long], b: Array[Long]): Unit = {
    val x = h48 % Portable.P
    var j = 0
    while (j < mins.length) {
      val h = (a(j) * x + b(j)) % Portable.P
      if (h < mins(j)) mins(j) = h
      j += 1
    }
  }
}
