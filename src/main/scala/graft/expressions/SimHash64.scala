package graft.expressions

import graft.functions.Portable
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** 63-bit SimHash of an array<string> on the md5 family of
  * graft.functions.Portable, as a native expression (SQL `graft_simhash`).
  *
  * Per token: md5 of its UTF-8 bytes, digest bytes 0-3 big-endian = `hi`,
  * 4-7 = `lo`; bit j (0-31 from `lo`, 32-62 from `hi`) votes +1 when set,
  * else -1, and the fingerprint sets bit j when its vote sum is > 0. These
  * are the rules of Portable.simhashVoteCols / simhashFromVotes and of the
  * DuckDB oracle (PortableSql.simhashOracle). Bit 63 is never set.
  *
  * A NULL element votes -1 on every bit, as md5(NULL) does in the
  * reference; an empty or all-NULL array gives 0; a NULL array gives NULL.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.SimHash64.compute($a);")
}

object SimHash64 {
  private val Bits = Portable.SimHashBits

  /** One md5 per token; its first 8 digest bytes as one big-endian long
    * are `hi << 32 | lo`, so vote j reads bit j of that long. */
  def compute(tokens: ArrayData): Long = {
    val votes = new Array[Int](Bits)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h =
        if (tokens.isNullAt(i)) 0L
        else java.nio.ByteBuffer.wrap(Portable.md5Jvm(tokens.getUTF8String(i).getBytes)).getLong
      var j = 0
      while (j < Bits) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < Bits) {
      if (votes(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }
}
