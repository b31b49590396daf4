package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SimHash fingerprints — SURVEY.md §2.10 (near-dup family).
  *
  * 64-bit SimHash: each token votes ±1 per bit position of its hash; the
  * fingerprint sets bit j when the vote sum is positive.
  */
object SimHash {

  /** 64-bit SimHash (bigint) of a token array column — native codegen
    * expression (one hash per token; see graft.expressions.SimHash64). */
  def simhash64(tokens: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.SimHash64(expression(tokens)))
  }

  /** HOF formulation of [[simhash64]] — bit-identical values, kept as the
    * differential-test reference. 64 separate `aggregate` calls, each
    * re-hashing every token: 64x the work of the native expression. */
  def simhash64Hof(tokens: Column): Column = {
    val bitCols: Seq[Column] = (0 until 64).map { j =>
      val vote = aggregate(
        tokens,
        lit(0L),
        (acc, t) =>
          acc + when(shiftright(xxhash64(t), j) % 2 =!= 0, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_.bitwiseOR(_))
  }

  /** Portable 63-bit SimHash per id: token votes from the md5 32-bit
    * halves (graft.functions.Portable), aggregated as 63 codegen'd
    * conditional sums over an exploded token stream — one shuffle on the
    * id, reproducible by the DuckDB oracle (PortableSql.simhashOracle).
    * Ids whose token array is empty get fingerprint 0 (no votes).
    *
    * The explode+groupBy shape (rather than 63 `aggregate` HOFs per row) is
    * also the scale posture: votes partially aggregate map-side, and a
    * pathological 1 GB document costs 63 running sums, not 63 array scans.
    */
  def simhashPortable(df: org.apache.spark.sql.DataFrame, idCol: String,
      tokens: Column): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol), explode(tokens).as("__t"))
      .withColumn("__m", md5(col("__t")))
      .select(col(idCol),
        conv(substring(col("__m"), 1, 8), 16, 10).cast("long").as("__hi"),
        conv(substring(col("__m"), 9, 8), 16, 10).cast("long").as("__lo"))
    val votes = Portable.simhashVoteCols(col("__hi"), col("__lo"))
      .zipWithIndex.map { case (v, j) => sum(v).as(s"__v$j") }
    val fp = tok.groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), Portable.simhashFromVotes(
        (0 until Portable.SimHashBits).map(j => col(s"__v$j"))).as("simhash"))
    df.select(col(idCol))
      .join(fp, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }
}
