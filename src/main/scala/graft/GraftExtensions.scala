package graft

import graft.expressions.{CosineSimilarity, JaccardSimilarity, MinHashSignature, NGrams, NfcNormalize, RabinKarpWindows, SimHash64, Tokenize}
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.IntegerType

/** SQL-surface registration for the engine's custom expressions —
  * SURVEY.md §7.4. Attach with:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * }}}
  *
  * or `spark.sql.extensions=graft.GraftExtensions`. After that,
  * `SELECT graft_cosine(a.embedding, b.embedding)` works from plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.intArg

  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    fn("graft_cosine", classOf[CosineSimilarity])(c => CosineSimilarity(c(0), c(1)))
    fn("graft_minhash", classOf[MinHashSignature])(c =>
      MinHashSignature(c(0), intArg("graft_minhash", "k", c(1))))
    fn("graft_jaccard", classOf[JaccardSimilarity])(c => JaccardSimilarity(c(0), c(1)))
    fn("graft_tokens", classOf[Tokenize])(c => Tokenize(c(0)))
    fn("graft_simhash", classOf[SimHash64])(c => SimHash64(c(0)))
    fn("graft_ngrams", classOf[NGrams])(c => NGrams(c(0), intArg("graft_ngrams", "n", c(1))))
    fn("graft_nfc", classOf[NfcNormalize])(c => NfcNormalize(c(0)))
    fn("graft_rk_windows", classOf[RabinKarpWindows])(c =>
      RabinKarpWindows(c(0), intArg("graft_rk_windows", "w", c(1))))
  }
}

object GraftExtensions {
  /** The plan-time INT constant that `param` of SQL function `func` must
    * be; anything else (a column, another type, NULL) is an analysis
    * error naming both. */
  private def intArg(func: String, param: String, e: Expression): Int =
    (if (e.foldable && e.dataType == IntegerType) e.eval() else null) match {
      case v: Int => v
      case _ => throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> func, "paramName" -> param, "paramType" -> "INT"))
    }
}
