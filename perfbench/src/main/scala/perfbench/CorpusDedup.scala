package perfbench

import graft.functions.TextFunctions
import graft.operators.{Bpe, Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-corpus curation over a generated corpus (`corpus.parquet`: doc_id,
  * lang, text). A pass runs the stages in order — tokenize and quality
  * gate, exact dedup, Jaccard near-dup pairs, duplicate clusters (written),
  * greedy keep set, BPE word counts, merge learning and merge application
  * (written) — and writes the survivors. A stage that throws ends the pass. */
final class CorpusDedup(in: String, out: String) extends Workload {
  import CorpusDedup._

  private var corpus: DataFrame = _
  private var docs = 0L
  private var exactSurvivors = -1L
  private var keptDocs = -1L

  def prepare(spark: SparkSession): Unit = {
    corpus = spark.read.parquet(s"$in/corpus.parquet")
    docs = scala.io.Source.fromFile(s"$in/rows.txt").mkString.trim.toLong
  }

  def pass(spark: SparkSession, tr: Tracer): Pass = {
    val stage = new Stages
    var lastRows = 0L
    def persisted(df: DataFrame): DataFrame = {
      val p = df.persist()
      lastRows = p.count()
      tr.rows(lastRows)
      p
    }
    val ops = stage.run {
      val gated = stage("gate")(tr.frame("bench.corpus.gate")(
        corpus.select(col("doc_id"), col("lang"), col("text"),
            TextFunctions.tokens(TextFunctions.nfc(col("text"))).as("toks"),
            length(col("text")).as("n_chars"))
          .filter(size(col("toks")) >= MinTokens &&
            size(array_distinct(col("toks"))) >= size(col("toks")) * MinDistinctShare))(persisted))
      val exact = stage("exact")(tr.frame("operators.Dedup.exactKeepFirst")(
        Dedup.exactKeepFirst(
          gated.withColumn("fp", TextFunctions.fingerprintMd5(TextFunctions.nfc(col("text")))),
          Seq("fp"), "doc_id"))(persisted))
      exactSurvivors = lastRows
      val pairs = stage("pairs")(tr.frame("operators.Similarity.jaccardNearDupPairs")(
        Similarity.jaccardNearDupPairs(
          exact.select("doc_id", "lang", "n_chars", "toks"), MinJaccard))(persisted))
      stage("clusters")(tr.frame("operators.Dedup.duplicateClusters")(
        Dedup.duplicateClusters(pairs))(_.write.mode("overwrite").parquet(s"$out/clusters")))
      val keep = stage("keep")(tr.frame("operators.Dedup.keepFromPairs")(
        Dedup.keepFromPairs(exact, "doc_id", pairs))(persisted))
      keptDocs = lastRows
      val words = stage("bpe_counts")(tr.frame("operators.Bpe.wordCounts")(
        Bpe.wordCounts(keep.select(explode(col("toks")).as("word"))))(persisted))
      val merges = stage("bpe_learn")(tr.frame("operators.Bpe.learnMerges")(
        Bpe.learnMerges(words, BpeMerges))(
        _.orderBy("step").collect().map(r => (r.getString(1), r.getString(2))).toSeq))
      stage("bpe_apply")(tr.frame("operators.Bpe.applyMerges")(
        Bpe.applyMerges(words.select("word"), merges))(
        _.write.mode("overwrite").parquet(s"$out/bpe_vocab")))
      stage("write")(tr.action("bench.corpus.write")(
        keep.select("doc_id", "lang", "text").write.mode("overwrite").parquet(s"$out/survivors")))
    }
    Pass(docs, ops)
  }

  /** Projection-only passes of the text functions into a noop sink. */
  override def probes(spark: SparkSession, tr: Tracer): Unit =
    Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "functions.TextFunctions.tokens" -> TextFunctions.tokens,
      "functions.TextFunctions.nfc" -> TextFunctions.nfc,
      "functions.TextFunctions.fingerprintMd5" -> TextFunctions.fingerprintMd5
    ).foreach { case (name, f) =>
      tr.frame(name)(corpus.select(f(col("text")).as("x"))) { df =>
        df.write.format("noop").mode("overwrite").save()
        tr.rows(docs)
      }
    }

  /** Survivor counts of the last pass; the clusters are read back by the
    * check from `out/clusters`. */
  def check(spark: SparkSession): scala.collection.Map[String, Any] =
    Json.obj("exact_survivors" -> exactSurvivors, "kept_docs" -> keptDocs)
}

object CorpusDedup {
  val MinTokens = 8
  val MinDistinctShare = 0.3
  val MinJaccard = 0.8
  val BpeMerges = 8
}
