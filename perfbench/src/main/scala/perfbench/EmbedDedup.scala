package perfbench

import graft.functions.VectorFunctions
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic dedup and search over document embeddings, 768-dimension
  * vectors (`vectors.parquet`: vec_id, v array<float>; `queries.parquet`:
  * q_id, qv array<float>); the second half of the corpus_dedup pass. A pass
  * loads the vectors as doubles, builds the kNN
  * graph, runs two NN-descent rounds (the second one's graph is written),
  * clusters the pairs above the cosine threshold (written), then answers
  * the query batch with LSH top-k and int8 rerank top-k. A stage that
  * throws ends the pass. */
final class EmbedDedup(in: String, out: String) extends Workload {
  import EmbedDedup._

  private var raw, rawQueries: DataFrame = _
  private var vectors = 0L
  private var nBits = 0

  def prepare(spark: SparkSession): Unit = {
    raw = spark.read.parquet(s"$in/vectors.parquet")
    rawQueries = spark.read.parquet(s"$in/queries.parquet")
    vectors = scala.io.Source.fromFile(s"$in/rows.txt").mkString.trim.toLong
    nBits = Similarity.lshNBits(vectors)
  }

  def pass(spark: SparkSession, tr: Tracer): Pass = {
    val stage = new Stages
    def persisted(df: DataFrame): DataFrame = {
      val p = df.persist()
      tr.rows(p.count())
      p
    }
    val ops = stage.run {
      val emb = stage("vec_load")(tr.frame("bench.embed.load")(
        raw.select(col("vec_id"), VectorFunctions.asDouble(col("v")).as("v")))(persisted))
      val queries = rawQueries.select(col("q_id"), VectorFunctions.asDouble(col("qv")).as("qv"))
      val g0 = stage("vec_knn")(tr.frame("operators.Similarity.knnGraph")(
        Similarity.knnGraph(emb, Dim, nBits, K, corpusRows = Some(vectors)))(persisted))
      val g1 = stage("vec_nndescent1")(tr.frame("operators.Similarity.nnDescentRound")(
        Similarity.nnDescentRound(g0, emb, K, corpusRows = Some(vectors)))(persisted))
      stage("vec_nndescent2")(tr.frame("operators.Similarity.nnDescentRound")(
        Similarity.nnDescentRound(g1, emb, K, corpusRows = Some(vectors)))(
        _.write.mode("overwrite").parquet(s"$out/knn_graph")))
      stage("vec_clusters")(tr.frame("operators.Dedup.duplicateClusters")(
        Dedup.duplicateClusters(spark.read.parquet(s"$out/knn_graph")
          .filter(col("cos") >= DupCosine)
          .select(col("src").as("doc_a"), col("dst").as("doc_b"))))(
        _.write.mode("overwrite").parquet(s"$out/clusters")))
      stage("vec_lsh_topk")(tr.frame("operators.Similarity.lshTopK")(
        Similarity.lshTopK(queries, emb.withColumnRenamed("v", "cv"), Dim, nBits, K))(
        df => tr.rows(df.collect().length.toLong)))
      stage("vec_quant_rerank")(tr.frame("operators.Similarity.quantRerankTopK")(
        Similarity.quantRerankTopK(queries, emb.withColumnRenamed("v", "cv"), K))(
        df => tr.rows(df.collect().length.toLong)))
    }
    Pass(vectors, ops)
  }

  /** Projection-only passes of the vector functions into a noop sink. */
  override def probes(spark: SparkSession, tr: Tracer): Unit = {
    def noop(df: DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      tr.rows(vectors)
    }
    tr.frame("functions.VectorFunctions.asDouble")(
      raw.select(VectorFunctions.asDouble(col("v")).as("x")))(noop)
    val doubles = raw.select(VectorFunctions.asDouble(col("v")).as("v")).persist()
    doubles.count()
    tr.frame("operators.Similarity.srpBucket")(
      doubles.select(Similarity.srpBucket(col("v"), Dim, nBits).as("x")))(noop)
    doubles.unpersist(true)
  }

  /** The graph and clusters of the last pass are read back by the check. */
  def check(spark: SparkSession): scala.collection.Map[String, Any] =
    Json.obj("k" -> K, "n_bits" -> nBits, "dup_cosine" -> DupCosine)
}

object EmbedDedup {
  val Dim = 768
  val K = 5
  val DupCosine = 0.95
}
