package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runtime exchange-reuse gate for the near-dup verify joins.
  *
  * jaccardNearDupPairs (and containmentNearDupPairs) attach the corpus
  * hash arrays to the candidate pairs through TWO joins against the same
  * repartitioned `baseArr` frame. The design requires the corpus arrays to
  * shuffle ONCE: the two build-side subtrees are canonically equal, so
  * AQE's stage cache must serve the second join from the first's
  * materialized stage. That reuse is INVISIBLE statically — an adaptive
  * initial plan (what PlanDigest digests under AQE) renders both branches
  * as separate exchanges — so this spec executes the query with AQE ON
  * (the session default, i.e. the bench/production config) and asserts the
  * FINAL adaptive plan carries a ReusedExchange whose output includes the
  * hash-array column. PLANS.md covers the AQE-off static counterpart of
  * the same canonicalized-subtree match.
  */
class ExchangeReuseSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"

  private def finalPlanOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materializes every adaptive stage of df's own execution
    df.queryExecution.executedPlan.toString
  }

  private def assertCorpusArrayReuse(name: String): Unit = {
    val plan = finalPlanOf(name)
    assert(plan.contains("isFinalPlan=true"),
      s"$name did not execute adaptively — reuse gate needs AQE on")
    val reused = "ReusedExchange \\[[^\\]]*hs_".r.findAllIn(plan).size
    assert(reused >= 1,
      s"$name: no ReusedExchange over the corpus hash-array branch in the " +
        s"final adaptive plan — the corpus arrays shuffled twice:\n$plan")
  }

  test("q_dedup_jaccard verify joins reuse the corpus-array exchange") {
    assertCorpusArrayReuse("q_dedup_jaccard")
  }

  test("q_dedup_containment verify joins reuse the corpus-array exchange") {
    assertCorpusArrayReuse("q_dedup_containment")
  }

  /** SRP family: lshBucketJoin/knnGraph bucket the corpus ONCE and feed
    * both the plain and the multi-probe branch from that single exchange.
    * r16 regression class: a nullable graft_srp_bucket join key let
    * Catalyst infer isnotnull asymmetrically into the two branches, the
    * subtrees stopped being canonically equal, and the corpus was scanned
    * (and the nBits×dim hyperplane dots computed) twice per query. This
    * runtime gate complements PlanDigestSpec's static reuse=1 rows. */
  private def assertSrpBucketReuse(name: String): Unit = {
    val plan = finalPlanOf(name)
    assert(plan.contains("isFinalPlan=true"),
      s"$name did not execute adaptively — reuse gate needs AQE on")
    val reused = "ReusedExchange \\[[^\\]]*bucket".r.findAllIn(plan).size
    assert(reused >= 1,
      s"$name: no ReusedExchange over the SRP-bucketed corpus branch — " +
        s"the embedding corpus shuffled/bucketed twice:\n$plan")
  }

  test("q_sim_lsh buckets the corpus once (ReusedExchange at runtime)") {
    assertSrpBucketReuse("q_sim_lsh")
  }

  test("q_sim_knn buckets the corpus once (ReusedExchange at runtime)") {
    assertSrpBucketReuse("q_sim_knn")
  }

  /** q_dedup_embed can't be runtime-gated at test scale: zero pairs clear
    * the 0.98 cosine bar at sf0.001, AQE's empty-relation propagation
    * deletes the whole anti-join right side, and the SRP subtree never
    * executes (correct, and itself scale-appropriate). Gate the property
    * the operator owns instead: with AQE off, lshBucketJoin(multiProbe)'s
    * two bucket-exchange subtrees must stay canonically equal so the
    * static planner emits ReusedExchange — the exact invariant the r16
    * nullable-bucket regression broke. */
  test("lshBucketJoin(multiProbe) plans one corpus exchange (static ReuseExchange)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => V}
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val emb = Tables.embeddings(spark, sf)
        .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      val plan = graft.operators.Similarity
        .lshBucketJoin(emb, dim = 64, nBits = 4, minCosine = 0.98,
          multiProbe = true)
        .queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"multi-probe branch no longer reuses the bucketed-corpus " +
          s"exchange — corpus would be scanned+bucketed twice:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
