package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-probe generator must preserve the invariants the bench relies
  * on: exact row multiplication, join-key consistency across tables, and
  * no phantom cross-copy near-dups in documents. */
class ScaleUpSpec extends AnyFunSuite with SparkTest {

  private lazy val outDir = {
    val dir = SparkTest.tempDir("graft-scaleup")
    graft.tools.ScaleUp.run(spark, "/root/testdata/sf0.001", dir, 3)
    dir
  }

  test("fact tables triple, dimension tables stay") {
    val src = "/root/testdata/sf0.001"
    Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")
      .foreach { t =>
        val n0 = spark.read.parquet(s"$src/$t.parquet").count()
        val n1 = spark.read.parquet(s"$outDir/$t.parquet").count()
        assert(n1 == 3 * n0, s"$t: $n1 != 3*$n0")
      }
    Seq("region", "nation").foreach { t =>
      assert(spark.read.parquet(s"$outDir/$t.parquet").count() ==
        spark.read.parquet(s"$src/$t.parquet").count(), t)
    }
  }

  test("join keys stay consistent: orders->customer hit rate is preserved") {
    def hitRate(dir: String): Double = {
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val c = spark.read.parquet(s"$dir/customer.parquet")
      o.join(c, col("o_custkey") === col("c_custkey")).count().toDouble /
        o.count()
    }
    assert(hitRate(outDir) == hitRate("/root/testdata/sf0.001"))
  }

  test("document replicas are not near-duplicates of their source copy") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    val n0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    // same underlying doc in copy 0 and copy 1
    val t = graft.functions.TextFunctions.tokens(col("text"))
    val a = docs.filter(col("doc_id") === 7L).select(t.as("ta"))
    val b = docs.filter(col("doc_id") === 7L + n0 + 1).select(t.as("tb"))
    val jac = a.crossJoin(b)
      .select(graft.functions.MinHash.exactJaccard(col("ta"), col("tb")))
      .collect()(0).getDouble(0)
    assert(jac < 0.5, s"cross-copy jaccard $jac should be sub-threshold")
  }

  // The embed-incremental scale posture (recorded prose-only in SCALE_r11's
  // q_dedup_embed_incremental_decade note) made executable: BELOW the bit
  // cap lshNBits keeps expected bucket population flat (~targetBucketSize);
  // PAST the cap population grows linearly with the corpus regardless of
  // targetBucketSize, and raising the cap is the dial that restores the
  // flat curve. Arithmetic sweep pins the contract; a real-vector SRP run
  // at a forced small cap pins that actual (not just expected) populations
  // follow it.
  test("lshNBits: flat bucket population below the cap, linear past it, cap is the dial") {
    import graft.operators.Similarity
    // pre-cap contract: expected population corpus / 2^nBits stays within
    // [target/2, target] once the corpus is big enough for the clamp floor
    // to release (power-of-two bucket rounding can only overshoot by 2x)
    for (corpus <- Seq(1L << 12, 1L << 16, 1L << 20, 1L << 30, 1L << 36);
         target <- Seq(16L, 64L, 256L)) {
      val nBits = Similarity.lshNBits(corpus, target)
      if (nBits < 24) {
        val pop = corpus.toDouble / (1L << nBits)
        assert(pop <= target && pop >= target / 2.0,
          s"corpus=$corpus target=$target nBits=$nBits pop=$pop")
      }
    }
    // past-cap contract: population = corpus / 2^cap, LINEAR in the corpus
    // and independent of targetBucketSize; one more cap bit halves it
    val cap = 5
    for (corpus <- Seq(1L << 10, 1L << 12, 1L << 14)) {
      assert(Similarity.lshNBits(corpus, 8L, maxBits = cap) === cap)
      assert(Similarity.lshNBits(corpus, 1L, maxBits = cap) === cap,
        "targetBucketSize is not a dial past the cap")
    }
    assert(Similarity.lshNBits(1L << 14, 8L, maxBits = cap + 1) === cap + 1,
      "raising the cap is the dial")
  }

  test("SRP bucket population at a forced small cap grows linearly with the corpus") {
    import graft.operators.Similarity
    val dim = 16
    val cap = 5 // 32 buckets — every corpus below saturates it at target 8
    def meanPop(n: Int): Double = {
      // deterministic pseudo-random vectors, same construction as the
      // ScaleUp embedding generator (hash-mixed per (id, dim))
      val emb = spark.range(n.toLong).select(
        col("id"),
        array((0 until dim).map(i =>
          (pmod(xxhash64(col("id"), lit(i)), lit(100000L)).cast("double") /
            lit(100000.0)) - lit(0.5)): _*).as("v"))
      val nBits = Similarity.lshNBits(n.toLong, 8L, maxBits = cap)
      assert(nBits === cap, s"cap must bind at n=$n")
      emb.select(Similarity.srpBucket(col("v"), dim, nBits).as("bucket"))
        .groupBy("bucket").count()
        .agg(avg("count")).collect()(0).getDouble(0)
    }
    val (p1, p4) = (meanPop(4096), meanPop(16384))
    // 4x the corpus into a capped bucket space -> ~4x the mean population.
    // SRP buckets over random vectors are not uniform (hyperplanes through
    // correlated coordinates skew them), but the MEAN over occupied buckets
    // is pinned tightly: occupancy is already full at n=4096 (4096/32 >> 1)
    assert(p4 / p1 > 3.5 && p4 / p1 < 4.5,
      s"population should scale ~linearly past the cap: $p1 -> $p4")
  }

  test("ER blocking: token-boundary key stays flat as the corpus scales; a char-prefix key would not") {
    // The q_er_match scale posture made executable: its blocking key is the
    // first-TWO-TOKENS prefix, and ScaleUp perturbs token 0 or token 1 of
    // every copy — so replica families never share the key and the max
    // block size is INVARIANT under scale-up (candidates stay linear). The
    // naive fixed-12-char prefix key this replaced demonstrably degrades:
    // copies whose perturbed token sits past char 12 pile into one block
    // (measured on the r14 100x corpus: max block 3 -> 150), turning
    // candidate volume quadratic per family.
    val dir = SparkTest.tempDir("graft-scaleup-er")
    graft.tools.ScaleUp.run(spark, "/root/testdata/sf0.001", dir, 8)
    def maxBlock(path: String, key: org.apache.spark.sql.Column): Long =
      spark.read.parquet(s"$path/documents.parquet")
        .select(concat_ws("|", col("lang"), col("source"), key).as("blk"))
        .groupBy("blk").count().agg(max("count")).collect()(0).getLong(0)
    val tok2 = expr("substring(concat_ws(' ', slice(split(text, ' '), 1, 2)), 1, 40)")
    val char12 = expr("substring(text, 1, 12)")
    val (t1, t8) = (maxBlock("/root/testdata/sf0.001", tok2), maxBlock(dir, tok2))
    assert(t8 == t1, s"token-boundary key must not grow with the factor: $t1 -> $t8")
    val (c1, c8) = (maxBlock("/root/testdata/sf0.001", char12), maxBlock(dir, char12))
    assert(c8 >= 2 * c1, s"the naive char-prefix hazard should be visible: $c1 -> $c8")
  }

  test("knnGraph per-node candidates: bounded at derived bits, linear only at a forced cap") {
    import graft.operators.Similarity
    // The q_sim_knn scale posture made executable (mirror of the
    // incrementalEmbedDedup/SRP-population pins): the graph's per-node
    // work is (nBits+1 probe keys) x bucket population. With corpus-derived
    // bits the population is pinned near the target, so per-node candidate
    // count stays ~flat as the corpus grows (probe keys add only a log
    // term); at a FORCED small bit cap the bucket space saturates and
    // per-node candidates grow linearly — the cap is the documented dial.
    val dim = 16
    def emb(n: Int) = spark.range(n.toLong).select(
      col("id").as("vec_id"),
      array((0 until dim).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(100000L)).cast("double") /
          lit(100000.0)) - lit(0.5)): _*).as("v"))
    def meanCands(n: Int, maxBits: Int): Double = {
      val nBits = Similarity.lshNBits(n.toLong, 8L, maxBits = maxBits)
      // k = n keeps EVERY candidate, so the output per src IS the
      // candidate count the rank window would otherwise truncate
      Similarity.knnGraph(emb(n), dim, nBits, k = n)
        .groupBy("src").count()
        .agg(avg("count")).collect()(0).getDouble(0)
    }
    val (c1, c4) = (meanCands(1024, 5), meanCands(4096, 5))
    assert(c4 / c1 > 3.0 && c4 / c1 < 5.0,
      s"capped: per-node candidates should scale ~linearly: $c1 -> $c4")
    val (d1, d4) = (meanCands(1024, 24), meanCands(4096, 24))
    assert(d4 / d1 < 2.0,
      s"derived bits: per-node candidates should stay bounded: $d1 -> $d4")
  }

  test("nnDescentRound expansion candidates: bounded per node as the corpus grows 4x") {
    import graft.operators.Similarity
    // The q_sim_nndescent scale posture made executable: the expansion's
    // per-node candidate count is bounded by the degree structure —
    // <= (2k)^2 + k via the reverse-degree cap — INDEPENDENT of corpus
    // size, so total work is linear in N at fixed k. Measured as the
    // per-src output of the round at k = corpus size (keeps every
    // candidate the rank window would truncate) with revDegreeCap PINNED
    // at the production k — r15's version passed k = n as BOTH budget and
    // cap, so the cap under test was effectively disabled and the bound
    // held only because random in-degrees stayed near k (r15 ADVICE).
    // A hub-heavy graph without the cap would grow this with N.
    val dim = 16
    def emb(n: Int) = spark.range(n.toLong).select(
      col("id").as("vec_id"),
      array((0 until dim).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(100000L)).cast("double") /
          lit(100000.0)) - lit(0.5)): _*).as("v"))
    val k = 4
    def meanCands(n: Int): Double = {
      val nBits = Similarity.lshNBits(n.toLong, 8L)
      val seed = Similarity.knnGraph(emb(n), dim, nBits, k = k)
      Similarity.nnDescentRound(seed, emb(n), k = n, revDegreeCap = k)
        .groupBy("src").count()
        .agg(avg("count")).collect()(0).getDouble(0)
    }
    val (c1, c4) = (meanCands(1024), meanCands(4096))
    assert(c1 <= (2 * k) * (2 * k) + k + 1,
      s"per-node candidates must respect the (2k)^2+k bound: $c1")
    assert(c4 / c1 < 1.5,
      s"per-node expansion candidates should stay ~flat as N grows 4x: $c1 -> $c4")
  }

  test("SemDeDup radix tree: constant driver state + bundle width as the corpus grows 16x") {
    import graft.operators.Similarity
    import spark.implicits._
    val k = 4
    def ceilLog(k: Int, f: Long): Int = {
      var l = 1; var cap = k.toLong
      while (cap < f) { cap *= k; l += 1 }
      l
    }
    val widthsSeen = Seq(64, 256, 1024).map { n =>
      val rows = (0L until n.toLong).map(i =>
        (i, Seq.tabulate(6)(j => ((i * 31 + j * 7) % 97).toDouble)))
      val tree = Similarity.radixTree(rows.toDF("vec_id", "cv"), 4, k)
      val f = tree.fineCount
      assert(f == n / 4)
      assert(tree.levels == ceilLog(k, f), s"levels must be ceil(log_k F) at F=$f")
      // the ONLY driver-collected table: never more than fanout reps,
      // however large the corpus — the deployment-constant pin
      assert(tree.rootChildren.count() <= k, s"root reps exceed fanout at n=$n")
      val leafBundles = tree.bundlesAt(tree.levels)
      // growth lands in DISTRIBUTED state: one leaf bundle per k fines
      assert(leafBundles.count() == (f + k - 1) / k)
      (2 to tree.levels).map { d =>
        tree.bundlesAt(d).select(max(size(col("bundle")))).as[Int].head()
      }.max
    }
    // per-row argmin work is bounded by fanout at EVERY depth and corpus
    // size (no bundle ever exceeds k structs), while depth grows only
    // logarithmically: 16x the fines adds two levels at k=4
    widthsSeen.foreach(w => assert(w <= k, s"bundle width $w exceeds fanout"))
  }
}
