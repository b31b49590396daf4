package graft

import graft.functions.{VectorFunctions => V}
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkTest {

  /** Deterministic pseudo-random unit-ish vector. */
  private def vec(seed: Int, dim: Int): Seq[Double] =
    (0 until dim).map { i =>
      val x = (seed * 2654435761L + i * 40503L) & 0xffff
      (x.toDouble / 0xffff) - 0.5
    }

  /** Slightly perturbed copy — a true near-duplicate. */
  private def nearDup(v: Seq[Double]): Seq[Double] =
    v.zipWithIndex.map { case (x, i) => x + (if (i % 7 == 0) 0.01 else 0.0) }

  test("cosine of a vector with itself is 1; near-dup is close to 1") {
    import spark.implicits._
    val v0 = vec(1, 32)
    val df = Seq((v0, v0), (v0, nearDup(v0))).toDF("a", "b")
    val cos = df.select(V.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(cos(0) - 1.0) < 1e-12)
    assert(cos(1) > 0.999)
  }

  test("bruteForceTopK ranks the planted near-dup first") {
    import spark.implicits._
    val base = vec(42, 32)
    val corpus = ((5L, nearDup(base)) +:
      (6L to 30L).map(i => (i, vec(i.toInt, 32)))).toDF("vec_id", "cv")
    val queries = Seq((42L, base)).toDF("q_id", "qv")
    val top = Similarity.bruteForceTopK(queries, corpus, 3)
      .orderBy("rn").select("vec_id").collect().map(_.getLong(0))
    assert(top.head == 5L)
  }

  test("LSH bucket join recovers planted near-dups (recall vs brute force)") {
    import spark.implicits._
    // 40 random vectors + 5 planted near-dup pairs
    val randoms = (0L until 40L).map(i => (i, vec(i.toInt + 100, 32)))
    val planted = (0 until 5).flatMap { p =>
      val v = vec(p + 1000, 32)
      Seq((100L + p * 2, v), (101L + p * 2, nearDup(v)))
    }
    val emb = (randoms ++ planted).toDF("vec_id", "v")
    val pairs = Similarity.lshBucketJoin(emb, dim = 32, nBits = 8, minCosine = 0.99)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0 until 5).map(p => (100L + p * 2, 101L + p * 2)).toSet
    // SRP with 8 bits keeps near-identical vectors in one bucket w.h.p.
    assert(want.subsetOf(pairs))
  }

  test("IVF top-k achieves high recall vs brute force on the same corpus") {
    import spark.implicits._
    val corpus = (0L until 80L).map(i => (i, vec(i.toInt + 3, 32))).toDF("vec_id", "cv")
    val queries = (0 until 3).map(q => (q.toLong, vec(q + 3, 32))).toDF("q_id", "qv")
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topSet(Similarity.bruteForceTopK(queries, corpus, 5))
    val approx = topSet(
      Similarity.ivfTopK(queries, corpus, nCentroids = 8, nProbe = 4, k = 5))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
    // each query's own vector is in the corpus → must be its top hit
    assert((0L until 3L).forall(q => approx.contains((q, q))))
  }

  test("LSH at 10x corpus: derived bits + multi-probe keep recall, bound buckets") {
    import spark.implicits._
    // 10x the original recall fixture: 450 random vectors + 25 planted pairs
    val randoms = (0L until 450L).map(i => (i, vec(i.toInt + 100, 32)))
    val planted = (0 until 25).flatMap { p =>
      val v = vec(p + 1000, 32)
      Seq((1000L + p * 2, v), (1001L + p * 2, nearDup(v)))
    }
    val emb = (randoms ++ planted).toDF("vec_id", "v").repartition(8)
    val n = emb.count()
    val nBits = Similarity.lshNBits(n, targetBucketSize = 16)
    assert(nBits == 5, s"500/16 -> 32 buckets -> 5 bits, got $nBits")
    val pairs = Similarity
      .lshBucketJoin(emb, dim = 32, nBits = nBits, minCosine = 0.99, multiProbe = true)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0 until 25).map(p => (1000L + p * 2, 1001L + p * 2)).toSet
    val recall = (pairs & want).size.toDouble / want.size
    assert(recall >= 0.95, s"recall $recall with nBits=$nBits multi-probe")
    // bucket-pair work is bounded: the largest bucket stays far under the
    // corpus (the all-pairs degenerate case), keeping in-bucket cost linear
    val maxBucket = emb
      .withColumn("b", Similarity.srpBucket(col("v"), 32, nBits))
      .groupBy("b").count().agg(max("count")).collect()(0).getLong(0)
    info(s"nBits=$nBits maxBucket=$maxBucket of $n rows")
    assert(maxBucket < n / 4, s"max bucket $maxBucket vs corpus $n")
  }

  test("LSH candidate set is far smaller than all pairs (pruning works)") {
    import spark.implicits._
    val emb = (0L until 60L).map(i => (i, vec(i.toInt + 7, 32))).toDF("vec_id", "v")
    val bucketed = emb.withColumn("b", Similarity.srpBucket(col("v"), 32, 8))
    val candidates = bucketed.as("x").join(bucketed.as("y"), "b")
      .filter(col("x.vec_id") < col("y.vec_id")).count()
    assert(candidates < 60L * 59L / 2 / 4) // ≥4× pruning on random data
  }

  test("maxSimTopK: identical doc scores |q| (perfect self-similarity), ranks first") {
    import spark.implicits._
    import graft.operators.Similarity
    def vec(seed: Int) = (0 until 8).map(j => math.sin(seed * 13 + j))
    // query doc 0 = {v0, v1, v2}; corpus doc 10 = same bag (score 3.0),
    // doc 11 = unrelated vectors
    val q = Seq((0L, 0L, vec(0)), (0L, 1L, vec(1)), (0L, 2L, vec(2)))
      .toDF("q_doc", "qv_id", "qv")
    val c = (Seq((10L, vec(0)), (10L, vec(1)), (10L, vec(2))) ++
      Seq((11L, vec(7)), (11L, vec(8)), (11L, vec(9))))
      .toDF("c_doc", "cv")
    val got = Similarity.maxSimTopK(q, c, 2)
      .select("c_doc", "maxsim", "rn").orderBy("rn").collect()
    assert(got(0).getLong(0) == 10L && math.abs(got(0).getDouble(1) - 3.0) < 1e-9)
    assert(got(0).getInt(2) == 1 || got(0).getLong(2) == 1L)
    assert(got(1).getLong(0) == 11L && got(1).getDouble(1) < 3.0)
  }

  /** duplicateClusters under the three driver-finish caps, as (path
    * taken, id -> root; one row per id is asserted): the default cap
    * (early driver finish over the raw edges), raw - 1 non-self pair rows
    * (one-hop contraction, then the residual driver finish — the
    * contraction leaves at most raw - 1 edges, since every edge into a
    * component minimum becomes a loop) and 0 (contraction, then the
    * distributed loop). A clique forest leaves no residual, so the last
    * two stop after the hop. */
  private def ccByCap(pairs: org.apache.spark.sql.DataFrame)
      : Seq[(String, Map[Long, Long])] = {
    import graft.operators.Dedup
    val raw = pairs.filter(col("doc_a") =!= col("doc_b")).count()
    Seq(Dedup.DriverFinishEdges, raw - 1, 0L).map { cap =>
      val rows = Dedup.duplicateClusters(pairs, driverFinishEdges = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val got = rows.toMap
      assert(got.size == rows.length, s"${Dedup.lastPath}: duplicate id rows")
      (Dedup.lastPath, got)
    }
  }

  /** Union-find reference for duplicateClusters: id -> component minimum
    * over every endpoint of a non-self pair (union by min, so each root
    * is its set's minimum). */
  private def refCc(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else find(p)
    }
    pairs.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("duplicateClusters: empty and self-pair-only inputs yield no labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    // self-pairs are dropped with the oriented edge build (documented):
    // a node appearing ONLY in self-pairs gets no output row
    val selfOnly = Seq((5L, 5L), (9L, 9L)).toDF("doc_a", "doc_b")
    Seq(empty, selfOnly).foreach { pairs =>
      val runs = ccByCap(pairs)
      assert(runs.map(_._1) == Seq("driver", "hop", "hop"))
      runs.foreach { case (path, got) => assert(got.isEmpty, path) }
    }
  }

  test("duplicateClusters labels every local minimum (star centered at the max)") {
    import spark.implicits._
    // Star whose CENTER is the component maximum: every leaf is a "local
    // minimum" (smaller than its only neighbor), so under the oriented
    // min-label agg none of the leaves appears on the u side — on the
    // contraction paths all their label rows come from the anti-join
    // recovery. Descending-pair orientation (center first) exercises the
    // greatest/least canonical build too. Expected: all nodes root at the
    // smallest leaf.
    val star = Seq((100L, 7L), (100L, 3L), (100L, 9L), (100L, 51L))
      .toDF("doc_a", "doc_b")
    val runs = ccByCap(star)
    assert(runs.map(_._1) == Seq("driver", "hop+driver", "hop+loop"))
    runs.foreach { case (path, got) =>
      assert(got == Map(100L -> 3L, 7L -> 3L, 3L -> 3L, 9L -> 3L, 51L -> 3L), path)
    }
    // isolated pair alongside the star: its smaller end is ALSO recovered
    // (two disjoint local minima in one run)
    val two = star.unionAll(Seq((60L, 55L)).toDF("doc_a", "doc_b"))
    val runs2 = ccByCap(two)
    assert(runs2.map(_._1) == Seq("driver", "hop+driver", "hop+loop"))
    runs2.foreach { case (path, got2) =>
      assert(got2(55L) == 55L && got2(60L) == 55L && got2(3L) == 3L, path)
    }
  }

  test("duplicateClusters resolves chains and cliques to min-root components") {
    import spark.implicits._
    // component 1: chain 1-2-3-4 (diameter 3 forces several iterations);
    // component 2: clique {10,11,12}; component 3: pair {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val runs = ccByCap(pairs)
    assert(runs.map(_._1) == Seq("driver", "hop+driver", "hop+loop"))
    runs.foreach { case (path, got) =>
      assert(got == Map(
        1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L,
        20L -> 20L, 21L -> 20L), path)
    }
  }

  test("duplicateClusters closes a clique forest in the one-hop contraction") {
    import spark.implicits._
    // every node is adjacent to its component minimum: cliques {10,11,12}
    // and {30..33}, a star centered at its minimum 1, a pair {20,21}, a
    // duplicate and a reversed row. Under any cap below the raw count the
    // contraction leaves no residual edge and returns its node map as is.
    val clique4 = for (a <- 30L to 33L; b <- 30L to 33L if a < b) yield (a, b)
    val pairs = (Seq((1L, 2L), (1L, 3L), (4L, 1L),
      (10L, 11L), (10L, 12L), (11L, 12L), (12L, 11L),
      (20L, 21L)) ++ clique4).toDF("doc_a", "doc_b")
    val runs = ccByCap(pairs)
    assert(runs.map(_._1) == Seq("driver", "hop", "hop"))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L) ++
      (30L to 33L).map(_ -> 30L)
    runs.foreach { case (path, got) => assert(got == want, path) }
  }

  test("duplicateClusters: every path == union-find reference (chain, clique, pair)") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L))
    val want = refCc(edges)
    assert(want == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    val runs = ccByCap(edges.toDF("doc_a", "doc_b"))
    assert(runs.map(_._1) == Seq("driver", "hop+driver", "hop+loop"))
    runs.foreach { case (path, got) => assert(got == want, path) }
  }

  test("duplicateClusters: every path == union-find reference on a seeded random graph + long chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 400 nodes, sparse random edges (many small components) + a diameter-120
    // chain over a disjoint id range (forces multi-round contraction) + dup
    // and self edges (must be ignored)
    val random = (1 to 300).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
    val chain = (1000L to 1120L).sliding(2).map(s => (s.head, s.last)).toSeq
    val edges = random ++ chain ++ Seq((5L, 5L), (1000L, 1001L))
    val want = refCc(edges)
    val pairs = edges.toDF("doc_a", "doc_b")
      .filter(col("doc_a") =!= col("doc_b"))
    val runs = ccByCap(pairs)
    assert(runs.map(_._1) == Seq("driver", "hop+driver", "hop+loop"))
    runs.foreach { case (path, got) =>
      assert(got == want, path)
      // the chain really contracted to its minimum
      assert((1000L to 1120L).forall(got(_) == 1000L), path)
    }
  }

  test("duplicateClusters throws when the star loop runs out of rounds") {
    import spark.implicits._
    import graft.operators.Dedup
    // the diameter-120 chain needs several star rounds plus a confirming
    // one; a single round must fail loudly, not return truncated labels
    val chain = (1000L to 1120L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b")
    val err = intercept[IllegalStateException](
      Dedup.duplicateClusters(chain, maxIter = 1, driverFinishEdges = 0L))
    assert(Dedup.lastPath == "hop+loop")
    assert(err.getMessage.contains("maxIter = 1"), err.getMessage)
    assert(err.getMessage.matches(".*\\(\\d+ edges at the last probe\\).*"), err.getMessage)
  }

  test("duplicateClusters: Int and Long ids on the early-driver, residual-driver and loop paths") {
    import spark.implicits._
    import graft.operators.Dedup
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 5), (10, 11))
    val want = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (10L, 10L), (11L, 10L))
    def check(pairs: DataFrame, t: DataType): Unit = {
      def run(cap: Long) = {
        val df = Dedup.duplicateClusters(pairs, driverFinishEdges = cap)
        assert(df.schema.map(f => (f.name, f.dataType)) == Seq(("id", t), ("root", t)),
          s"cap $cap: ${df.schema}")
        val labels = df.collect()
          .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).sorted.toSeq
        (df, labels)
      }
      def isLocal(df: DataFrame) =
        df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
      // raw = 5 non-self pair rows. The one-hop contraction turns every
      // edge touching a component minimum into a self-loop, so the
      // residual has at most raw - 1 edges (here 3: the chain 2-3-4-5
      // contracts to 1-2-3-4 minus its first edge) — a cap of raw - 1
      // skips the early finish and still finishes the residual on the
      // driver; 0 forces the loop.
      val (early, earlyLabels) = run(Dedup.DriverFinishEdges)
      assert(Dedup.lastPath == "driver")
      val (resid, residLabels) = run(pairs.count() - 1)
      assert(Dedup.lastPath == "hop+driver")
      val (_, loopLabels) = run(0L)
      assert(Dedup.lastPath == "hop+loop")
      assert(earlyLabels == want)
      assert(residLabels == want)
      assert(loopLabels == want)
      assert(isLocal(early), "early finish must return a driver-local frame")
      assert(!isLocal(resid), "the residual path composes over checkpointed labels")
    }
    check(edges.toDF("doc_a", "doc_b"), IntegerType)
    check(edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("doc_a", "doc_b"), LongType)
  }

  test("keepFromPairs drops planted embedding dups, keeps originals and singletons") {
    import spark.implicits._
    import graft.operators.Dedup
    val originals = (0L until 30L).map(i => (i, vec(i.toInt + 50, 32)))
    // ids 100+ are near-identical copies of vectors 0..4 -> must be dropped
    val copies = (0 until 5).map(p => (100L + p, nearDup(vec(p + 50, 32))))
    val emb = (originals ++ copies).toDF("vec_id", "v")
    // 0.999: planted copies score ~0.9999; the closest accidental pair of
    // the pseudo-random originals sits just above 0.99
    val pairs = Similarity.lshBucketJoin(
        emb, dim = 32, nBits = 6, minCosine = 0.999, multiProbe = true)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val kept = Dedup.keepFromPairs(emb.select("vec_id"), "vec_id", pairs)
      .collect().map(_.getLong(0)).toSet
    (0 until 5).foreach(p => assert(!kept.contains(100L + p), s"copy $p kept"))
    (0L until 30L).foreach(i => assert(kept.contains(i), s"original $i dropped"))
  }

  test("knnGraph: planted near-dups are mutual rank-1 neighbors; high recall vs brute kNN") {
    import spark.implicits._
    val originals = (0L until 40L).map(i => (i, vec(i.toInt + 9, 32)))
    val copies = (0 until 5).map(p => (100L + p, nearDup(vec(p + 9, 32))))
    val rows = originals ++ copies
    val emb = rows.toDF("vec_id", "v")
    val got = Similarity.knnGraph(emb, dim = 32, nBits = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    val top1 = got.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    (0 until 5).foreach { p =>
      assert(top1(p.toLong) == 100L + p, s"copy not rank-1 of original $p")
      assert(top1(100L + p) == p.toLong, s"original not rank-1 of copy $p")
    }
    // per-node edge budget respected
    got.groupBy(_._1).foreach { case (s, es) => assert(es.size <= 3, s"node $s") }
    // recall vs exact kNN (same k) over all nodes — the bucketed candidate
    // gate must keep most true neighbors at this density
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byId = rows.toMap
    val truth = rows.flatMap { case (id, v) =>
      rows.filter(_._1 != id)
        .map { case (j, u) => (id, j, cos(v, u)) }
        .sortBy { case (_, j, c) => (-math.rint(c * 1e6), j) }
        .take(3).map { case (s2, d2, _) => (s2, d2) }
    }.toSet
    val gotEdges = got.map(t => (t._1, t._2)).toSet
    val recall = (gotEdges & truth).size.toDouble / truth.size
    assert(recall >= 0.7, s"recall $recall")
  }

  test("nnDescentRound: refinement never loses recall vs the seed graph; budget + schema hold") {
    import spark.implicits._
    // sparse buckets (nBits=6 over 60 nodes) so the SRP seed graph has a
    // real recall gap for the refinement round to close
    val rows = (0L until 60L).map(i => (i, vec(i.toInt + 9, 32)))
    val emb = rows.toDF("vec_id", "v")
    val k = 3
    val seed = Similarity.knnGraph(emb, dim = 32, nBits = 6, k = k)
    val refined = Similarity.nnDescentRound(seed, emb, k = k)
    // same schema as knnGraph, so rounds chain; per-node budget respected
    assert(refined.columns.toSeq == Seq("src", "dst", "cos", "rn"))
    val got = refined.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    got.groupBy(_._1).foreach { case (s, es) =>
      assert(es.size <= k && es.map(_._3).sorted.toSeq == (1 to es.size), s"node $s")
    }
    // brute-force truth at the same k and tie-break
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val truth = rows.flatMap { case (id, v) =>
      rows.filter(_._1 != id)
        .map { case (j, u) => (id, j, cos(v, u)) }
        .sortBy { case (_, j, c) => (-math.rint(c * 1e6), j) }
        .take(k).map { case (s2, d2, _) => (s2, d2) }
    }.toSet
    def recallOf(g: org.apache.spark.sql.DataFrame): Double = {
      val es = g.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (es & truth).size.toDouble / truth.size
    }
    val (rSeed, rRef) = (recallOf(seed), recallOf(refined))
    assert(rRef >= rSeed, s"refinement lost recall: seed=$rSeed refined=$rRef")
    assert(rRef > rSeed, s"fixture too easy: seed already at $rSeed — lower nBits")
    // a second round chains on the first's output and keeps its gains
    val round2 = Similarity.nnDescentRound(refined, emb, k = k)
    assert(recallOf(round2) >= rRef)

    // int8 pre-score gate (the q_sim_nndescent production dial): schema +
    // per-node budget hold, and the gate is ordering-only — at factor 3
    // the survivor budget (9) exceeds this fixture's candidate depth
    // where quantization could reorder, so recall stays within noise of
    // the exact path and never below the seed
    val gated = Similarity.nnDescentRound(seed, emb, k = k, prescoreFactor = 3)
    assert(gated.columns.toSeq == Seq("src", "dst", "cos", "rn"))
    gated.collect().map(r => (r.getLong(0), r.getInt(3)))
      .groupBy(_._1).foreach { case (s, es) =>
        assert(es.size <= k && es.map(_._2).sorted.toSeq == (1 to es.size), s"node $s")
      }
    val rGated = recallOf(gated)
    assert(rGated >= rSeed, s"gated round lost recall vs seed: $rSeed -> $rGated")
    assert((rGated - rRef).abs <= 0.1,
      s"gate should be ordering-only at factor 3: exact=$rRef gated=$rGated")
  }

  // ---- the corpus-scaled radix-rank-tree variant -----------------------

  private def sqL2(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def ipow(k: Int, e: Int): Long = {
    var p = 1L; var i = 0
    while (i < e) { p *= k; i += 1 }
    p
  }

  /** In-memory replay of semanticAssignScaled's exact rule: stride-grid
    * fine seeds + min id, 0-based rank by id, L = ⌈log_k F⌉ radix levels
    * (leaf rank r sits in node r / k^(L-d) at depth d), greedy descent by
    * (sqL2 asc, child asc) argmin over the current node's children. */
  private def replayRadix(
      rows: Seq[(Long, Seq[Double])], stride: Int, k: Int): Map[Long, Long] = {
    val minId = rows.map(_._1).min
    val fines = rows
      .filter { case (id, _) => id % stride == 0 || id == minId }
      .sortBy(_._1).toIndexedSeq
    var l = 1
    while (ipow(k, l) < fines.length) l += 1
    rows.map { case (id, v) =>
      var g = 0L
      for (d <- 1 to l) {
        val span = ipow(k, l - d)
        val cands = fines.indices
          .filter(r => r % span == 0 && r / (span * k) == g)
        g = cands.map(r => (sqL2(v, fines(r)._2), r / span)).min._2
      }
      id -> fines(g.toInt)._1
    }.toMap
  }

  test("semanticAssignScaled at F <= fanout (one level) IS the flat argmin") {
    import spark.implicits._
    val rows = (0L until 72L).map(i => (i, vec(i.toInt, 8)))
    // stride 8 -> 9 fine seeds, fanout 32 -> a single descent level: the
    // tree degenerates to the exact flat argmin over all seeds
    val got = Similarity.semanticAssignScaled(rows.toDF("vec_id", "cv"), 8)
      .select("vec_id", "c_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minId = rows.map(_._1).min
    val fines = rows.filter { case (id, _) => id % 8 == 0 || id == minId }
    val flat = rows.map { case (id, v) =>
      id -> fines.map { case (fid, c) => (sqL2(v, c), fid) }.min._2
    }.toMap
    assert(got == flat)
    assert(got == replayRadix(rows, 8, 32))
  }

  test("semanticAssignScaled matches the radix-descent replay at two levels") {
    import spark.implicits._
    // unclustered random data — the routing-approximation worst case; the
    // differential pins the Spark plan to the exact deterministic rule.
    // stride 8 -> F = 10 seeds, fanout 4 -> L = 2 (one bundle join)
    val rows = (0L until 80L).map(i => (i, vec(i.toInt * 7 + 1, 16)))
    val got = Similarity.semanticAssignScaled(rows.toDF("vec_id", "cv"), 8, fanout = 4)
      .select("vec_id", "c_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == replayRadix(rows, 8, 4))
  }

  test("semanticAssignScaled matches the radix-descent replay at three levels") {
    import spark.implicits._
    // stride 4 -> F = 50 seeds, fanout 4 -> L = 3 (16 < 50 <= 64): a
    // NearestCells root step plus TWO chained bundle joins
    val rows = (0L until 200L).map(i => (i, vec(i.toInt * 3 + 2, 12)))
    val got = Similarity.semanticAssignScaled(rows.toDF("vec_id", "cv"), 4, fanout = 4)
      .select("vec_id", "c_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == replayRadix(rows, 4, 4))
  }

  test("semanticAssignScaled co-locates exact duplicates (the dedup invariant)") {
    import spark.implicits._
    // routing depends only on the vector, so identical vectors follow
    // identical comparisons and always land in the same cell — including a
    // duplicate OF a fine seed routed from elsewhere in the id space
    val rows = (0L until 64L).map(i => (i, vec(i.toInt, 8))) ++
      Seq((101L, vec(0, 8)), (102L, vec(13, 8)), (103L, vec(13, 8)))
    val got = Similarity.semanticAssignScaled(rows.toDF("vec_id", "cv"), 4, fanout = 4)
      .select("vec_id", "c_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == rows.size)
    assert(got(101L) == got(0L))
    assert(got(102L) == got(13L) && got(103L) == got(13L))
    assert(got == replayRadix(rows, 4, 4))
  }

  test("semanticDedupScaled drops planted near-dups, keeps originals") {
    import spark.implicits._
    val originals = (0L until 20L).map(i => (i, vec(i.toInt + 50, 32)))
    // tiny perturbations keep the copies in their originals' cells (fine
    // seeds are ~unit apart; the perturbation moves the vector ~0.01)
    val copies = Seq((103L, nearDup(vec(53, 32))), (107L, nearDup(vec(57, 32))))
    val emb = (originals ++ copies).toDF("vec_id", "cv")
    val kept = Similarity.semanticDedupScaled(emb, tau = 0.999, cellStride = 8)
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(103L) && !kept.contains(107L), kept.toString)
    (0L until 20L).foreach(i => assert(kept.contains(i), s"original $i dropped"))
  }

  test("semanticDedupScaled on an empty corpus returns an empty (vec_id, c_id) frame") {
    import spark.implicits._
    val emb = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "cv")
    val out = Similarity.semanticDedupScaled(emb, tau = 0.9)
    assert(out.columns.toSeq == Seq("vec_id", "c_id"))
    assert(out.count() == 0)
  }

  test("incremental near-dup flags arrivals colliding with the persisted band table") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    def shingled(rows: Seq[(Long, String)]) =
      rows.toDF("id", "text")
        .select(col("id"), T.ngrams(T.tokens(col("text")), 3).as("shingles"))
        .filter(size(col("shingles")) > 0)
    val corpus = shingled(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark shuffles partitions across the cluster respecting locality"),
      (3L, "completely unrelated text about astronomy and telescopes")))
    // persist ONLY the band table — the corpus text is gone
    val statePath = SparkTest.tempDir("graft-bands") + "/bands"
    Similarity.bandTable(corpus, k = 16, nBands = 4)
      .write.parquet(statePath)
    val bands = spark.read.parquet(statePath)
    val incoming = shingled(Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight again"),
      (101L, "entirely fresh content mentioning gardens and rivers flowing")))
    val hits = Similarity.incrementalNearDup(bands, incoming, k = 16, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((100L, 1L)), s"near-dup of doc 1 not flagged: $hits")
    assert(!hits.exists(_._1 == 101L), s"fresh doc flagged: $hits")
  }

  test("incremental embed dedup vs persisted bucket table == brute-force multi-probe") {
    import spark.implicits._
    val dim = 16
    val corpus = (1 to 40).filter(_ % 5 != 0)
      .map(i => (i.toLong, vec(i, dim))) ++
      Seq((41L, vec(3, dim)))                      // exact dup of corpus id 3
    val batch = (1 to 40).filter(_ % 5 == 0)
      .map(i => (i.toLong, vec(i, dim))) ++
      Seq((100L, nearDup(vec(7, dim))))            // near-dup of corpus id 7
    val existing = corpus.toDF("vec_id", "v")
    val incoming = batch.toDF("vec_id", "v")
    val nBits = 6
    // persist ONLY the bucket table — corpus buckets are never recomputed
    val statePath = SparkTest.tempDir("graft-buckets") + "/buckets"
    Similarity.bucketTable(existing, dim, nBits).write.parquet(statePath)
    val buckets = spark.read.parquet(statePath)
    val got = Similarity.incrementalEmbedDedup(
        buckets, existing, incoming, dim, nBits, minCosine = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 7L)), s"planted near-dup not flagged: $got")
    // brute force with the same recall contract: Hamming<=1 buckets,
    // exact cosine gate
    val bIn = incoming.select(col("vec_id").as("id"), col("v"),
      Similarity.srpBucket(col("v"), dim, nBits).as("bi"))
    val bEx = existing.select(col("vec_id").as("matched_id"), col("v").as("mv"),
      Similarity.srpBucket(col("v"), dim, nBits).as("be"))
    val brute = bIn.crossJoin(bEx)
      .filter(bit_count(col("bi").bitwiseXOR(col("be"))) <= 1)
      .filter(V.cosineNative(col("v"), col("mv")) >= 0.95)
      .select("id", "matched_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute)
  }

  test("jaccard banding finds near-dups of DIFFERENT lengths (old blocking missed)") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    // doc 2 is doc 1 plus one token: different n_chars, Jaccard 10/11
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = t1 + " lambda"
    // unrelated filler of yet other lengths
    val docs = Seq(
      (1L, "en", t1), (2L, "en", t2),
      (3L, "en", "completely different words about spark and shuffles here"),
      (4L, "ko", "한국어 문서 하나")
    ).toDF("doc_id", "lang", "text")
      .withColumn("n_chars", length(col("text")))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        T.tokens(col("text")).as("toks"))
    val pairs = Similarity.jaccardNearDupPairs(docs, minJaccard = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
    // exact-n_chars blocking (the round-1 formulation) misses this pair
    val exactBlock = docs.select(col("doc_id").as("a"), col("lang"), col("n_chars"))
      .join(docs.select(col("doc_id").as("b"), col("lang"), col("n_chars")),
        Seq("lang", "n_chars"))
      .filter(col("a") === 1L && col("b") === 2L).count()
    assert(exactBlock == 0L)
  }

  test("jaccard PPJoin prunes are lossless vs in-band brute force (seeded corpus)") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    // seeded corpus with heavy near-dup structure: base docs plus light-edit
    // copies (drop/append/replace one token) — sizes differ, so the
    // asymmetric index prefix and the first-common-token positional filter
    // both get exercised on qualifying AND near-miss pairs
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 60).map(i => s"w$i")
    val docs = (1 to 40).flatMap { i =>
      val n = 6 + rnd.nextInt(10)
      val toks = rnd.shuffle(vocab).take(n)
      val edits = Seq(
        toks.drop(1),                                  // one removed
        toks :+ s"extra$i",                            // one added
        toks.updated(0, s"swap$i"))                    // one replaced
        .take(1 + rnd.nextInt(3))
      (Seq(toks) ++ edits).zipWithIndex.map { case (ts, j) =>
        (i * 10L + j, if (i % 4 == 0) "ko" else "en", ts.mkString(" "))
      }
    }.toDF("doc_id", "lang", "text")
      .withColumn("n_chars", length(col("text")))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        T.tokens(col("text")).as("toks"))
    val got = Similarity.jaccardNearDupPairs(docs, minJaccard = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force, same blocking semantics as the oracle: shared lang,
    // log-band within +-1, exact token-set jaccard >= 0.5
    val t = docs.select(col("doc_id"), col("lang"),
      floor(log1p(col("n_chars")) / 0.1).cast("long").as("band"),
      array_distinct(col("toks")).as("toks"))
    val brute = t.as("x").join(t.as("y"),
        col("x.lang") === col("y.lang") &&
          abs(col("x.band") - col("y.band")) <= 1 &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(
        size(array_intersect(col("x.toks"), col("y.toks"))).cast("double") /
          size(array_union(col("x.toks"), col("y.toks"))) >= 0.5)
      .select(col("x.doc_id"), col("y.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture produced no qualifying pairs")
    assert(got == brute)
  }

  test("containment prunes are lossless vs brute force (subsets, chains, mutual)") {
    import spark.implicits._
    // seeded corpus exercising exactly the structures the operator exists
    // for: containment CHAINS (full doc ⊃ 2/3 slice ⊃ 1/3 slice), MUTUAL
    // containment (exact copy — both ordered directions must appear),
    // near-misses (half shared, half fresh — below t on the fresh side),
    // an empty-token doc (excluded: containment undefined), and two langs
    val rnd = new scala.util.Random(13)
    val vocab = (1 to 80).map(i => s"w$i")
    val docs = ((1 to 30).flatMap { i =>
      val n = 9 + rnd.nextInt(12)
      val toks = rnd.shuffle(vocab).take(n)
      // lang per FAMILY so the planted in-family structure is same-lang;
      // cross-family near-misses still span both languages
      val lang = if (i % 3 == 0) "ko" else "en"
      Seq(
        (i * 10L, lang, toks),
        (i * 10L + 1, lang, toks.take(2 * n / 3)),
        (i * 10L + 2, lang, toks.take(n / 3)),
        (i * 10L + 3, lang, toks),
        (i * 10L + 4, lang,
          toks.take(n / 2) ++ (1 to (n - n / 2)).map(k => s"fresh${i}_$k")))
    } :+ ((9999L, "en", Seq.empty[String])))
      .toDF("doc_id", "lang", "toks")
    val got = Similarity.containmentNearDupPairs(docs, minContainment = 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: ordered pairs, same lang, distinct-set overlap / |A|
    val t = docs
      .select(col("doc_id"), col("lang"), array_distinct(col("toks")).as("ts"))
      .filter(size(col("ts")) > 0)
    val brute = t.as("x").join(t.as("y"),
        col("x.lang") === col("y.lang") && col("x.doc_id") =!= col("y.doc_id"))
      .filter(size(array_intersect(col("x.ts"), col("y.ts"))).cast("double") /
        size(col("x.ts")) >= 0.8)
      .select(col("x.doc_id"), col("y.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture produced no qualifying pairs")
    assert(got == brute)
    // the planted structures really are in the result: chain links (slice
    // contained in full) and BOTH directions of the exact-copy pair
    assert(got.contains((11L, 10L)) && got.contains((12L, 10L)))
    assert(got.contains((10L, 13L)) && got.contains((13L, 10L)))
    // the empty-token doc pairs with nothing in either direction
    assert(!got.exists(p => p._1 == 9999L || p._2 == 9999L))
    // index-prefix knob: every fixture doc (bar the excluded empty one)
    // has >= 3 distinct tokens (families slice to n/3 with n >= 9), so
    // minDocTokens = 3 satisfies the caller contract and must be a pure
    // optimization — identical pair set, index prefix g = ceil(0.8*3) = 3
    // rows shorter per doc
    val gotFloor = Similarity.containmentNearDupPairs(
        docs, minContainment = 0.8, minDocTokens = 3L)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotFloor == got)
  }

  test("containment catches a doc embedded in a 10x larger one (jaccard ~0.1)") {
    import spark.implicits._
    // the Lee et al. 2022 §4 structural gap: J = 10/100 = 0.1 (any
    // symmetric threshold misses it), containment(small→big) = 1.0
    val small = (1 to 10).map(i => s"s$i")
    val big = small ++ (1 to 90).map(i => s"b$i")
    val docs = Seq((1L, "en", small), (2L, "en", big))
      .toDF("doc_id", "lang", "toks")
    val rows = Similarity.containmentNearDupPairs(docs, minContainment = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows.keySet == Set((1L, 2L))) // small contained in big, not reverse
    assert(rows((1L, 2L)) == 1.0)
  }

  test("wider jaccard bands catch larger length gaps (recall dial)") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    // ~1.9x length ratio at Jaccard 10/19 >= 0.5: outside the 0.1-width
    // default's reach, caught at bandWidth = ln(2)
    val base = (1 to 10).map(i => s"tok$i").mkString(" ")
    val big = base + " " + (11 to 19).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, "en", base), (2L, "en", big))
      .toDF("doc_id", "lang", "text")
      .withColumn("n_chars", length(col("text")))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        T.tokens(col("text")).as("toks"))
    val narrow = Similarity.jaccardNearDupPairs(docs, 0.5).count()
    val wide = Similarity.jaccardNearDupPairs(docs, 0.5, bandWidth = math.log(2)).count()
    assert(narrow == 0L)
    assert(wide == 1L)
  }

  test("quantRerankTopK: high recall vs brute force; planted near-dup ranks first") {
    import spark.implicits._
    val dim = 32
    val corpus = (0 until 400).map(i => (1000L + i, vec(i, dim))).toDF("vec_id", "cv")
    // quant additionally sees an all-zero corpus vector: cosine is
    // undefined on it, and an unguarded NaN score would SORT FIRST under
    // desc — the operator must drop it at quantize time (brute force has
    // no such guard, so it compares against the clean corpus)
    val corpusWithZero = corpus.unionByName(
      Seq((9999L, Seq.fill(dim)(0.0))).toDF("vec_id", "cv"))
    // queries: 5 near-dups of corpus vectors (ids 1000, 1037, ...) + 3 fresh
    val qs = ((0 until 5).map(i => (i.toLong, nearDup(vec(i * 37, dim)))) ++
      (5 until 8).map(i => (i.toLong, vec(9000 + i, dim)))).toDF("q_id", "qv")
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val quant = Similarity.quantRerankTopK(qs, corpusWithZero, k = 5, candidateFactor = 4)
    val brute = Similarity.bruteForceTopK(qs, corpus, k = 5)
    val gotSets = topSets(quant)
    val wantSets = topSets(brute)
    // the rerank is exact, so misses can only come from the coarse int8
    // cut — on random vectors the codes preserve order far beyond the
    // 4x candidate slack; require >= 90% overall recall
    val hits = wantSets.map { case (q, want) => (gotSets(q) & want).size }.sum
    val total = wantSets.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.9, s"recall $hits/$total")
    // rank-1 PARITY with brute force: the rerank is exact cosine, so as
    // long as the true nearest survives the coarse cut, the winners match
    // (the ramp-structured vec() fixture makes several corpus vectors
    // nearly collinear — exactly the regime where a dot-scored coarse
    // stage mis-cuts, which is what this pins against)
    def firsts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rn") === 1).select("q_id", "vec_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(firsts(quant) == firsts(brute))
    assert(!gotSets.values.exists(_.contains(9999L)), "zero vector must be dropped")
  }

  test("end-to-end dedup survivors == union-find over brute-force pairs") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    // seeded corpus: base docs plus light-edit copies (the q_corpus_dedup_e2e
    // compose: pairs at t=0.7 -> connected components -> min-id keeper ->
    // anti-join). Includes singletons (no edits) so the anti-join's
    // "untouched docs survive" path is exercised.
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 50).map(i => s"w$i")
    val docsRaw = (1 to 30).flatMap { i =>
      val toks = rnd.shuffle(vocab).take(8 + rnd.nextInt(8))
      val edits =
        if (i % 5 == 0) Seq.empty // singleton
        else Seq(toks.drop(1), toks :+ s"x$i").take(1 + rnd.nextInt(2))
      (Seq(toks) ++ edits).zipWithIndex.map { case (ts, j) =>
        (i * 10L + j, if (i % 3 == 0) "ko" else "en", ts.mkString(" "))
      }
    }
    val docs = docsRaw.toDF("doc_id", "lang", "text")
      .withColumn("n_chars", length(col("text")))
    val t = docs.select(col("doc_id"), col("lang"), col("n_chars"),
      T.tokens(col("text")).as("toks"))
    val pairs = Similarity.jaccardNearDupPairs(t, minJaccard = 0.7)
    val losers = graft.operators.Dedup.duplicateClusters(
        pairs.select("doc_a", "doc_b"))
      .filter(col("root") =!= col("id")).select(col("id").as("doc_id"))
    val got = docs.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // brute force: in-band exact-jaccard pairs, then union-find, min root kept
    val bt = t.select(col("doc_id"), col("lang"),
      floor(log1p(col("n_chars")) / 0.1).cast("long").as("band"),
      array_distinct(col("toks")).as("toks"))
    val brutePairs = bt.as("x").join(bt.as("y"),
        col("x.lang") === col("y.lang") &&
          abs(col("x.band") - col("y.band")) <= 1 &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(
        size(array_intersect(col("x.toks"), col("y.toks"))).cast("double") /
          size(array_union(col("x.toks"), col("y.toks"))) >= 0.7)
      .select(col("x.doc_id"), col("y.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(brutePairs.nonEmpty, "fixture produced no qualifying pairs")
    val parent = scala.collection.mutable.Map(
      docsRaw.map(_._1).map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    brutePairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = docsRaw.map(_._1).filter(i => find(i) == i).toSet
    assert(want.size < docsRaw.size, "fixture produced no losers")
    assert(got == want)
  }
}
