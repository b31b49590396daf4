package graft.tools

import graft.Tables
import graft.functions.{Portable, VectorFunctions => V}
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recall artifact for the kNN-graph construction path: measures recall@k vs brute-force kNN for the SRP-bucketed seed graph
  * ([[Similarity.knnGraph]]) and each NN-descent refinement round
  * ([[Similarity.nnDescentRound]]) on the real embeddings table — the
  * number that justifies (or refutes) paying for a refinement round at
  * scale.
  *
  * Brute-force truth: per-vector top-k over ALL pairs under the SAME
  * ranking the operators use (round(cos,6) desc, id asc), built as a
  * broadcast cross join (corpus×corpus rows stream map-side; only the
  * per-src window shuffles) — feasible at probe scales, and exactly the
  * O(N²) cost the bucketed path exists to avoid. Recall is computed
  * distributed (edge-set equi-join), only scalars reach the driver.
  *
  * Mirrors the registered q_sim_nndescent exactly: md5 hyperplanes,
  * corpus-derived bit count, k = 5 default.
  *
  * A fourth arg selects a derived fixture over the raw table:
  *
  *  - `planted` — clusters of 4: ids with vec_id%4!=0 become small
  *    deterministic jitters of their cluster base vec_id - vec_id%4.
  *    Uniform random embeddings are the worst case for both LSH recall
  *    and neighbor transitivity (no manifold structure); planted mode
  *    shows the lift on data with real neighborhood structure. Its limit:
  *    jittered clones co-bucket, so the SEED already finds
  *    them — it demonstrates LSH recall, not transitivity.
  *  - `chained` — ELONGATED clusters wider than one SRP bucket (the
  *    fixture NN-descent can actually win on): chains of
  *    8, member m of chain c placed at angle m·θ (θ=0.2 rad) along the
  *    great circle from c's base vector toward a deterministic
  *    norm-matched ±1 direction, so cos(member_i, member_j) ≈
  *    cos((i−j)·0.2) — adjacent mates at ~0.98, chain ends ~80° apart.
  *    Each node's true top-k are its chain NEIGHBORS, but the chain
  *    spans many SRP buckets, so the seed graph only sees the mates that
  *    share (or Hamming-1-share) its bucket; recovering the rest needs
  *    exactly the neighbor-of-a-neighbor step a refinement round adds.
  *
  * Usage: runMain graft.tools.RecallProbe <sfDir> [k] [rounds] [planted|chained] [theta]
  * (theta — chained mode's per-step angle in radians, default 0.2 —
  * sweeps chain elongation vs per-round recall lift)
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val rounds = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val mode = args.drop(3).headOption.getOrElse("raw")
    require(Set("raw", "planted", "chained")(mode), s"unknown mode $mode")
    val theta = args.drop(4).headOption.map(_.toDouble).getOrElse(0.2)
    val spark = Tables.session()
    spark.range(100000).selectExpr("sum(id)").collect()

    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), V.asDouble(col("embedding")).as("v"))
      .filter(V.l2Norm(col("v")) > 0)
    val emb = (mode match {
      case "raw" => raw
      case "planted" =>
        // clusters of 4: member m of cluster c reuses c's base vector with
        // a deterministic per-component jitter — in-cluster cosine ~0.999,
        // so each node's true top-3 are its cluster mates
        val base = raw.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id").as("bid"), col("v").as("bv"))
        raw.select(col("vec_id"),
            (col("vec_id") - pmod(col("vec_id"), lit(4))).as("bid"))
          .join(base, Seq("bid"))
          .select(col("vec_id"), expr(
            "transform(bv, (x, i) -> x + (vec_id % 4) * 0.003 * " +
              "(CASE WHEN pmod(xxhash64(vec_id, i), 2) = 0 THEN 1.0 ELSE -1.0 END))"
          ).as("v"))
      case "chained" =>
        // chains of 8: v_m = cos(m·θ)·u + sin(m·θ)·w with u the chain
        // base vector and w a deterministic ±1 direction scaled by
        // rms(u) = |u|/√64 so |w| = |u| exactly; u·w ≈ 0 in 64-dim, so
        // cos(v_i, v_j) ≈ cos((i−j)·θ). θ = 0.2 rad: adjacent mates
        // ~0.98, the chain's 1.4 rad sweep crosses many SRP hyperplanes —
        // structure WIDER than one bucket by construction
        val base = raw.filter(col("vec_id") % 8 === 0)
          .select(col("vec_id").as("bid"), col("v").as("bv"))
        raw.select(col("vec_id"),
            (col("vec_id") - pmod(col("vec_id"), lit(8))).as("bid"),
            pmod(col("vec_id"), lit(8)).cast("double").as("m"))
          .join(base, Seq("bid"))
          .select(col("vec_id"), col("bid"), col("m"), col("bv"),
            (V.l2Norm(col("bv")) / lit(8.0)).as("rms"))
          .select(col("vec_id"), expr(
            s"transform(bv, (x, i) -> cos(m * $theta) * x + " +
              s"sin(m * $theta) * rms * " +
              "(CASE WHEN pmod(xxhash64(bid, i), 2) = 0 THEN 1.0 ELSE -1.0 END))"
          ).as("v"))
    }).localCheckpoint(true)
    val n = emb.count()
    val nBits = Similarity.lshNBits(n)
    println(s"[recall-probe] sfDir=$sfDir n=$n k=$k nBits=$nBits rounds=$rounds mode=$mode theta=$theta")

    // brute-force truth: same tie-break as knnGraph's window
    val truthW = Window.partitionBy("src").orderBy(Portable.round6Key(col("cos")).desc, col("dst"))
    val truth = emb.select(col("vec_id").as("src"), col("v").as("sv"))
      .crossJoin(broadcast(emb.select(col("vec_id").as("dst"), col("v").as("dv"))))
      .filter(col("src") =!= col("dst"))
      .withColumn("cos", V.cosineNative(col("sv"), col("dv")))
      .select("src", "dst", "cos")
      .withColumn("rn", row_number().over(truthW))
      .filter(col("rn") <= k)
      .select("src", "dst")
      .localCheckpoint(true)
    val truthEdges = truth.count()

    def recallOf(g: DataFrame): Double =
      g.select("src", "dst").join(truth, Seq("src", "dst"), "left_semi")
        .count().toDouble / truthEdges

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // seed graph, materialized so each round's wall is its own cost
    val (seed, seedWall) = timed {
      Similarity.knnGraph(emb, dim = 64, nBits = nBits, k = k)
        .localCheckpoint(true)
    }
    var g = seed
    var stats = List(("seed", recallOf(seed), seedWall))
    (1 to rounds).foreach { r =>
      val (next, wall) = timed {
        // exact rounds — mirrors the registered q_sim_nndescent (the int8
        // pre-score dial measured slower at this dim/scale, SCALE_r16.json
        // `nndescent_ab`)
        Similarity.nnDescentRound(g, emb, k = k).localCheckpoint(true)
      }
      g = next
      stats = stats :+ ((s"round$r", recallOf(next), wall))
    }
    stats.foreach { case (tag, rec, wall) =>
      println(f"[recall-probe] $tag: recall@$k=$rec%.4f wall=$wall%.2f s")
    }
    val recJson = stats.map { case (t, r, _) => f""""$t":$r%.4f""" }.mkString(",")
    val wallJson = stats.map { case (t, _, w) => f""""$t":$w%.2f""" }.mkString(",")
    println(s"""{"metric":"nndescent_recall","sf":"$sfDir","n":$n,"k":$k,""" +
      s""""nbits":$nBits,"mode":"$mode","theta":$theta,""" +
      s""""truth_edges":$truthEdges,""" +
      s""""recall":{$recJson},"wall_s":{$wallJson}}""")
    spark.stop()
  }
}
