package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators — exact family (SURVEY.md §2.7, §2.10; the
  * near-dup family lives in graft.functions.MinHash / SimHash) plus the
  * pairs → clusters resolution.
  *
  * The exact shapes are a single hash shuffle on the dedup key — the only
  * scan pattern that survives 100 TB. The only driver collects are the
  * finishes of [[Dedup.duplicateClusters]], bounded at
  * [[Dedup.DriverFinishEdges]] two-long edges (≤ 16 MB).
  */
object Dedup {

  /** One row per distinct key combination: deterministic keeper id
    * (min of `idCol`) plus the duplicate count. Group-by formulation —
    * map-side partial aggregation halves the shuffle vs a window. */
  def exactGroups(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select(col("keep_id"), col("dup_cnt"))

  /** dropDuplicates with a deterministic survivor: keeps the full row with
    * the smallest `idCol` per key (plain dropDuplicates keeps an arbitrary
    * row, which breaks differential testing and reproducibility). */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    df.withColumn("__dd_rn", row_number().over(w))
      .filter(col("__dd_rn") === 1)
      .drop("__dd_rn")
  }

  /** Edge cap for the driver union-find finish of the post-contraction
    * residual in [[duplicateClusters]]: 1M two-long edges ≤ 16 MB on the
    * driver — the same bounded-collect class as the bloom-filter bytes
    * (Joins.scala). Above the cap the distributed star loop runs exactly
    * as before, so the finish is never load-bearing for correctness. */
  val DriverFinishEdges: Long = 1L << 20

  /** Raw pair-row cap for the EARLY driver finish of
    * [[duplicateClusters]] (union-find over the uncontracted graph, no
    * hop). Its cost is dominated by the nodes it returns as a driver-local
    * frame, and the raw row count bounds the nodes only by 2x. Measured
    * against the one-hop path on local[4] (`graft.tools.Profile cc`,
    * 7 GB heap, warm reps), for the worst shape — disjoint pairs, two new
    * nodes per row: 64k rows 0.9–1.1 s vs 1.2–1.4 s; 128k rows 1.5–1.8 s
    * vs 1.6–1.7 s (the crossover); 256k rows 2.6–3.4 s vs 2.0–2.4 s; 1M
    * rows 9–11 s and +1.1–1.6 GB old gen vs 3.6–5.2 s. Clique forests (few
    * nodes per row) still win above it (sf0.1: 478k rows over 4.7k nodes,
    * 0.5–0.7 s vs 1.3 s) but cannot be told apart from the row count the
    * operator has, so the cap sits at the worst shape's crossover. */
  val DriverEarlyEdges: Long = 1L << 17

  /** Path taken by the most recent [[duplicateClusters]] call:
    * "driver" (early driver finish over the raw edges), "hop" (the
    * one-hop contraction closed every component), "hop+driver" (residual
    * driver finish) or "hop+loop" (distributed loop over the residual).
    * Diagnostic read by SimilaritySpec to pin each fixture to the path it
    * covers; not part of the operator contract. */
  @volatile private[graft] var lastPath: String = ""

  /** Node cap for broadcasting the min-label map into the contraction
    * join of [[duplicateClusters]] (2M two-long rows ≈ 32 MB raw, ~100 MB
    * as two hashed broadcast relations — sized for ordinary 8 GB
    * executors). Below it the edge set is contracted by a narrow map
    * without being shuffled; above it the contraction shuffles edges on
    * each endpoint, which is the safe shape at any node count. */
  val BroadcastContractNodes: Long = 1L << 21

  /** Resolve near-dup PAIRS into duplicate CLUSTERS: connected components
    * by iterative contraction. Input: (doc_a, doc_b) pairs; output:
    * (id, root) with root = smallest id in the component; every path below
    * produces the same labeling (SimilaritySpec checks each against a
    * union-find reference on chains, cliques and seeded random graphs).
    *
    * Self-pairs (doc_a == doc_b) are dropped with the canonical edge
    * build, so a node appearing ONLY in self-pairs gets no output row
    * (it belongs to no multi-node cluster; label it `id` itself if
    * needed). In practice the case is unreachable from this library's
    * pair producers — jaccardNearDupPairs, minhashCandidatePairs and
    * lshBucketJoin all emit strictly `a < b` pairs.
    *
    * Large residuals run two-phase star contraction (Kiveris et al., SoCC
    * 2014), whose edge set only ever shrinks: with the edge build shared,
    * it beat hash-to-min at 5k, 0.5M and 29M edges (5x on the last). The
    * loop runs O(log n) rounds with a cheap monotone fixpoint probe per
    * round instead of a compare-join, and throws IllegalStateException if
    * `maxIter` rounds end without a fixpoint — truncated labels would be
    * wrong clusters. Star centers make the groupBy key skewed by design.
    * Since the round shuffles are explicit repartitions on the key (the
    * AQE-coalescing opt-out, see roundPartitions), the exchange runs
    * BEFORE partial aggregation — raw edge rows shuffle and a giant
    * component's neighborhood lands in one task. That single-task bound
    * is accepted: the rows are two longs each, the min-per-key reduce is
    * streaming (no buffering), and the alternative (groupBy-first with
    * map-side combine) re-exposes the measured 100x AQE pathology of
    * packing early-round shuffles into too few fat tasks.
    *
    * Small graphs never enter the loop: when the raw pair rows (after
    * self-loop removal) number at most `driverFinishEdges` and at most
    * [[DriverEarlyEdges]], they are collected once and resolved by
    * union-find on the driver — two Spark jobs (the edge checkpoint,
    * which also counts, and the collect) instead of the min-label hop,
    * contraction and 4+ jobs per loop round, whose fixed per-job cost is
    * the whole price on a graph of that size.
    * Larger graphs take the pre-contraction hop, and a residual of at
    * most `driverFinishEdges` edges is again finished on the driver; only
    * a larger residual runs the distributed star loop. The driver
    * finishes take integral ids (byte, short, int, long) and return them
    * in the input's type; other id types always run the loop.
    * `driverFinishEdges = 0` forces the loop (parity tests, fault
    * injection).
    *
    * `mode` picks where each round's truncated state lives:
    * [[CheckpointMode.Local]] (default, executor blocks — single-node /
    * fail-fast) or [[CheckpointMode.Reliable]] (fault-tolerant checkpoint
    * dir — an executor lost mid-loop re-reads instead of failing the
    * job). Output is identical either way (CheckpointModeSpec). */
  def duplicateClusters(
      pairs: DataFrame,
      maxIter: Int = 20,
      mode: CheckpointMode = CheckpointMode.Local,
      driverFinishEdges: Long = DriverFinishEdges): DataFrame = {
    val lin = new Lineage(pairs.sparkSession, mode)
    // Oriented edge rows, self-loops dropped — NOT deduplicated (round-9):
    // the min-label pre-contraction below is duplicate-insensitive (min
    // over a multiset), so the full-volume distinct the canonical build
    // used to pay is deferred to the post-contraction residual, whose
    // distinct value count is orders of magnitude smaller on real
    // near-dup graphs. Materialized eagerly: the frame feeds the
    // min-label aggregation AND the contraction join, and upstream is
    // typically the expensive near-dup pair pipeline. The raw pair-row
    // count (an upper bound, used for the driver-finish decision and for
    // sizing) is taken in the same job.
    val (e, eIds, edges) = lin.trackedCount(
      pairs.select(
          greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v")))
    val integralIds = e.schema("u").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integralIds && driverFinishEdges > 0 &&
        edges <= math.min(driverFinishEdges, DriverEarlyEdges)) {
      // small raw graph: driver union-find over every edge, no loop at all
      val labels = driverComponents(e)
      lin.release(eIds)
      lastPath = "driver"
      return labels
    }

    // PRE-CONTRACTION (round-9): real near-dup graphs are clique forests —
    // most components are a handful of mutual near-dups whose every node
    // is directly adjacent to the component minimum, so they close in ONE
    // min-label hop (measured at sf0.1: 478k pair rows over 4.7k nodes
    // contract to 1.1k residual edges — 99.8% of the graph never enters
    // the loop). Paying the star loop's fixed costs (two phases plus a
    // convergence-confirm round = 4+ full-graph shuffles even on an
    // already-starred graph) for those was the measured bulk of
    // q_dedup_clusters. So: one min-label round over the oriented edges
    // (m(x) = min of x's closed neighborhood), contract every edge to
    // (m(u), m(v)), and resolve only the RESIDUAL graph. Composition is
    // exact, not heuristic:
    //  - m(x) is in x's component, so contraction preserves components;
    //  - the component minimum r has m(r) = r, so r survives into the
    //    residual and stays the minimum there;
    //  - a residual-isolated node w is a fully-closed component's minimum
    //    (if w's component had another distinct m-image, the contracted
    //    image of a connected graph is connected, giving w a non-loop
    //    edge), so falling back to m(v) when the residual has no label
    //    for m(v) is the true component min.
    // Final label: root(v) = residualRoot(m(v)), else m(v). The hop does
    // NOT help high-diameter graphs (a chain contracts to a chain one
    // edge shorter), which is exactly why the star loop stays as the
    // big-residual path. Every path's labeling is spec-tested against a
    // union-find reference on chains, cliques and seeded random graphs
    // (SimilaritySpec).
    //
    // Shuffle shape (round-11): the agg runs over the ORIENTED edges only,
    // not the symmetrization. Under u > v, a neighbor LARGER than x can
    // never lower m(x) = min(N(x) ∪ {x}), so every (v → u) row the old
    // symmetrized shape shuffled was provably dead weight for the min —
    // m(u) over the oriented rows alone is min(v : v < u, (u,v) ∈ E),
    // already the closed-neighborhood minimum (and < u, so the least()
    // with the node id is redundant). HALF the pre-contraction shuffle
    // rows, the single biggest shuffle of the operator. What the v-side
    // rows did buy was node PRESENCE: a "local minimum" (a node smaller
    // than all its neighbors — component minima, mostly) never appears as
    // a u, so it gets no agg row. Those are recovered below with m(x) = x
    // from the contraction join itself (rv IS NULL on its left join —
    // see the tagged one-pass note at the contraction), so presence
    // costs no extra scan of the edge set.
    val np0 = roundPartitions(e, edges)
    val (labels0, l0Ids) = lin.tracked(
      e.repartition(np0, col("u"))
        .groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("id"), col("mn").as("root")),
      eager = true)
    val aggNodes = labels0.count() // cheap: labels0 is checkpointed
    val lu = labels0.select(col("id").as("u"), col("root").as("ru"))
    val lv = labels0.select(col("id").as("v"), col("root").as("rv"))
    // Contraction join strategy: labels0 has one row per labeled NODE —
    // orders of magnitude smaller than the edge set on dense near-dup
    // graphs (4.7k nodes vs 478k edges at sf0.1; 349k vs 29.2M at the
    // 100x probe). Up to BroadcastContractNodes the node map is broadcast
    // to both ends of the contraction, turning it into a NARROW double map
    // over the checkpointed edges — the edge set is never shuffled for the
    // joins, only for the residual dedup. Above the cap, fall back to two
    // hash shuffles of the edges sized by the row budget. The v side is a
    // LEFT join: a local minimum has no agg row, and coalesce(rv, v) is
    // exactly its m(v) = v — so the contraction never needs the recovered
    // minima map at all, only the compose below does.
    val contracted =
      if (aggNodes <= BroadcastContractNodes)
        e.join(broadcast(lu), Seq("u")).join(broadcast(lv), Seq("v"), "left")
      else
        e.repartition(np0, col("u")).join(lu, Seq("u"))
          .repartition(np0, col("v")).join(lv, Seq("v"), "left")
    val rvc = coalesce(col("rv"), col("v"))
    // ONE tagged pass produces BOTH contraction outputs (round-12; the
    // phase timing showed the previous shape's separate minima stage —
    // broadcast anti-join over e.v + distinct — costing 7-10 s at the
    // 100x probe, a second full scan of the edge checkpoint for
    // information the contraction join already computes: rv IS NULL on
    // the left join ⟺ v has no agg row ⟺ v is a local minimum). Each
    // contracted row explodes into at most two tagged structs — the
    // non-loop residual edge (tag 0) and, when rv is null, the recovered
    // minimum (v, v) (tag 1) — and one (u, v, tag) dedup exchange
    // replaces the old edge-dedup exchange AND the minima distinct. On
    // clique forests both outputs are tiny relative to e, so the
    // exchange stays residual-sized. The explicit repartition keeps the
    // AQE-coalescing opt-out of the shape it replaces.
    val edgeStruct = when(col("ru") =!= rvc,
      struct(greatest(col("ru"), rvc).as("u"), least(col("ru"), rvc).as("v"),
        lit(0).as("tag")))
    val minStruct = when(col("rv").isNull,
      struct(col("v").as("u"), col("v").as("v"), lit(1).as("tag")))
    val (comb, combIds) = lin.tracked(
      contracted
        .select(explode(array(edgeStruct, minStruct)).as("r"))
        .filter(col("r").isNotNull)
        .select(col("r.u").as("u"), col("r.v").as("v"), col("r.tag").as("tag"))
        .repartition(np0, col("u"), col("v"), col("tag"))
        .dropDuplicates(),
      eager = true)
    val e1 = comb.filter(col("tag") === 0).select("u", "v")
    val edges1 = e1.count() // cheap: a filter-count over the small checkpoint
    // Full node map = agg rows ∪ recovered local minima (root = self).
    // Node-sized; materialized eagerly so labels0 and e can be dropped at
    // once and the fast path / compose read one stable frame.
    val minima = comb.filter(col("tag") === 1)
      .select(col("u").as("id"), col("v").as("root"))
    val (labelsAll, laIds) =
      lin.tracked(labels0.unionAll(minima), eager = true)
    lin.release(eIds ++ l0Ids) // labelsAll + residual are materialized
    val e1Ids = combIds // the residual loop owns the combined checkpoint now
    if (edges1 == 0) {
      // every component closed in one hop (the clique-forest fast path):
      // labelsAll IS the final labeling, no loop rounds at all
      lin.release(e1Ids)
      lastPath = "hop"
      return labelsAll
    }

    // Small residual of a graph too big for the early driver finish:
    // finish with driver union-find instead of paying the loop's
    // per-round job overhead (each distributed round is 4+ jobs — on a
    // contracted clique forest the residual is thousands of edges and the
    // rounds are pure fixed cost). Bounded by `driverFinishEdges`
    // (≤ 16 MB at the default cap); the labels map broadcasts back, so
    // the compose join is shuffle-free. Set driverFinishEdges = 0 to
    // force the distributed loop (parity tests, fault injection).
    val (residualLabels: DataFrame, residIds: Set[Int]) =
      if (integralIds && edges1 <= driverFinishEdges) {
        val labels = driverComponents(e1)
        lin.release(e1Ids)
        lastPath = "hop+driver"
        (broadcast(labels), Set.empty[Int])
      } else {
        lastPath = "hop+loop"
        twoPhaseStarClusters(e1, e1Ids, maxIter, lin)
      }
    // Compose: every original node id keeps its labelsAll row; the
    // residual labeling (over m-images only) refines the root. Left join —
    // residual-isolated m-images keep root0 (proof above). The composed
    // result is materialized eagerly (node-sized — one narrow row per
    // node, cheap relative to the operator) so labelsAll's blocks AND the
    // distributed residual path's final-round blocks (the loop returns
    // the ids it left pinned) can be RELEASED here instead
    // of surviving until GC: a long-lived session calling
    // duplicateClusters repeatedly no longer accumulates per-invocation
    // node maps or final residual frames in executor storage. The
    // returned frame's own blocks die with result consumption, like the
    // edges1 == 0 fast path's labelsAll.
    val rm = residualLabels.select(col("id").as("mid"), col("root").as("mroot"))
    val (out, _) = lin.tracked(
      labelsAll.join(rm, labelsAll("root") === rm("mid"), "left")
        .select(labelsAll("id"), coalesce(col("mroot"), labelsAll("root")).as("root")),
      eager = true)
    lin.release(laIds ++ residIds)
    out
  }

  /** Driver union-find over a (u, v) edge frame with integral ids (at most
    * `driverFinishEdges` rows — one collect, ≤ 16 MB at the default cap):
    * (id, root) for every endpoint, root = component minimum, both in the
    * edge frame's id type. The result is a driver-local frame, so nothing
    * stays pinned in executor storage, and it is read as ONE partition:
    * the rows come from the driver either way, and a single partition
    * lets a downstream sort or aggregate on it skip its exchange. */
  private def driverComponents(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val idType = e.schema("u").dataType
    val es = e.select(col("u").cast(LongType), col("v").cast(LongType)).collect()
    // every endpoint is a key; a root maps to itself
    val parent = new mutable.LongMap[Long](es.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { row =>
      val (u, v) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      // union by min — the surviving root is the component minimum
      if (ru < rv) parent(rv) = ru
      else if (rv < ru) parent(ru) = rv
    }
    val ids = parent.keys.toArray.map(x => (x, find(x)))
    import spark.implicits._
    ids.toSeq.toDF("id", "root")
      .select(col("id").cast(idType).as("id"), col("root").cast(idType).as("root"))
      .coalesce(1)
  }

  /** Partition count for one CC round-shuffle over `rows` two-long edge
    * rows. AQE's byte-based coalescing is the wrong policy on both ends of
    * this loop: early rounds carry tens of millions of tiny rows that pack
    * into a handful of 64 MB AQE target-size partitions (multi-GB sorts, spill —
    * measured superlinear in the 10x->100x decade), while pinning the full
    * `spark.sql.shuffle.partitions` wastes fixed per-task overhead on the
    * late rounds where the graph has collapsed to thousands of edges
    * (measured 3.5x end-to-end at a 10x corpus). Each round therefore
    * sizes its own shuffles from the CURRENT edge count — known for free
    * from the convergence probe / a cheap count on the checkpointed frame
    * — under a row (not byte) budget, capped at the session's shuffle
    * parallelism, and the explicit user-specified repartition count opts
    * the exchanges out of AQE re-coalescing. */
  private val RoundRowsPerPartition = 2L * 1000 * 1000

  private def roundPartitions(df: DataFrame, rows: Long): Int = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(cap.toLong, rows / RoundRowsPerPartition + 1)).toInt
  }

  /** Two-phase star contraction (Kiveris et al. 2014). The working set is
    * the canonical undirected edge list oriented (u > v); one round is
    * large-star followed by small-star:
    *
    *  - large-star at node a: every strictly LARGER neighbor b hooks to
    *    m(a) = min(N(a) ∪ {a}) — emitted edge (b, m(a)).
    *  - small-star at node u (over the (u > v) orientation): the smaller
    *    neighbors collapse onto mn(u) = min of them — edges (v, mn(u)) for
    *    v ≠ mn(u), plus (u, mn(u)).
    *
    * Invariant: every emitted edge has endpoints no larger than the edge
    * it replaces (the paper's decreasing potential), so the edge set only
    * ever shrinks and both phases shuffle ONE row per edge (a groupBy plus
    * a join back). Fixpoint = union of stars centered on component minima;
    * detected when a round leaves the edge multiset unchanged (count +
    * endpoint sums + 64-bit hash sum — a false fixpoint needs a hash-sum
    * collision at identical counts and endpoint sums). No fixpoint after
    * `maxIter` rounds throws IllegalStateException.
    *
    * Each phase's output is checkpointed eagerly — truncating the plan,
    * which would otherwise nest the previous round's twice per round — and
    * superseded round frames are released through [[Lineage]] once their
    * successor is materialized.
    *
    * `e0`: the checkpointed canonical edge set from [[duplicateClusters]];
    * `e0Ids` its pinned blocks. Returns the label frame plus the final
    * star frame's pinned block ids (the labels READ from those blocks
    * lazily — the caller must materialize its derivation first, then
    * release). */
  private def twoPhaseStarClusters(
      e0: DataFrame,
      e0Ids: Set[Int],
      maxIter: Int,
      lin: Lineage): (DataFrame, Set[Int]) = {
    import lin.{release, tracked}
    var e = e0
    var eIds = e0Ids

    // large-star: symmetrize to see full neighborhoods, hook b > a to m(a).
    // Output keeps the (u > v) orientation: b > a >= m(a). The symmetrized
    // frame is repartitioned ONCE by u — the min-neighbor agg and the join
    // back both cluster on u, so neither adds a coalescible exchange.
    def largeStar(g: DataFrame, np: Int): DataFrame = {
      val sym = g.unionAll(g.select(col("v").as("u"), col("u").as("v")))
        .repartition(np, col("u"))
      val m = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("c"), least(col("u"), col("mn")).as("m"))
      sym.join(m, sym("u") === m("c"))
        .filter(sym("v") > sym("u"))
        .select(sym("v").as("u"), m("m").as("v"))
        .repartition(np, col("u"), col("v"))
        .dropDuplicates()
    }
    // small-star over the canonical orientation: Γ(u) = {v : (u,v), v < u}.
    def smallStar(g: DataFrame, np: Int): DataFrame = {
      val gp = g.repartition(np, col("u"))
      val m = gp.groupBy("u").agg(min("v").as("mn"))
      gp.join(m, "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .unionAll(m.select(col("u"), col("mn").as("v")))
        .repartition(np, col("u"), col("v"))
        .dropDuplicates()
    }
    def probe(g: DataFrame): Seq[Any] =
      g.agg(
        count(lit(1)),
        sum(col("u").cast("decimal(38,0)")),
        sum(col("v").cast("decimal(38,0)")),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))
      ).collect()(0).toSeq

    var prev = probe(e)
    var converged = prev.head == 0L // no edges: nothing to contract
    var i = 0
    while (!converged && i < maxIter) {
      // round shuffles sized from the probe's edge count (free — it ran
      // anyway); x2 because large-star symmetrizes its input, and the
      // star edge multiset only ever shrinks so the bound stays valid
      val np = roundPartitions(e, 2 * prev.head.asInstanceOf[Long])
      // checkpoint BETWEEN the phases: small-star references its input
      // twice (groupBy + join back), so an unmaterialized large-star
      // subtree would execute twice per round
      val (eLarge, eLargeIds) =
        tracked(largeStar(e, np), eager = true)
      val (eNext, eNextIds) =
        tracked(smallStar(eLarge, np), eager = true)
      val cur = probe(eNext)
      converged = cur == prev
      prev = cur
      release(eIds ++ eLargeIds)
      e = eNext; eIds = eNextIds
      i += 1
    }
    if (!converged) {
      release(eIds)
      throw new IllegalStateException(
        s"duplicateClusters: star contraction found no fixpoint in maxIter = $maxIter " +
          s"rounds (${prev.head} edges at the last probe); raise maxIter")
    }
    // Stars to labels: children are the u side, roots the v side (one
    // (root, root) row per star edge, collapsed by the groupBy).
    (e.select(col("u").as("id"), col("v").as("root"))
      .unionAll(e.select(col("v").as("id"), col("v").as("root")))
      .groupBy("id").agg(min("root").as("root")),
      eIds)
  }

  /** Greedy keeper set from near-dup pairs: every id that appears only as
    * a larger partner of some pair is dropped; the smallest id of each
    * cluster (and every unpaired id) survives. One anti-join — the
    * FAISS-style pragmatic dedup when full clustering isn't needed. */
  def keepFromPairs(corpus: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    corpus.join(
      pairs.select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Exact duplicate-SUBSTRING spans (the sub-document dedup of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL 2022 —
    * document-level dedup misses boilerplate repeated INSIDE otherwise
    * distinct documents). Input: one row per w-token window, (docCol,
    * posCol, hashCol) with posCol the 0-based token offset and hashCol a
    * content hash of the window. A window is duplicated when its hash
    * occurs more than once corpus-wide (across docs or repeated within
    * one); per-doc runs of duplicated windows whose starts are within w of
    * each other (overlapping or adjacent) merge into one maximal span.
    * Output: (docCol, span_start, span_end, n_windows), span_end exclusive.
    *
    * Scale shape: one groupBy(hash) with map-side partials → the (small)
    * repeated-hash set, one shuffle semi-join back on the hash, one per-doc
    * window for the merge — no self-join of the window table (the naive
    * pairs formulation is quadratic in duplicate multiplicity). At 100 TB
    * the window emission upstream is the knob: stride > 1 trades recall of
    * short duplicates for an emission-count divisor, without changing this
    * operator. */
  def duplicateSpans(
      wins: DataFrame,
      w: Int,
      docCol: String = "doc_id",
      posCol: String = "pos",
      hashCol: String = "wh"): DataFrame = {
    val dupHashes = wins.groupBy(hashCol)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(hashCol)
    val byDoc = Window.partitionBy(docCol).orderBy(posCol)
    // lag is NULL on the first duplicated window of a doc → the comparison
    // is NULL → otherwise(0): the first window opens span 0.
    wins.join(dupHashes, Seq(hashCol), "left_semi")
      .withColumn("__new",
        when(col(posCol) - lag(posCol, 1).over(byDoc) > w, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("__span",
        sum("__new").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(docCol), col("__span"))
      .agg(
        min(posCol).as("span_start"),
        (max(col(posCol)) + lit(w.toLong)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(docCol), col("span_start"), col("span_end"), col("n_windows"))
  }
}
