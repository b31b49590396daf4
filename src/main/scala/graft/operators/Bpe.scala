package graft.operators

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
  * tokenizer-training step of an LLM data pipeline, distributed.
  *
  * The scalable formulation works on the WORD-FREQUENCY table, not the
  * corpus: one corpus pass builds (word, n); the k merge iterations then
  * run over the vocabulary-sized table only, so iteration cost is
  * independent of corpus size (the 100 TB property — a trillion-token
  * corpus has a few million distinct words).
  *
  * Two finishes, chosen by the vocabulary size [[learnMerges]] already
  * counts:
  *  - at most [[DriverLearnWords]] words: the vocabulary is collected
  *    once and the k merges run as exact sequential BPE on the driver,
  *    with incremental pair counts — each merge rewrites only the words
  *    that contain the winning pair. Two Spark jobs in total
  *    (materialize-and-count, collect), whatever k is; per-job fixed
  *    cost, not data, is what a loop over a small vocabulary pays for.
  *  - above the cap, the distributed loop. Per round: one keyed
  *    pair-count aggregation (map-side partials), ONE driver-side row
  *    (the winning pair — bounded, like duplicateClusters' convergence
  *    probe), and a narrow per-word re-merge map. Eager localCheckpoint
  *    truncates the growing merge-expression lineage each round, same
  *    discipline as Dedup.duplicateClusters.
  * Both produce the identical merge sequence (CorpusSpec).
  *
  * The merge itself uses a separator-encoded string form: a symbol
  * sequence [s1, s2, ...] is encoded as ␟s1␟␟s2␟... and merging pair
  * (l, r) is a plain `replace` of ␟l␟␟r␟ with ␟lr␟ — left-to-right and
  * non-overlapping in exactly the same way in Spark (UTF8String.replace)
  * and DuckDB (replace), which is what makes the greedy BPE scan
  * oracle-replayable. US (0x1f) is NOT whitespace (Java `\s` is
  * `[ \t\n\x0B\f\r]`), so a malicious/binary token COULD carry it and
  * corrupt the encoding — both entry points therefore drop words
  * containing the separator up front (a tokenizer learning merges from
  * control-character "words" is discarding noise, not signal).
  */
object Bpe {

  /** Unit-separator control char used for the merge encoding. Words
    * containing it are excluded by [[learnMerges]]/[[applyMerges]] — see
    * the object doc for why whitespace splitting alone does not rule it
    * out. */
  val Sep = "\u001f"

  /** Distributed rounds executed by the most recent [[learnMerges]] call:
    * 0 when the vocabulary took the driver finish, otherwise one per
    * pair-count round of the loop (including the final empty-table probe
    * when the vocabulary runs out of pairs before k). Diagnostic for
    * measuring how far batching cuts driver round-trips (read by
    * CorpusSpec; not part of the operator contract). */
  @volatile private[graft] var lastLearnRounds: Int = 0

  /** Vocabulary cap for the driver finish of [[learnMerges]], set by
    * driver memory, not speed. Measured at 260k words (`graft.tools.Profile
    * bpe`, its Zipf fixture of 5–12-letter words, local[4]): k = 64 takes
    * 1.9 s on the driver vs 82 s (38 rounds) for the loop at batch 8;
    * k = 1024 takes 8.2–8.4 s and raises the old generation by 290–340 MB
    * (the checkpointed vocabulary included), and still completes in a
    * 1 GB heap. Driver state grows with the word count, so the cap keeps
    * it to a few hundred MB. Above the cap the distributed loop runs
    * exactly as before. */
  val DriverLearnWords: Long = 1L << 18

  /** Split a word column (by name) into its character symbols (char-based
    * substring, identical semantics to the DuckDB oracle's
    * list_transform/substring walk — NOT split("") whose trailing-empty
    * behavior differs across engines). */
  def charSyms(wordCol: String): org.apache.spark.sql.Column =
    expr(s"transform(sequence(1, char_length($wordCol)), ci -> substring($wordCol, ci, 1))")

  /** Learn `k` BPE merges from a word-frequency table.
    *
    * @param words (word: string, n: long) — distinct words with corpus
    *              counts (build with one groupBy over tokenized text)
    * @param batch look-ahead width: per round, up to `batch` pairs from
    *              the count ranking are selected and merged together, but
    *              ONLY a prefix whose selections are PROVABLY identical to
    *              running them sequentially. Three guards make that exact
    *              (see the inline proofs at the selection code):
    *              (1) candidates are a rank-order prefix, pairwise
    *              disjoint on the TRIPLE {lhs, rhs, lhs+rhs} — disjoint
    *              merges commute and cannot destroy or create each other's
    *              occurrences; (2) the batch stops at the first rank row
    *              sharing a triple symbol with a kept pair; (3) each kept
    *              pair after the first must STRICTLY out-count an
    *              interference bound computed from this round's pair
    *              table — merging (l,r) can grow pairs that touch the
    *              created symbol, and only strict dominance over their
    *              maximum possible growth guarantees the sequential scan
    *              would not have preferred one (ties break on string
    *              order, so a tie is not safe). batch=1 is plain
    *              sequential BPE; batch=m cuts driver round-trips toward
    *              k/m — the k≈32,000 production-tokenizer lever, where
    *              sequential selection means 32k Spark jobs of scheduler
    *              overhead regardless of data size. Measured at k=1024 on
    *              a 100k-word Zipf vocabulary: 441 rounds
    *              at EVERY width in {8,32,64} (~650 s on local[32]) vs
    *              1024 sequential — effective batch 2.3, capped by guard
    *              (2), not by width: on a Zipf head the top-ranked pairs
    *              genuinely interfere (share hot symbols), and merging
    *              interfering pairs together is exactly what sequential
    *              BPE doesn't do. Default batch=8: the full measured
    *              saving at the smallest look-ahead/fetch cost; widths
    *              beyond 8 bought zero additional rounds on both the
    *              Zipf fixture and the real corpus table.
    *              `batch` applies to the loop only: a vocabulary of at
    *              most [[DriverLearnWords]] words takes the driver finish
    *              (object doc).
    * @return (step, lhs, rhs, n): the i-th winning pair and its count at
    *         selection time. Ties break on (count DESC, lhs ASC, rhs ASC)
    *         — integer counts and binary string order, so the sequence is
    *         deterministic across engines and partitionings, and identical
    *         for every `batch` (CorpusSpec proves batched == sequential).
    *         A null `n` contributes nothing to a count, as in SQL `sum`.
    */
  def learnMerges(
      words: DataFrame,
      k: Int,
      mode: CheckpointMode = CheckpointMode.Local,
      batch: Int = 8): DataFrame =
    learn(words, k, mode, batch, DriverLearnWords)

  /** [[learnMerges]] without the driver finish: every vocabulary runs the
    * distributed loop. For the loop's parity and round-count specs, fault
    * injection mid-loop and loop profiling. */
  private[graft] def learnMergesLoop(
      words: DataFrame,
      k: Int,
      mode: CheckpointMode = CheckpointMode.Local,
      batch: Int = 8): DataFrame =
    learn(words, k, mode, batch, driverFinishWords = 0L)

  /** [[learnMerges]] with a driver-finish cap of `driverFinishWords`
    * separator-free words (0: never). */
  private def learn(
      words: DataFrame,
      k: Int,
      mode: CheckpointMode,
      batch: Int,
      driverFinishWords: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = words.sparkSession
    // checkpoint + block hygiene via Lineage, same idiom as
    // Dedup.duplicateClusters: superseded round frames are released
    // explicitly so k rounds never pin k copies of the vocab table;
    // `mode` = Reliable(dir) survives executor loss mid-loop
    val lin = new Lineage(spark, mode)
    // AQE off for the loop's jobs (restored on exit): every per-round job
    // here is vocabulary-sized, so AQE's per-stage materialization is pure
    // added latency in a k-round loop — measured 655 s -> 332 s for the
    // identical 441 rounds (k=1024, 100k-word Zipf vocab, local[32]) with
    // exactly this in-loop toggle, session AQE otherwise on. (A global
    // AQE-off run of the same rounds measured 358 s — slower than the
    // scoped toggle because the PRE-loop word-count materialization still
    // benefits from AQE coalescing.)
    // Runtime re-planning has nothing to offer these jobs: shuffle width
    // is the session setting, there is no join to re-strategize, and the
    // loop-carried frames are checkpointed anyway. The toggle goes through
    // AqeGate (refcounted per session) so concurrent or nested learnMerges
    // calls on one session can't clobber each other's restore value; an
    // unrelated query on the SAME session during a learn still runs
    // without AQE — acceptable for a batch tokenizer-training job, see
    // AqeGate's scaladoc for the isolation escape hatch.
    AqeGate.withAqeOff(spark) {
    // the vocabulary count rides on the materializing job (Lineage)
    val (syms, symIds, vocabRows) = lin.trackedCount(
      words.filter(!col("word").contains(Sep)) // encoding invariant — class doc
        .select(charSyms("word").as("syms"), col("n")))
    val merges =
      if (driverFinishWords > 0 && vocabRows <= driverFinishWords) {
        // Driver finish: one collect of the materialized symbol table
        // (<= driverFinishWords rows), then no further Spark job. Symbols
        // come from the same charSyms split the loop starts from. A null-n
        // word adds nothing to any count (SQL sum), so it is left out; a
        // pair seen only in such words has no count and is never merged
        // (the loop ranks its NULL count last and cannot report it).
        val vocab = syms.select(col("syms"), col("n").cast("long")).collect()
          .collect { case r if !r.isNullAt(0) && !r.isNullAt(1) =>
            (r.getSeq[String](0).toArray, r.getLong(1)) }
        lin.release(symIds)
        lastLearnRounds = 0
        learnLocal(vocab.toSeq, k)
      } else learnLoop(syms, symIds, vocabRows, k, batch, lin)
    import spark.implicits._
    merges.toDF("step", "lhs", "rhs", "n")
      .select(col("step").cast("long"), col("lhs"), col("rhs"), col("n"))
    }
  }

  /** Exact sequential BPE over a collected vocabulary (symbols per word,
    * weight) — the driver finish of [[learnMerges]], selection-identical
    * to its loop at `batch = 1`:
    *  - counting is overlapping (every adjacent position), weighted by the
    *    word's n; a pair whose count is 0 still ranks, because the pair
    *    table holds every adjacent pair that occurs;
    *  - ranking is (count DESC, lhs ASC, rhs ASC) with strings in Spark's
    *    binary UTF-8 order (`UTF8String.binaryCompare`), which is code
    *    point order, not Java's UTF-16 `String.compareTo`;
    *  - merging is greedy left-to-right and non-overlapping per word;
    *  - learning stops early when no adjacent pair is left.
    * Pair counts are maintained incrementally: each pair keeps the words
    * it was seen in, and a merge rewrites only those words (removing
    * their old adjacent pairs and adding the new ones), so a step costs
    * the total length of the words holding the winning pair, never a
    * rescan. The winning pair comes off a priority queue with lazy
    * deletion: an entry is live while it matches its pair's current
    * count, and every count change pushes a fresh entry. */
  private def learnLocal(
      vocab: Seq[(Array[String], Long)],
      k: Int): Seq[(Int, String, String, Long)] = {
    val symId = new java.util.HashMap[String, Integer]()
    val symStr = ArrayBuffer.empty[String]
    val symKey = ArrayBuffer.empty[UTF8String]
    def intern(s: String): Int = {
      val id = symId.get(s)
      if (id != null) id.intValue
      else {
        symId.put(s, symStr.size); symStr += s; symKey += UTF8String.fromString(s)
        symStr.size - 1
      }
    }
    val words: Array[Array[Int]] = vocab.map(_._1.map(intern)).toArray
    val weight: Array[Long] = vocab.map(_._2).toArray
    def pairKey(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)
    val pairs = mutable.LongMap.empty[PairStat]
    val touched = mutable.LongMap.empty[PairStat]
    // occurrence delta d (+1/-1) of pair (a, b) in word wi; `track`
    // records wi in the pair's word list for a newly formed adjacency
    def bump(wi: Int, a: Int, b: Int, d: Int, track: Boolean): Unit = {
      val key = pairKey(a, b)
      val p = pairs.getOrElseUpdate(key, new PairStat(a, b))
      p.cnt += d * weight(wi)
      p.occ += d
      if (track) p.addWord(wi)
      touched(key) = p
    }
    def pairsOf(wi: Int, d: Int, track: Int => Boolean): Unit = {
      val s = words(wi)
      var i = 0
      while (i + 1 < s.length) {
        bump(wi, s(i), s(i + 1), d, d > 0 && track(i))
        i += 1
      }
    }
    words.indices.foreach(wi => pairsOf(wi, 1, _ => true))
    val queue = new java.util.PriorityQueue[Ranked](
      math.max(1, pairs.size),
      (x: Ranked, y: Ranked) =>
        if (x.cnt != y.cnt) java.lang.Long.compare(y.cnt, x.cnt)
        else {
          val c = symKey(x.a).binaryCompare(symKey(y.a))
          if (c != 0) c else symKey(x.b).binaryCompare(symKey(y.b))
        })
    def requeueTouched(): Unit = {
      touched.foreachEntry { (key, p) =>
        if (p.occ == 0) pairs.remove(key) else queue.add(new Ranked(p.cnt, p.a, p.b))
      }
      touched.clear()
    }
    requeueTouched()
    // An empty word splits to the symbols ["", ""] (sequence(1, 0) counts
    // down), and the loop's encode/decode turns any such word into [""]
    // after the first round, merged or not: its ("", "") pair ranks in the
    // first step only.
    val emptyWords = words.indices.filter(wi => vocab(wi)._1.forall(_.isEmpty))
    val out = ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      var best: PairStat = null
      while (best == null && !queue.isEmpty) {
        val top = queue.poll()
        val p = pairs.getOrElse(pairKey(top.a, top.b), null)
        if (p != null && p.occ > 0 && p.cnt == top.cnt) best = p
      }
      if (best == null) exhausted = true
      else {
        val (a, b) = (best.a, best.b)
        out += ((step, symStr(a), symStr(b), best.cnt))
        val c = intern(symStr(a) + symStr(b))
        // a listed word may have lost the pair since (or be listed
        // twice): it is rewritten only while it still holds it, and after
        // the greedy merge no (a, b) adjacency is left in it
        java.util.Arrays.copyOf(best.words, best.nWords).foreach { wi =>
          val s = words(wi)
          if (s.indices.exists(i => i + 1 < s.length && s(i) == a && s(i + 1) == b)) {
            pairsOf(wi, -1, _ => false)
            val merged = ArrayBuffer.empty[Int]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { merged += c; i += 2 }
              else { merged += s(i); i += 1 }
            }
            words(wi) = merged.toArray
            // only adjacencies touching c are new; the rest were already
            // in this word and so already list it
            pairsOf(wi, 1, j => words(wi)(j) == c || words(wi)(j + 1) == c)
          }
        }
        if (step == 1) emptyWords.foreach { wi =>
          if (words(wi).length > 1) {
            pairsOf(wi, -1, _ => false)
            words(wi) = Array(intern(""))
          }
        }
        requeueTouched()
        step += 1
      }
    }
    out.toSeq
  }

  /** The distributed merge loop of [[learnMerges]], over the materialized
    * symbol table `syms0` (`vocabRows` rows, blocks `symIds0`). */
  private def learnLoop(
      syms0: DataFrame,
      symIds0: Set[Int],
      vocabRows: Long,
      k: Int,
      batch: Int,
      lin: Lineage): Seq[(Int, String, String, Long)] = {
    val spark = syms0.sparkSession
    def tracked(df: DataFrame): (DataFrame, Set[Int]) = lin.tracked(df)
    def release(ids: Set[Int]): Unit = lin.release(ids)
    var syms = syms0
    var symIds = symIds0
    // Pin the loop's parallelism at entry, sized from the VOCABULARY, not
    // the cores: the caller's word table often arrives through an
    // AQE-planned materialization that coalesced it to ~1 partition (tiny
    // bytes), and every round's narrow chain — the pairCounts explode map
    // side, the batch-apply projection, each checkpoint — would inherit
    // that width for all k rounds (measured 123 s vs 62 s at k=128 on a
    // 100k-word vocab, identical rounds). But the opposite mistake costs
    // too: spreading a tiny vocabulary across every core pays per-task
    // overhead times k rounds (measured +0.9 s on the 31-word corpus
    // table at k=6). So: ~2k words per partition, capped at the cluster's
    // parallelism, and reshuffle ONLY when the inherited width is >4x off
    // — the occasional re-checkpoint reads the already-materialized
    // frame, never the caller's plan.
    val width = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (vocabRows / 2000L).toInt + 1))
    val inherited = syms.rdd.getNumPartitions
    if (inherited * 4 < width || width * 4 < inherited) {
      val (resized, resizedIds) = tracked(syms.repartition(width))
      release(symIds)
      syms = resized
      symIds = resizedIds
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    var rounds = 0
    while (step <= k && !exhausted) {
      rounds += 1
      // corpus-wide pair counts: explode adjacent pairs weighted by word
      // count — one shuffle over the vocabulary-sized table
      def pairCounts(of: DataFrame): DataFrame = of
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "gi -> struct(element_at(syms, gi) AS l, element_at(syms, gi + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("n").as("cnt"))
      val want = k - step + 1
      val maxSel = math.min(batch, want)
      // batched rounds read the pair table twice (rank window + the
      // interference bound below) — materialize it once; sequential
      // rounds keep the original single-action shape
      val (pt, ptIds) =
        if (maxSel <= 1) (pairCounts(syms), Set.empty[Int])
        else tracked(pairCounts(syms))
      val fetch = if (maxSel <= 1) 1 else maxSel * 2 + 2
      val top = pt
        .orderBy(desc("cnt"), col("l"), col("r"))
        .limit(fetch)
        .collect() // <= fetch rows — bounded driver state
      if (top.isEmpty) { release(ptIds); exhausted = true }
      else {
        val rows = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        // Candidate selection: walk the ranking in order, keeping pairs
        // whose TRIPLES {l, r, l+r} are pairwise disjoint, stopping at
        // the first row that shares a triple symbol with a kept one.
        // Triple disjointness (not just {l, r}) matters: a later merge
        // whose created symbol equals an earlier pair's member — or vice
        // versa — could create/destroy occurrences the count ranking
        // never saw. With triples disjoint, merging p_i cannot change
        // count(p_j) (no token of p_j's symbols is consumed or created),
        // so every kept pair's count is still its exact count at its
        // sequential selection time, and the replaces commute.
        val used = scala.collection.mutable.HashSet.empty[String]
        val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var idx = 0
        var stopped = false
        while (!stopped && idx < rows.length && sel.size < maxSel) {
          val (l, r, _) = rows(idx)
          val triple = Seq(l, r, l + r)
          if (triple.exists(used.contains)) stopped = true
          else { sel += rows(idx); used ++= triple; idx += 1 }
        }
        // Sequential-equivalence trim. Merging p_i = (l_i, r_i) into
        // s_i = l_i+r_i can GROW exactly the pairs touching s_i. Every
        // post-merge adjacency touching a MERGED s_i occurrence pre-images
        // injectively to a triple (the merged pair plus its neighbor);
        // one touching a pre-existing s_i symbol pre-images to a pair:
        //   post(x, s_i) <= c(x, s_i) + c3(x, l_i, r_i)    =: h_i(x)
        //   post(s_i, y) <= c(s_i, y) + c3(l_i, r_i, y)    =: g_i(y)
        //   post(s_i, s_j) <= g_i(s_j) + g_i(l_j) <= 2·G_i
        // where c3 is the weighted CONDITIONAL TRIPLE count over this
        // round's symbol table. (An earlier version bounded with whole
        // pair masses — c(x, l_i) / c(r_i, y) — which on a Zipf-headed
        // vocabulary dwarfs every candidate count and trims each batch
        // to ~1: measured 916 rounds for k=1024 at EVERY width 8/64 on
        // a 100k-word Zipf vocab. The triple refinement conditions the
        // same pre-image on the merged pair actually being adjacent,
        // shrinking the bound by the head symbol's fanout.) The 2·G_i
        // composition covers pairs between two new symbols via the LEFT
        // one's g: post(s_k, s_i) <= g_k(s_i) + g_k(l_i) <= 2·G_k, so
        // single-new pairs need only H_i/G_i and double-new pairs only
        // 2·G of the earlier-left candidate. Every other pair's count is
        // unchanged or shrinks, and rank order already decides those.
        // So p_j is the sequential pick at its step iff count(p_j)
        // STRICTLY exceeds the maximum possible grown count from the
        // merges before it: M_j = max over i<j of max(H_i, 2·G_i)
        // (strict, because a count tie is broken by string order and a
        // freshly created pair could win it). H_i/G_i come from ONE
        // aggregation over the pair table unioned with the candidate-
        // filtered triple explode; p_1 is the sequential argmax
        // unconditionally, so progress is guaranteed.
        val batchSel: Seq[(String, String, Long)] =
          if (sel.size <= 1) Seq(rows(0))
          else {
            val cand = sel.toSeq
            // s_i values are pairwise distinct (triple-disjointness), so
            // keying on the concatenated symbol is unambiguous; the lhs
            // map re-checks the split since concat alone can't prove
            // (b,c) == (l_i,r_i)
            def mapLit(m: Map[String, _]): Column =
              map(m.toSeq.flatMap { case (s, v) => Seq(lit(s), lit(v)) }: _*)
            val sIdxM = mapLit(cand.zipWithIndex.map {
              case ((l, r, _), i) => (l + r) -> i }.toMap)
            val sLhsM = mapLit(cand.map { case (l, r, _) => (l + r) -> l }.toMap)
            val pairSide = pt.select(
              when(element_at(sIdxM, col("r")).isNotNull,
                struct(element_at(sIdxM, col("r")).as("i"), lit("h").as("f"),
                  col("l").as("o"), col("cnt"))).as("h"),
              when(element_at(sIdxM, col("l")).isNotNull,
                struct(element_at(sIdxM, col("l")).as("i"), lit("g").as("f"),
                  col("r").as("o"), col("cnt"))).as("g"))
              .select(explode(array(col("h"), col("g"))).as("t"))
              .filter(col("t").isNotNull)
            val tripleSide = syms
              .filter(size(col("syms")) >= 3)
              .select(col("n"), explode(expr(
                "transform(sequence(1, size(syms) - 2), gi -> struct(" +
                  "element_at(syms, gi) AS a, element_at(syms, gi + 1) AS b, " +
                  "element_at(syms, gi + 2) AS c))")).as("t3"))
              .select(col("n"),
                col("t3.a").as("a"), col("t3.b").as("b"), col("t3.c").as("c"))
              .select(
                when(element_at(sIdxM, concat(col("b"), col("c"))).isNotNull &&
                  col("b") === element_at(sLhsM, concat(col("b"), col("c"))),
                  struct(element_at(sIdxM, concat(col("b"), col("c"))).as("i"),
                    lit("h").as("f"), col("a").as("o"), col("n").as("cnt"))).as("h"),
                when(element_at(sIdxM, concat(col("a"), col("b"))).isNotNull &&
                  col("a") === element_at(sLhsM, concat(col("a"), col("b"))),
                  struct(element_at(sIdxM, concat(col("a"), col("b"))).as("i"),
                    lit("g").as("f"), col("c").as("o"), col("n").as("cnt"))).as("g"))
              .select(explode(array(col("h"), col("g"))).as("t"))
              .filter(col("t").isNotNull)
            val bounds = pairSide.unionByName(tripleSide)
              .groupBy(col("t.i").as("i"), col("t.f").as("f"), col("t.o").as("o"))
              .agg(sum(col("t.cnt")).as("b"))
              .groupBy("i", "f").agg(max("b").as("mx"))
              .collect() // <= 2·batch rows
            val hMax = Array.fill(cand.size)(0L)
            val gMax = Array.fill(cand.size)(0L)
            bounds.foreach { r =>
              val (i, f, v) = (r.getInt(0), r.getString(1), r.getLong(2))
              if (f == "h") hMax(i) = v else gMax(i) = v
            }
            var m = 0L // running max of the interference bound over i < j
            val keep = scala.collection.mutable.ArrayBuffer(cand.head)
            var j = 1
            var cont = true
            while (cont && j < cand.size) {
              m = math.max(m, math.max(hMax(j - 1), 2L * gMax(j - 1)))
              if (cand(j)._3 > m) { keep += cand(j); j += 1 }
              else cont = false
            }
            keep.toSeq
          }
        release(ptIds) // rank + bounds read; the pair table is dead
        batchSel.foreach { case (l, r, cnt) =>
          merges += ((step, l, r, cnt)); step += 1
        }
        // apply the whole batch in ONE narrow projection: encode once,
        // fold the replaces in selection order (greedy left-to-right per
        // merge; triple-disjoint replaces commute), decode once
        val enc0 =
          array_join(transform(col("syms"), s => concat(lit(Sep), s, lit(Sep))), "")
        val encoded = batchSel.foldLeft(enc0) { case (e, (l, r, _)) =>
          replace(e, lit(Sep + l + Sep + Sep + r + Sep), lit(Sep + l + r + Sep))
        }
        val (next, nextIds) = tracked(syms.select(
          split(trim(encoded, Sep), Sep + Sep).as("syms"), col("n")))
        release(symIds) // next is materialized; the parent round is dead
        syms = next
        symIds = nextIds
      }
    }
    release(symIds)
    lastLearnRounds = rounds
    merges.toSeq
  }

  /** One corpus pass to the word-frequency table learnMerges consumes. */
  def wordCounts(tokens: DataFrame): DataFrame =
    tokens.groupBy("word").agg(count(lit(1)).as("n"))

  /** Apply learned merges: segment each word of `words` (word: string)
    * into its subword symbols under the merge sequence — the TOKENIZE
    * step that pairs with [[learnMerges]].
    *
    * The k merges arrive as driver-side literals (k rows — the learned
    * vocabulary delta, inherently tiny), so application is a chain of k
    * narrow `replace` maps over the vocabulary-sized word table: NO
    * shuffle, NO join, fully codegen. Segmenting a trillion-token corpus
    * is then one broadcast-free pass: tokenize, join each word to its
    * precomputed segmentation (vocabulary-sized build side), done.
    *
    * @param merges (lhs, rhs) in application order, exactly as emitted by
    *               learnMerges
    * @return (word, syms: array<string>) — the subword segmentation
    */
  def applyMerges(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val enc0 = array_join(
      transform(charSyms("word"), s => concat(lit(Sep), s, lit(Sep))), "")
    val encoded = merges.foldLeft(enc0) { case (enc, (l, r)) =>
      replace(enc, lit(Sep + l + Sep + Sep + r + Sep), lit(Sep + l + r + Sep))
    }
    words.filter(!col("word").contains(Sep)) // encoding invariant — class doc
      .withColumn("syms", split(trim(encoded, Sep), Sep + Sep))
  }
}

/** Incremental count of one adjacent symbol pair in `Bpe.learnLocal`:
  * weighted count, occurrences, and the words it has been seen in (a
  * superset — a word that lost the pair is skipped when re-checked). */
private final class PairStat(val a: Int, val b: Int) {
  var cnt = 0L
  var occ = 0
  var words = new Array[Int](2)
  var nWords = 0
  def addWord(wi: Int): Unit =
    if (nWords == 0 || words(nWords - 1) != wi) {
      if (nWords == words.length) words = java.util.Arrays.copyOf(words, nWords * 2)
      words(nWords) = wi
      nWords += 1
    }
}

/** A queue entry of `Bpe.learnLocal`: pair (a, b) at count `cnt`. */
private final class Ranked(val cnt: Long, val a: Int, val b: Int)
