package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** String-similarity joins on edit distance.
  *
  * Completes the near-dup family (MinHash/Jaccard/SimHash/embedding): those
  * catch token-level overlap; edit distance catches character-level variants
  * (typos, OCR noise, version strings) that tokenizers miss.
  */
object StringJoin {

  /** All unordered pairs of distinct strings within Levenshtein distance
    * `maxDist`, via PassJoin segment blocking (Li, Deng, Feng — PVLDB 2011).
    *
    * Never all-pairs: a string of length l is cut into m = maxDist+1
    * contiguous segments; if ed(r, s) <= maxDist with |r| <= |s|, then s
    * must contain one of r's segments verbatim, shifted by at most maxDist
    * (pigeonhole: maxDist edits cannot touch all m segments, and total
    * alignment shift is bounded by the edit count). So each string emits
    * its m segments as index keys (len, segIdx, content), plus — as probe —
    * every substring matching a segment slot of each candidate shorter
    * length in [len-maxDist, len]; candidates come from a hash equi-join on
    * those keys and only candidates pay the exact levenshtein check.
    *
    * Emitted work per string is O(maxDist^3) keys — constant for fixed
    * maxDist — so the shuffle is linear in input size and the quadratic
    * blowup is confined to true near-duplicate buckets, the same contract
    * as the MinHash band join.
    *
    * Input: `strCol` in `df` (callers pass the *distinct* string domain —
    * dedup-first is also the scale-right shape: the pair space collapses to
    * the vocabulary). Strings shorter than maxDist+1 characters cannot be
    * segmented and are excluded (documented contract). Output: (`left`,
    * `right`, `dist`) with (length, value)-canonical order: left is the
    * shorter string, ties broken lexicographically.
    */
  def editDistancePairs(df: DataFrame, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val d = maxDist
    val m = d + 1
    val strings = df.select(col(strCol).as("s")).filter(length(col("s")) >= m).distinct()

    // segment i of a length-lp string: base = lp div m, rem = lp % m; the
    // first rem segments are one char longer. start(i) = i*base + min(i, rem).
    def segStart(lp: String, i: String) = s"($lp div $m) * $i + least($i, $lp % $m)"
    def segLen(lp: String, i: String) = s"($lp div $m) + (case when $i < $lp % $m then 1 else 0 end)"

    // Two packing layers keep the candidate shuffle narrow:
    //  1. The (lp, i, seg) candidate key is packed into ONE xxhash64 long
    //     on both sides before the equi-join — the segment string (the
    //     bulk of the key's width) never crosses the candidate shuffle.
    //  2. The STRING itself never crosses it either: each side shuffles
    //     only (sid = xxhash64(s), len, kh) — 20 fixed bytes — and the
    //     actual strings are recovered AFTER the id-level distinct by two
    //     vocabulary join-backs. This matters because the probe side emits
    //     O(maxDist^3) keys per string (12 at d=1, 45 at d=2): without the
    //     id indirection every one of those rows carries the full string,
    //     so the candidate exchange is ~keyCount× the vocabulary bytes;
    //     with it the vocabulary crosses a shuffle exactly twice (the
    //     join-backs), independent of maxDist.
    //
    // Measured trade (A/B vs the string-carrying shape, 2M strings, d=1,
    // output-identical by count+hash in both regimes): on the operator's
    // real contract — diverse strings whose segments are near-unique
    // (16-letter alphabet, 32-63 chars) — this shape is strictly better:
    // 688 vs 1393 MB shuffle write (-51%), 8.2 vs 13.1 s. On an
    // adversarial LOW-ENTROPY vocabulary (6 letters, 8-23 chars: segment
    // buckets collide massively and the candidate join goes
    // quadratic-in-bucket) the bytes INVERT — 8.3 GB vs 0.6 GB
    // — because the old shape's distinct grouped on the final strings,
    // letting Catalyst push the exact levenshtein BELOW the distinct's
    // exchange and kill collision junk pre-shuffle, where the id shape
    // must shuffle the junk (narrow) through the distinct + join-backs.
    // Wall still favors this shape there (81 vs 194 s: one levenshtein
    // per DISTINCT pair instead of per matched-key row), and both costs
    // stay proportional to candidate volume — the regime's real fix is
    // upstream (longer segments / higher-entropy keys), not the row
    // layout.
    //
    // Losslessness of layer 1 is one-sided: hashing is deterministic, so
    // every genuine (lp, i, seg) match still collides to the same long (no
    // candidate is lost), and a hash COLLISION only adds a spurious
    // candidate that the exact levenshtein filter below rejects — unless
    // the pair is genuinely within maxDist, in which case PassJoin
    // completeness guarantees it was in the result anyway. The orientation
    // hazard (collision pairing a longer index string with a shorter probe
    // string) is closed by the a_len <= b_len guard: genuine matches
    // satisfy it by the probe's lp range. Layer 2 introduces the one
    // ~2^-64-per-pair loss channel in this operator: two DISTINCT strings
    // colliding on sid would have their genuine pair dropped by the
    // a_id =!= b_id filter — the same documented risk class as the
    // jaccard pipeline's hashed-token keys. A sid collision cannot create
    // false output: the join-backs expand each id to all its strings and
    // the exact levenshtein filter rejects non-matches.
    val dom = strings.select(
      col("s"), xxhash64(col("s")).as("sid"), length(col("s")).as("slen"))

    val index = dom.select(
      col("sid").as("a_id"), col("slen").as("a_len"), col("s"),
      explode(expr(
        s"""transform(sequence(0, $d), i -> struct(
              length(s) AS lp, i AS i,
              substring(s, ${segStart("length(s)", "i")} + 1, ${segLen("length(s)", "i")}) AS seg))"""))
        .as("k"))
      .select(col("a_id"), col("a_len"),
        xxhash64(col("k.lp"), col("k.i"), col("k.seg")).as("kh"))

    // probe: for each candidate shorter length lp, each segment slot i, each
    // shift in [-d, d], the substring of s occupying that (shifted) slot
    val probe = dom.select(
      col("sid").as("b_id"), col("slen").as("b_len"), col("s"),
      explode(expr(
        s"""flatten(transform(sequence(greatest($m, length(s) - $d), length(s)), lp ->
              flatten(transform(sequence(0, $d), i ->
                transform(
                  filter(transform(sequence(${-d}, $d), sh -> ${segStart("lp", "i")} + sh),
                         st -> st >= 0 AND st + ${segLen("lp", "i")} <= length(s)),
                  st -> struct(lp AS lp, i AS i,
                               substring(s, st + 1, ${segLen("lp", "i")}) AS seg))))))"""))
        .as("k"))
      .select(col("b_id"), col("b_len"),
        xxhash64(col("k.lp"), col("k.i"), col("k.seg")).as("kh"))

    // candidate id pairs, deduped while still narrow. Equal-length pairs
    // appear in both (index, probe) roles — the unordered (least, greatest)
    // id key collapses them; unequal lengths keep (shorter, longer).
    val cand = index.join(probe, Seq("kh"))
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("a_len") <= col("b_len")) // orientation guard (see above)
      .select(
        when(col("a_len") === col("b_len"), least(col("a_id"), col("b_id")))
          .otherwise(col("a_id")).as("a_id"),
        when(col("a_len") === col("b_len"), greatest(col("a_id"), col("b_id")))
          .otherwise(col("b_id")).as("b_id"))
      .distinct()

    // recover the strings (candidate-pair-sized joins against the
    // vocabulary), then the exact verify. No final distinct is needed:
    // candidate id pairs are distinct and an unordered string pair maps to
    // exactly one unordered id pair, so recovered pairs are distinct too.
    cand
      .join(dom.select(col("sid").as("a_id"), col("s").as("sa")), Seq("a_id"))
      .join(dom.select(col("sid").as("b_id"), col("s").as("sb")), Seq("b_id"))
      // canonical pair order: shorter first, equal lengths lexicographic
      .select(
        when(length(col("sa")) === length(col("sb")), least(col("sa"), col("sb")))
          .otherwise(col("sa")).as("left"),
        when(length(col("sa")) === length(col("sb")), greatest(col("sa"), col("sb")))
          .otherwise(col("sb")).as("right"))
      .withColumn("dist", levenshtein(col("left"), col("right")))
      .filter(col("dist") <= d)
  }
}
