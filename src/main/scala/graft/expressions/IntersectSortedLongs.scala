package graft.expressions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Set scores of two SORTED, DISTINCT, null-free array<long> columns from
  * a single primitive merge pass — no hash sets, no string hashing or
  * equality. The verify stage of both token-HASH near-dup operators calls
  * these kernels (Similarity.hashSetScore): tokens are mapped to 64-bit
  * hashes once per document (Similarity.hashedTokenSets), deduplicated and sorted, so the candidate stage
  * shuffles 8-byte longs instead of strings. Scores equal the
  * distinct-string ones unless two DISTINCT tokens of the same pair
  * collide in 64 bits (~n²/2⁶⁵ per pair ≈ 7e-17 at 50 tokens — the
  * library's accepted cross-engine risk class, cf. the band-boundary note
  * in SimilarityQueries).
  *
  * PRECONDITION (library-internal, not enforced): both arrays ascending,
  * duplicate-free, null-free — exactly what Similarity.hashedTokenSets
  * produces.
  */
object IntersectSortedLongs {

  /** |a ∩ b|; 0 for empty inputs. */
  def intersectSize(a: ArrayData, b: ArrayData): Long = {
    val nA = a.numElements()
    val nB = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < nA && j < nB) {
      val la = a.getLong(i)
      val lb = b.getLong(j)
      if (la == lb) { inter += 1; i += 1; j += 1 }
      else if (la < lb) i += 1
      else j += 1
    }
    inter
  }

  /** Jaccard |a ∩ b| / (|a| + |b| − |a ∩ b|), exact since every term is an
    * integer; NaN for two empty arrays (0/0). */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val inter = intersectSize(a, b)
    inter.toDouble / (a.numElements() + b.numElements() - inter).toDouble
  }
}
