package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MinHash signatures for near-duplicate detection — SURVEY.md §2.10.
  *
  * A document's MinHash signature is a per-row computation over its shingle
  * set: component j = min over shingles of the j-th Carter–Wegman map of
  * the shingle's md5 base hash (graft.functions.Portable, the engine's one
  * hash family). Banding for LSH (Portable.bandKeys): the signature is cut
  * into bands; near-dup candidates collide on at least one (band index,
  * band key) pair — turning the O(n²) all-pairs problem into a shuffle on
  * band keys.
  */
object MinHash {

  /** k-component MinHash signature (array<bigint>, non-null) of a
    * shingle array, as the native codegen expression
    * graft.expressions.MinHashSignature: one md5 per shingle and a JIT
    * loop over the k affine maps. Bit-identical to
    * `Portable.minhashFromHashes(transform(shingles, Portable.h48), k)`,
    * the built-in formulation it is verified against. */
  def signature(shingles: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.MinHashSignature(expression(shingles), k))
  }

  /** Estimated Jaccard similarity = fraction of equal signature components. */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0),
      (s, x) => s + x).cast("double") / lit(k.toDouble)

  /** Exact Jaccard over two token arrays (set semantics) — native one-pass
    * expression; see [[exactJaccardHof]] for the built-in formulation it is
    * verified against. Two empty sets yield NaN (0/0), which any
    * `>= threshold` filter drops — unlike a plain ANSI division, which
    * would fail the whole job on the first empty-empty pair. */
  def exactJaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.JaccardSimilarity(expression(a), expression(b)))
  }

  /** Built-in-composition exact Jaccard, kept as the differential-test
    * oracle for [[exactJaccard]] (three interpreted set ops per pair).
    * try_divide keeps it total under ANSI: two empty sets give NULL here
    * where the native expression gives NaN — both fail any threshold. */
  def exactJaccardHof(a: Column, b: Column): Column =
    try_divide(
      size(array_intersect(array_distinct(a), array_distinct(b))).cast("double"),
      size(array_union(a, b)).cast("double"))
}
