package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's one hash family for MinHash, SRP and SimHash, derived from
  * MD5 so the DuckDB oracle can replay it.
  *
  * Every MinHash signature (Similarity.bandTable / minhashCandidatePairs,
  * the streaming dedup sink, MinHashAggregator, SQL `graft_minhash`),
  * every SRP hyperplane (Similarity.srpBucket and everything built on it),
  * every SimHash fingerprint (SimHash.simhash, SQL `graft_simhash`) and
  * every Rabin–Karp token hash comes from this object, and every JVM-side
  * md5 is [[md5Jvm]]. There is no second family: band and bucket
  * state written by any writer is probeable by every reader. Both Spark
  * (`md5` + `conv`, codegen'd built-ins) and DuckDB (`md5` + hex parse)
  * compute the hashes bit-identically, so signatures, band keys, SRP
  * buckets and every candidate-pair or survivor output built on them are
  * exactly reproducible by the oracle. The companion SQL builders live in
  * graft.queries.PortableSql.
  *
  * Cost: one MD5 per shingle (the k components are affine maps of that one
  * base hash); SRP signs are plan-time constants, so a row pays only its
  * dot products; a SimHash token pays one MD5 for all 63 bits.
  */
object Portable {

  /** Modulus for the per-component universal-hash maps: 2^31 - 1
    * (Mersenne prime). The component map is the Carter–Wegman family
    * h_j(x) = (a_j * (x mod P) + b_j) mod P with a_j, b_j ∈ [1, P):
    * the product is < 2^62 (no Long overflow, no DuckDB BIGINT trap) and
    * wraps the modulus ~2^30 times, so the k components are genuinely
    * decorrelated.
    *
    * P must be SMALL relative to the 48-bit base hash for that to hold:
    * if a·h + b never reaches P the mod never wraps, every component is a
    * monotone affine map of the one base hash, all k components pick the
    * same argmin, and est_jaccard can only be 0 or 1. ExpressionSpec's
    * "decorrelated" case pins the wrap: on two 40-shingle sets with true
    * Jaccard 1/3, 64 components agree on more than 0 and fewer than 64,
    * and more than 32 of them are distinct. */
  val P: Long = (1L << 31) - 1

  /** Per-component multiplier/offset, md5-derived at plan/class-init time
    * (engine-independent constants; the SQL builders inline the same
    * values as literals). a ∈ [1, P-1], b ∈ [0, P-1]. */
  def a(j: Int): Long = (h48Jvm(s"mh_a_$j") % (P - 1)) + 1
  def b(j: Int): Long = h48Jvm(s"mh_b_$j") % P

  /** 48-bit base hash: first 12 hex chars of md5, as a long. */
  def h48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** k-component MinHash signature over a PRE-HASHED array (one md5 per
    * shingle: `transform(shingles, h48)`), as built-in higher-order
    * functions. Each component applies the Carter–Wegman map to the 48-bit
    * base hash reduced into [0, P); empty arrays yield all-Long.MaxValue
    * components. The engine signs with the native MinHash.signature; this
    * built-in formulation is kept as its differential-test reference. */
  def minhashFromHashes(hs: Column, k: Int): Column =
    array((0 until k).map(j =>
      coalesce(
        array_min(transform(hs, h => (lit(a(j)) * (h % lit(P)) + lit(b(j))) % lit(P))),
        lit(Long.MaxValue))): _*)

  /** LSH band keys of a signature: nBands strings of rowsPerBand
    * comma-joined components. A plain string key instead of a hashed long:
    * exactly reproducible by the oracle, and collision-free by
    * construction (band equality == component equality). */
  def bandKeys(sig: Column, nBands: Int, rowsPerBand: Int): Column =
    array((0 until nBands).map(bi =>
      concat_ws(",",
        slice(sig, bi * rowsPerBand + 1, rowsPerBand).cast("array<string>"))): _*)

  /** Rolling-hash (Rabin–Karp) polynomial bases, md5-derived like [[a]]/
    * [[b]]; in [2, P) so degree terms never collapse. */
  def rkB(which: Int): Long = (h48Jvm(s"rk_b_$which") % (P - 2)) + 2

  /** Rabin–Karp window hashes of a token array — native codegen expression
    * (graft.expressions.RabinKarpWindows): one md5 per TOKEN, then two
    * mod-P polynomials per w-window combined as h1·2³¹ + h2 (62-bit key,
    * collision-equivalent to the md5-head family; every intermediate
    * product < 2^62, so both engines stay in exact BIGINT arithmetic).
    * See [[windowHashes]] for the built-in formulation it is verified
    * against. */
  def windowHashesNative(toks: Column, w: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.RabinKarpWindows(
        org.apache.spark.sql.GraftColumnBridge.expression(toks), w))

  /** Built-in-composition window hashes over a PRE-HASHED token array `hs`
    * (values already reduced into [0, P)) — kept as the differential-test
    * oracle for [[windowHashesNative]]. The interpreted HOF lambda
    * measured SLOWER at sf0.1 than even md5-per-window native n-grams,
    * which is why the native expression exists.
    *
    * Shorter-than-w arrays yield an empty result explicitly: Spark's
    * sequence(1, 0) is DESCENDING ([1,0]), not empty (same pitfall as
    * TextFunctions.ngramsHof). */
  def windowHashes(hs: Column, w: Int): Column = {
    def poly(base: Long, i: Column): Column =
      (0 until w).foldLeft(lit(0L): Column)((acc, k) =>
        (acc * lit(base) + element_at(hs, (i + lit(k)).cast("int"))) % lit(P))
    when(size(hs) >= w,
      transform(
        sequence(lit(1), size(hs) - (w - 1)),
        i => poly(rkB(1), i) * lit(1L << 31) + poly(rkB(2), i)))
      .otherwise(array().cast("array<bigint>"))
  }

  /** JVM-side h48 of a string — identical value to [[h48]] (md5 head,
    * big-endian). */
  def h48Jvm(s: String): Long =
    h48Jvm(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[h48Jvm]] of a string's UTF-8 bytes: digest bytes 0-5, big-endian. */
  def h48Jvm(utf8: Array[Byte]): Long =
    java.nio.ByteBuffer.wrap(md5Jvm(utf8)).getLong >>> 16

  /** The 16 md5 bytes of `utf8`, on a per-thread digest — the one md5 the
    * JVM side of the engine takes (h48, SimHash, Rabin–Karp, layout tags). */
  def md5Jvm(utf8: Array[Byte]): Array[Byte] = md5Digest.get().digest(utf8)

  private val md5Digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Rank key of `round(x, 6)` as the DuckDB oracles evaluate it: x·1e6
    * (one double product) rounded half away from zero, as a double. Spark's
    * own `round(x, 6)` rounds the decimal of `Double.toString(x)` instead,
    * so near a ±0.5e-6 step the two can land on different sides; ordering
    * by this key ranks exactly as the oracles' `ORDER BY round(x, 6)`
    * (distinct keys stay distinct after the oracle's division by 1e6).
    * At |x·1e6| >= 2^52 the product is already an integer and is its own
    * key, which keeps NaN above +Inf above every finite key above -Inf. */
  def round6Key(x: Column): Column = {
    val y = x * lit(1e6)
    val m = abs(y)
    when(isnan(y) || m >= lit(4503599627370496.0), y)
      .otherwise(signum(y) * (floor(m) + when(m - floor(m) >= 0.5, 1).otherwise(0)))
  }

  /** Deterministic ±1 hyperplane entry for SRP bucketing, derived from
    * md5("srp_<j>_<i>"): first hex digit < 8 → +1 else -1. Computed at
    * PLAN TIME (j, i are constants), so rows pay only the dot products;
    * DuckDB re-derives the same sign with `md5()` + `strpos`. */
  def srpSign(j: Int, i: Int): Double =
    if ((h48Jvm(s"srp_${j}_${i}") & (1L << 47)) == 0) 1.0 else -1.0

  /** SimHash width: 63, not 64 bits, because DuckDB's checked BIGINT cannot
    * form 1<<63. The engine computes the fingerprint per row with the native
    * graft.expressions.SimHash64; [[simhashVoteCols]] and
    * [[simhashFromVotes]] are its built-in formulation over an exploded
    * token stream, kept as the differential-test reference (the DuckDB
    * oracle, PortableSql.simhashOracle, replays the same shape). */
  val SimHashBits = 63

  /** Per-token vote columns: +1/-1 for each of the 63 bit positions, from
    * the md5 32-bit halves (bits 0-31 from the low half, 32-62 high). A
    * NULL half (md5 of a NULL token) votes -1 on every bit. */
  def simhashVoteCols(hiCol: Column, loCol: Column): Seq[Column] =
    (0 until SimHashBits).map { j =>
      val bit =
        if (j < 32) shiftright(loCol, j) % 2
        else shiftright(hiCol, j - 32) % 2
      when(bit =!= 0, lit(1L)).otherwise(lit(-1L))
    }

  /** Fingerprint from 63 vote-sum columns: bit j set when vote sum > 0. */
  def simhashFromVotes(votes: Seq[Column]): Column =
    votes.zipWithIndex.map { case (v, j) =>
      when(v > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
}
