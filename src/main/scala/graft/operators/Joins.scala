package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators beyond the stock equi-join surface — SURVEY.md §2.3. */
object Joins {

  /** As-of join: for each left row, the single right row with the greatest
    * `rightTime <= leftTime` among rows sharing the join key.
    *
    * Formulation: equi join on the key (shuffle-partitioned by key — scales
    * to arbitrary data sizes; no global sort), time predicate as a join
    * filter, then a windowed top-1 per left row. `idCols` must uniquely
    * identify a left row; `tieBreak` makes the pick deterministic when
    * several right rows share the as-of time.
    *
    * This generalizes the reference's "latest ingest row" lookup
    * (`ORDER BY ID DESC` + take-first, data_seoul_2_csv_noopenapi.py:74-79)
    * from a per-key driver query to a distributed operator.
    *
    * Scale note: fan-out is bounded by matches-per-key; with heavy key skew
    * AQE skew-join splitting applies because the pre-window shape is a plain
    * shuffled equi join.
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      leftTime: Column,
      rightTime: Column,
      idCols: Seq[String],
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val joined = left.join(right, leftKey === rightKey && rightTime <= leftTime)
    val w = Window
      .partitionBy(idCols.map(col): _*)
      .orderBy(rightTime.desc +: tieBreak: _*)
    joined
      .withColumn("__asof_rn", row_number().over(w))
      .filter(col("__asof_rn") === 1)
      .drop("__asof_rn")
  }

  /** Range join of facts against a small band/dimension table with an
    * arbitrary non-equi condition. The small side is broadcast so the plan
    * is a broadcast nested-loop join — the only shape that stays cheap for
    * theta joins at 100 TB (never cartesian two large sides).
    */
  def rangeJoinSmall(facts: DataFrame, smallBands: DataFrame, cond: Column): DataFrame =
    facts.join(broadcast(smallBands), cond)

  /** Bloom-prefiltered join: build a Bloom filter over the (already
    * filtered) dim side's keys and push `might_contain` into the fact
    * scan BEFORE the join shuffle — the runtime-filter technique
    * (Catalyst's InjectRuntimeFilter applies it when statistics allow;
    * this makes it explicit and deterministic for selective dim
    * predicates the optimizer can't size). Bloom filters have no false
    * negatives, so the result set is EXACTLY the plain join's — only the
    * shuffled fact volume changes. The built filter is bounded driver
    * state (numBits/8 bytes, default ~1 MB), same category as the
    * centroid/schema collects the 100 TB rules allow; at cluster scale
    * the same bytes ride one broadcast instead of a fact-table shuffle
    * of non-matching rows.
    *
    * Uses Spark's own sketch expressions (BloomFilterAggregate /
    * BloomFilterMightContain over xxhash64-ed keys) so behavior matches
    * the engine's runtime filters bit-for-bit.
    *
    * Sizing: when `estimatedDimKeys` is not given, the filter is sized
    * from a `count()` of the already-filtered dim side — one extra pass
    * over the (small, by contract) dim, which at 100 TB is what keeps an
    * oversized bloom from wasting broadcast bytes and an undersized one
    * from losing selectivity. Pass an explicit estimate to skip the count
    * when the caller already knows the cardinality.
    */
  def bloomPrefilteredJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      estimatedDimKeys: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val nKeys = math.max(1L, estimatedDimKeys.getOrElse(dim.count()))
    val bloomAgg = new BloomFilterAggregate(
      new XxHash64(Seq(expression(col(key))), 42L), nKeys)
      .toAggregateExpression()
    val bloom = dim.select(column(bloomAgg).as("bf")).collect()(0).getAs[Array[Byte]](0)
    val pruned = fact.filter(column(BloomFilterMightContain(
      Literal(bloom, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(expression(col(key))), 42L))))
    pruned.join(dim, Seq(key))
  }

  /** Salted equi join for skewed fact keys: the dim side is replicated
    * `salts` times (one copy per salt value) and each fact row picks a
    * deterministic salt from `saltSource`, so one hot key's rows spread
    * over `salts` shuffle partitions instead of landing on one reducer.
    * The join condition becomes (key, salt) — semantically identical to
    * the plain key join (every fact row still meets every dim row of its
    * key exactly once), which is what makes the plain join the oracle.
    *
    * This is the manual form of AQE's skew-join splitting for when the
    * skew is known up front (AQE only splits post-shuffle; salting also
    * spreads the map-side hash build). Dim replication costs `salts`× the
    * dim size — use for small-dim/large-skewed-fact shapes only.
    *
    * `saltSource` must be deterministic per fact row (e.g. a row id), so
    * retried tasks recompute the same salt.
    *
    * Measured posture (SCALE_r15 skew_ab_100x, 100x events, broadcast off,
    * hot key at 5/30/85% of fact rows): static salting won every point
    * (0.97/1.02/1.63 s) with AQE skew-split close behind (1.06/1.24/1.70 s)
    * and the unmitigated join degrading with skew (1.31/2.44/5.66 s) — so
    * salt KNOWN-hot keys, and rely on AQE as the zero-code default for
    * unknown distributions; never run a hot-key join with both off.
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      salts: Int,
      saltSource: Column): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val saltedFact = fact.withColumn("__salt", pmod(xxhash64(saltSource), lit(salts.toLong)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1L))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Interval-overlap join: left rows carry an interval [lStart, lEnd],
    * right rows an instant rTime; emits every (left, right) pair with
    * lStart <= rTime <= lEnd, each exactly once.
    *
    * Formulation: both sides are bucketed onto a `binSeconds`-wide time
    * grid — the left exploded over every bin its interval touches, the
    * right assigned its single bin — and the non-equi predicate runs as a
    * *filter after a bucket equi-join*. The shuffle is hash(bin), so two
    * large sides co-partition by time locality instead of falling into a
    * cartesian nested-loop (the fate of a raw theta join when neither side
    * is broadcastable). Each right instant lives in exactly one bin and
    * the left covers each touched bin once, so no pair dedup is needed.
    *
    * Pick `binSeconds` near the typical interval length: fan-out per left
    * row is `len/binSeconds + 1` bins, and bin population bounds the
    * per-partition compare cost.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      lStart: Column,
      lEnd: Column,
      rTime: Column,
      binSeconds: Long): DataFrame = {
    val binUs = binSeconds * 1000000L
    // floor(), not `/`: Column./ on longs is double division, and sequence()
    // needs exact integral bounds
    def bin(t: Column) = floor(unix_micros(t) / lit(binUs))
    val lb = left.withColumn("__bin", explode(sequence(bin(lStart), bin(lEnd))))
    val rb = right.withColumn("__bin", bin(rTime))
    lb.join(rb, Seq("__bin"))
      .filter(rTime >= lStart && rTime <= lEnd)
      .drop("__bin")
  }

  /** Interval × interval overlap join — both sides are LARGE interval
    * sets (sessions vs maintenance windows, ad flights vs outages), so a
    * raw `a.start <= b.end AND b.start <= a.end` theta join would plan as
    * a nested loop. Both sides explode onto the same time grid and meet
    * in a bin equi-join; a pair overlapping many bins would duplicate, so
    * only the FIRST bin both sides share emits the pair:
    * `max(bin(aStart), bin(bStart))` — exactly-once without a distinct.
    *
    * Scale shape: shuffle keyed by bin (time-spread data ⇒ spread keys;
    * hot bins split by AQE); per-row fan-out is `len/binSeconds + 1`, so
    * pick `binSeconds` near the typical interval length.
    */
  def intervalOverlapJoin(
      left: DataFrame,
      right: DataFrame,
      lStart: Column,
      lEnd: Column,
      rStart: Column,
      rEnd: Column,
      binSeconds: Long): DataFrame = {
    val binUs = binSeconds * 1000000L
    def bin(t: Column) = floor(unix_micros(t) / lit(binUs))
    val lb = left.withColumn("__bin", explode(sequence(bin(lStart), bin(lEnd))))
    val rb = right.withColumn("__bin", explode(sequence(bin(rStart), bin(rEnd))))
    lb.join(rb, Seq("__bin"))
      .filter(lStart <= rEnd && rStart <= lEnd)
      .filter(col("__bin") === greatest(bin(lStart), bin(rStart)))
      .drop("__bin")
  }
}
