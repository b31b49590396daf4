package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contiguous 0-based row indexing that never leaves the DataFrame engine.
  *
  * `RDD.zipWithIndex` has the right SHAPE for surrogate ids at scale (one
  * lightweight counting job, then per-partition offset arithmetic — never a
  * global single-partition window), but the classic
  * `df.rdd.zipWithIndex().map(Row...)` round-trip deserializes every row to
  * a GenericRow and drops whole-stage codegen / columnar execution for the
  * rest of the stage — real money on a wide ingest (60-column CSV: 1.0x at
  * 150k rows, 1.31x at 600k, 1.65x at 1.5M; SCALE_r14.json
  * `zipindex_wide_csv_ab`). This helper keeps the same two-job plan
  * entirely in Catalyst:
  *
  *  1. `monotonically_increasing_id()` encodes (partitionIndex << 33 |
  *     rowInPartition) — Spark's documented layout: partition id in the
  *     upper 31 bits, a contiguous 0-based per-partition counter below.
  *  2. A partial-aggregated count per partition id (the map side emits ONE
  *     row per task, so the "extra job" shuffles #partitions rows) collects
  *     the per-partition sizes — bounded driver state, one entry per task,
  *     the exact state `zipWithIndex` itself drives through the driver.
  *  3. Cumulative offsets come back as a broadcast equi-join on the
  *     partition id plus `offset + (mid & rowMask)` arithmetic — all
  *     codegen'd projections; the scan stays columnar.
  *
  * Determinism contract (identical to `RDD.zipWithIndex`): the input is
  * evaluated twice (count job + main job), so the assignment is stable only
  * over deterministic, narrowly-computed inputs — file scans and
  * deterministic projections over them. Order within a shuffled partition
  * is pinned only if the caller sorts it ([[withOrderedIndex]] does).
  */
object ZipIndex {

  /** Spark's documented monotonically_increasing_id layout. */
  private val RowBits = 33
  private val RowMask = (1L << RowBits) - 1

  /** Append `name` = the row's 0-based index in partition order (partition
    * index major, row-within-partition minor) — `zipWithIndex` semantics,
    * columnar execution. */
  def withRowIndex(df: DataFrame, name: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val mid = "__zip_mid"
    val withMid = df.withColumn(mid, monotonically_increasing_id())
    // per-partition sizes: partial aggregation makes each task emit a
    // single (pid, count) row, so this job is scan + #partitions-row shuffle
    val counts = withMid
      .groupBy(shiftright(col(mid), RowBits).as("__zip_pid"))
      .agg(count(lit(1)).as("__zip_cnt"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    val offsets = counts.toSeq.map { case (pid, cnt) =>
      val off = acc; acc += cnt; (pid, off)
    }
    withMid
      .join(broadcast(offsets.toDF("__zip_pid", "__zip_off")),
        shiftright(col(mid), RowBits) === col("__zip_pid"))
      .withColumn(name, col("__zip_off") + (col(mid).bitwiseAND(lit(RowMask))))
      .drop(mid, "__zip_pid", "__zip_off")
  }

  /** Append `name` = the row's 0-based dense rank by `orderCol` ascending
    * (unique keys assumed), computed scalably: range repartition (ordered,
    * non-overlapping key ranges across partitions) + in-partition sort +
    * [[withRowIndex]]. This is the distributed replacement for a global
    * `row_number() OVER (ORDER BY orderCol)`, whose single-partition window
    * is the textbook 100 TB bottleneck.
    *
    * The sorted layout is MATERIALIZED (eager localCheckpoint) before the
    * index arithmetic — a correctness requirement, not a cache:
    * RangePartitioner seeds its boundary SAMPLING from the runtime RDD id,
    * so the two jobs inside [[withRowIndex]] (counts, then the indexed
    * read), each compiling its own physical plan, could draw different
    * samples and place rows in DIFFERENT partitions — offsets from job
    * one would then misnumber rows in job two (silent at small scale,
    * where the sample is the whole input and boundaries coincide; real
    * once partitions sample). Freezing the shuffled+sorted blocks gives
    * both jobs one immutable layout. Under the default Local mode the
    * frozen blocks live on executors (the corpus-derived input here is the
    * caller's reduced table, e.g. SemDeDup's fine seeds at corpus/stride
    * rows — not the raw corpus) and an executor lost AFTER materialization
    * fails the job fast (truncated lineage cannot recompute the blocks);
    * `CheckpointMode.Reliable(dir)` freezes the same layout as FILES, so
    * the two jobs survive executor loss by re-reading — the same
    * Local/Reliable recovery contract as the CC/BPE loops, and
    * FaultToleranceSpec's `zip` cases prove both sides under a real
    * executor SIGKILL. */
  def withOrderedIndex(
      df: DataFrame,
      orderCol: String,
      name: String,
      mode: CheckpointMode = CheckpointMode.Local): DataFrame = {
    val lin = new Lineage(df.sparkSession, mode)
    withRowIndex(
      lin.tracked(
        df.repartitionByRange(col(orderCol)).sortWithinPartitions(orderCol),
        eager = true)._1,
      name)
  }
}
