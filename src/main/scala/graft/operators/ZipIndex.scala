package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Contiguous 0-based row indexing that never leaves the DataFrame engine.
  *
  * `RDD.zipWithIndex` has the right SHAPE for surrogate ids at scale
  * (per-partition row counts, then per-partition offset arithmetic —
  * never a global single-partition window), but the classic
  * `df.rdd.zipWithIndex().map(Row...)` round-trip deserializes every row to
  * a GenericRow and drops whole-stage codegen / columnar execution for the
  * rest of the stage — real money on a wide ingest (60-column CSV: 1.0x at
  * 150k rows, 1.31x at 600k, 1.65x at 1.5M; SCALE_r14.json
  * `zipindex_wide_csv_ab`). This helper keeps the indexed read in Catalyst:
  *
  *  1. `monotonically_increasing_id()` encodes (partitionIndex << 33 |
  *     rowInPartition) — Spark's documented layout: partition id in the
  *     upper 31 bits, a contiguous 0-based per-partition counter below.
  *  2. The partitions are those of the column-pruned plan
  *     `select(mid).queryExecution.toRdd`, which a file scan or a
  *     checkpointed frame plans without running a job.
  *     - ONE partition: its offset is 0, so the index is the id itself —
  *       0 Spark jobs, no join. Every file that fits one split (Spark's
  *       split floor is 4 MiB at 4 cores) takes this path.
  *     - Otherwise ONE scan-only job counts the rows of every partition
  *       (`sparkContext.runJob`, as `zipWithIndex` does: no exchange, no
  *       aggregate), and the cumulative offsets come back as a broadcast
  *       equi-join on the partition id plus `offset + (mid & rowMask)`.
  *
  * Precondition, checked: the full plan must split its rows exactly as the
  * pruned plan did — true of file scans, checkpointed frames and narrow
  * deterministic projections over them. A shuffled input under AQE is not
  * such a plan (narrower rows can coalesce to fewer partitions), so a row
  * whose partition id has no counted offset, or that lies past its
  * partition's count, fails the query (`raise_error`) instead of being
  * dropped or misnumbered. Order within a shuffled partition is pinned only
  * if the caller freezes and sorts it ([[withOrderedIndex]] does).
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
    val parts = withMid.select(mid).queryExecution.toRdd
    val n = parts.getNumPartitions
    val pid = shiftright(col(mid), RowBits)
    val row = col(mid).bitwiseAND(lit(RowMask))
    val unsplit = raise_error(lit(
      s"ZipIndex.withRowIndex: the input split unlike its $n counted partition(s); " +
        "index a file scan or a checkpointed frame"))
    if (n <= 1)
      withMid.withColumn(name, when(pid === 0L, col(mid)).otherwise(unsplit)).drop(mid)
    else {
      val counts = spark.sparkContext.runJob(parts,
        (it: Iterator[InternalRow]) => it.foldLeft(0L)((c, _) => c + 1))
      val offsets = counts.indices.zip(counts.scanLeft(0L)(_ + _))
        .map { case (i, off) => (i.toLong, off, counts(i)) }
      // left join: a row of an uncounted partition meets a NULL count
      withMid
        .join(broadcast(offsets.toDF("__zip_pid", "__zip_off", "__zip_cnt")),
          pid === col("__zip_pid"), "left")
        .withColumn(name,
          when(row < col("__zip_cnt"), col("__zip_off") + row).otherwise(unsplit))
        .drop(mid, "__zip_pid", "__zip_off", "__zip_cnt")
    }
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
