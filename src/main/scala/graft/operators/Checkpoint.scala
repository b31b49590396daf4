package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Lineage-truncation strategy for the loop-carried / multi-branch
  * operators (Dedup.duplicateClusters, Similarity.jaccardNearDupPairs,
  * Bpe.learnMerges, Layout.compactExecute).
  *
  * These operators MUST truncate lineage — an iterative plan nests its
  * predecessor twice per round and analysis alone goes exponential — but
  * HOW they truncate is a deployment decision, not an algorithmic one:
  *
  *  - [[CheckpointMode.Local]] (default): `localCheckpoint` — blocks live
  *    on executors (spillable, zero extra I/O path). Fastest, and correct
  *    on a single node or an ephemeral cluster, but after truncation the
  *    lineage is GONE: an executor lost mid-loop fails the job
  *    unrecoverably. The right mode for local[_], notebooks, and
  *    fail-fast batch.
  *  - [[CheckpointMode.Reliable]]: `checkpoint` into a fault-tolerant
  *    directory (HDFS / object store). Each materialized round is written
  *    out and re-readable, so executor churn costs a re-read, not the
  *    job — the 1000-executor production mode. Costs one write+read of
  *    each round frame; checkpoint files persist until the application
  *    exits (or `spark.cleaner.referenceTracking.cleanCheckpoints=true`),
  *    so the caller owns the directory's lifecycle.
  *
  * Both modes produce byte-identical operator output (CheckpointModeSpec
  * proves it per operator) — the mode changes WHERE round state lives,
  * never WHAT is computed.
  */
sealed trait CheckpointMode

object CheckpointMode {
  /** Executor-block truncation (`localCheckpoint`) — single-node /
    * ephemeral default. */
  case object Local extends CheckpointMode

  /** Reliable truncation (`checkpoint`) into `dir` — survives executor
    * loss mid-loop. `dir` must be on storage every executor can reach
    * (HDFS, S3A, NFS); a fresh UUID subdirectory is created per operator
    * invocation, standard `SparkContext.setCheckpointDir` behavior. */
  final case class Reliable(dir: String) extends CheckpointMode
}

/** Per-invocation lineage manager: checkpoints loop-carried frames under
  * the chosen mode and releases superseded round state eagerly (block
  * hygiene — without explicit release, maxIter copies of the working set
  * stay pinned until JVM GC notices the dead reference). Instantiated at
  * operator entry; single-threaded per operator invocation, matching the
  * loops that use it. */
private[graft] final class Lineage(spark: SparkSession, mode: CheckpointMode) {
  private val sc = spark.sparkContext
  mode match {
    case CheckpointMode.Reliable(dir) => sc.setCheckpointDir(dir)
    case CheckpointMode.Local         => ()
  }

  /** Checkpoint `df` under the mode; returns the truncated frame plus the
    * ids of any RDD blocks the call newly pinned (empty in Reliable mode —
    * reliable rounds live as files, not blocks, and are cleaned by the
    * ContextCleaner / app exit rather than by [[release]]). */
  def tracked(df: DataFrame, eager: Boolean = true): (DataFrame, Set[Int]) = {
    val before = sc.getPersistentRDDs.keySet
    val out = mode match {
      case CheckpointMode.Local       => df.localCheckpoint(eager)
      case _: CheckpointMode.Reliable => df.checkpoint(eager)
    }
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  /** [[tracked]] (eager) plus the frame's row count, folded into the
    * materializing job as an observed metric — a separate `count()` on
    * the checkpoint would be one more job (two under AQE). */
  def trackedCount(df: DataFrame): (DataFrame, Set[Int], Long) = {
    val name = s"graft_rows_${Lineage.observations.incrementAndGet()}"
    val observed = df.observe(name, count(lit(1)))
    val (out, ids) = tracked(observed)
    val rows = observed.queryExecution.observedMetrics.get(name)
      .map(_.getLong(0))
      .getOrElse(out.count()) // metric absent: the plan was optimized away
    (out, ids, rows)
  }

  /** Release blocks pinned by a superseded round (no-op on ids from
    * Reliable mode). Non-blocking: successors are already materialized. */
  def release(ids: Set[Int]): Unit =
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
}

private[graft] object Lineage {
  /** Per-JVM counter keeping observed-metric names unique in a plan. */
  private val observations = new java.util.concurrent.atomic.AtomicLong()
}
