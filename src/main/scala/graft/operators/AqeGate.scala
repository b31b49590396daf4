package graft.operators

import org.apache.spark.sql.SparkSession

/** Reentrant, session-scoped "AQE off" gate for iterative loops whose
  * per-round jobs are small enough that AQE's per-stage materialization is
  * pure added latency (Bpe.learnMerges is the measured case: 655 s -> 358 s
  * for identical rounds at k=1024).
  *
  * `spark.conf` is session-global mutable state, so a naive
  * get/set/restore pair is not reentrant: two concurrent loops on the same
  * session interleave their get and set, the second captures "false" as
  * its restore value, and AQE stays disabled for the session after both
  * finish. This gate refcounts per session under one lock — only the
  * OUTERMOST entry captures the pre-gate value and only the LAST exit
  * restores it, so nested or concurrent gated loops compose.
  *
  * Deliberately narrow: unrelated queries running on the same session
  * while any gate is held still execute without AQE (a per-session conf
  * cannot be scoped per-query without a child session, which would lose
  * the caller's temp views and checkpoint config). Acceptable for batch
  * tokenizer-training-style jobs; callers needing isolation should pass a
  * dedicated `spark.newSession()`.
  */
private[graft] object AqeGate {
  private val Key = "spark.sql.adaptive.enabled"
  // session identity -> (gate depth, value to restore at depth 0)
  private val state =
    new java.util.IdentityHashMap[SparkSession, (Int, String)]()

  def withAqeOff[T](spark: SparkSession)(body: => T): T = {
    state.synchronized {
      state.get(spark) match {
        case null =>
          state.put(spark, (1, spark.conf.get(Key, "true")))
          spark.conf.set(Key, "false")
        case (depth, before) =>
          state.put(spark, (depth + 1, before))
      }
    }
    try body
    finally state.synchronized {
      state.get(spark) match {
        case (1, before) =>
          state.remove(spark)
          // A stopped session can throw from conf.set; swallowing keeps
          // the body's own exception (the interesting one) propagating
          // instead of being masked by the restore. The map entry is
          // already removed, so gate state stays consistent.
          // Only the stopped-session case is silent: a restore failure on
          // a LIVE session would leave AQE off for the rest of the
          // session, so it is at least loud.
          // A FATAL throwable (OOM, thread death) on the live path still
          // propagates and can mask the body's exception — the
          // conventional trade; fatal errors mean the JVM is past caring
          // which exception wins.
          try spark.conf.set(Key, before)
          catch {
            case _: Throwable if spark.sparkContext.isStopped => ()
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[graft] AqeGate: failed to restore $Key=$before on a live session: $e")
          }
        case (depth, before) =>
          state.put(spark, (depth - 1, before))
      }
    }
  }
}
