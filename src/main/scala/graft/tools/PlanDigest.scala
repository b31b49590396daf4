package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonicalized physical-plan digests — the plan-shape regression guard.
  *
  * A bench regression usually starts life as a silent PLAN regression: a
  * lost broadcast (join flips to SortMergeJoin), a lost pushdown (scan
  * reads everything), an extra Exchange. The digest reduces each query's
  * physical plan to the counts that matter for scale — scan/pushdown,
  * exchange/broadcast, and join-strategy nodes — so a diff against the
  * committed PLANS.md fails the build at the PLAN level, before anyone
  * has to notice a timing drift.
  *
  * Counting is done on the plan's string rendering (node names are stable
  * tokens; expression ids and literals are never matched), which also
  * sees through AdaptiveSparkPlanExec — its toString renders the full
  * initial plan even though its `children` is empty.
  *
  * Digests are taken with AQE OFF (AqeGate around the sweep). Under AQE
  * the static ReuseExchangeAndSubquery rule never runs — exchange reuse
  * happens at stage-materialization time against the runtime stage cache,
  * so an adaptive initial plan renders duplicate canonical subtrees as if
  * they shuffled twice (round-10's q_dedup_jaccard digest counted exch=5
  * where the EXECUTED plan reused the corpus-array branch). The
  * non-adaptive executedPlan applies the same canonicalized-subtree
  * matching statically, so `reuse` in these digests reflects what AQE's
  * stage cache does at runtime; ExchangeReuseSpec pins the runtime side
  * (a real ReusedExchange in the final adaptive plan) for the operators
  * whose scale story depends on it.
  */
object PlanDigest {

  private val fields: Seq[(String, String)] = Seq(
    // DSv1 parquet scans and how many of them carry a non-empty pushdown
    "scan" -> "FileScan parquet",
    "pushed" -> "PushedFilters: \\[(?!\\])",
    // shuffle exchanges: the Exchange token alone (lookarounds exclude
    // BroadcastExchange and ReusedExchange, which are single tokens)
    "exch" -> "(?<![A-Za-z])Exchange(?![A-Za-z])",
    "bcast" -> "BroadcastExchange",
    "reuse" -> "ReusedExchange",
    "bhj" -> "BroadcastHashJoin",
    "smj" -> "SortMergeJoin",
    "shj" -> "ShuffledHashJoin",
    "bnlj" -> "BroadcastNestedLoopJoin",
    "cart" -> "CartesianProduct")

  def digest(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    fields
      .map { case (name, re) => s"$name=${re.r.findAllIn(plan).size}" }
      .mkString(" ")
  }

  /** Digest every registered query at `sfDir`. Queries whose construction
    * fails digest as ERROR:<exception> instead of aborting the sweep. */
  def digestAll(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    graft.operators.AqeGate.withAqeOff(spark) {
      graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, f) =>
        name -> (try digest(f(spark, sfDir))
        catch { case e: Throwable => s"ERROR:${e.getClass.getSimpleName}" })
      }
    }

  def render(rows: Seq[(String, String)]): String =
    ("# PLANS — physical-plan digests (generated; do not hand-edit)\n\n" +
      "Per query: parquet scans / scans with non-empty PushedFilters /\n" +
      "shuffle Exchanges / BroadcastExchanges / ReusedExchanges / join\n" +
      "strategy node counts, from the sf0.001 physical plan at shuffle\n" +
      "partitions 4 with AQE off (static ReuseExchange mirrors AQE's\n" +
      "runtime stage-cache reuse; see PlanDigest). PlanDigestSpec diffs\n" +
      "plans against this file; regenerate after an INTENDED plan change\n" +
      "with: SPARK_GRAFT_REGEN_PLANS=1 sbt \"testOnly graft.PlanDigestSpec\"\n\n" +
      rows.map { case (n, d) => s"$n $d" }.mkString("\n") + "\n")

  def parse(text: String): Map[String, String] =
    text.linesIterator
      .filter(_.startsWith("q"))
      .map { line =>
        val i = line.indexOf(' ')
        line.substring(0, i) -> line.substring(i + 1)
      }
      .toMap

  /** Dev convenience: runMain graft.tools.PlanDigest [sfDir] regenerates
    * PLANS.md with the same session shape as the spec. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Tables.session(cores = Some(4), logLevel = "ERROR")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("PLANS.md"),
      render(digestAll(spark, sfDir)).getBytes("UTF-8"))
    spark.stop()
  }
}
