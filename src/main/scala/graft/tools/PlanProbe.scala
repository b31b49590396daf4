package graft.tools

import graft.{SparkEntry, Tables}

/** EXECUTED-plan inspection main — the adaptive sibling of [[graft.Explain]]
  * (which prints the static plan without running). Materializes the named
  * query and prints the FINAL adaptive plan, which is where runtime-only
  * shapes live: AQE ReusedExchange/stage-cache hits, empty-relation join
  * elimination, broadcast demotions. Usage:
  *   runMain graft.tools.PlanProbe <queryName> [sfDir]
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Tables.session(cores = Some(4), logLevel = "ERROR")
    val df = SparkEntry.queries(args(0))(spark, sfDir)
    df.collect()
    println("=====FINAL=====")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
