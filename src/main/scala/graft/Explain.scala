package graft

/** Plan inspection main: prints the formatted physical plan of each named
  * query (all queries if none named). Usage:
  *   runMain graft.Explain <sfDir> [queryName...]
  * Used during development to confirm pushdown/broadcast/codegen shapes —
  * SURVEY.md §4's "explain and iterate" discipline.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Tables.session(cores = Some(4), logLevel = "ERROR")
    names.foreach { name =>
      println(s"\n======== $name ========")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
