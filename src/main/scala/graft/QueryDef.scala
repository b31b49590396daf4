package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator of the engine's query surface (SURVEY.md §2).
  *
  * Every operator is exposed three ways: as library code (the modules under
  * `graft.operators` / `graft.functions` / `graft.sources`), as a runnable
  * query over the test tables (`run`), and — where ANSI-SQL-expressible — as
  * a DuckDB oracle (`oracle`) used by the driver's differential check.
  *
  * Determinism contract (SURVEY.md §5): every oracle-checked query ends in a
  * total-order ORDER BY, float aggregates are rounded identically on both
  * sides, and integer outputs are BIGINT on both sides.
  *
  * `prep` is the query's untimed one-time table prep (a bucketed or
  * partitioned fixture layout, memoized in [[Tables]]): Bench runs it
  * before timing anything. `run` builds the same layout itself, so the
  * query stays self-contained without it.
  */
final case class QueryDef(name: String, oracle: Option[String],
    prep: (SparkSession, String) => Any = (_, _) => ())(
    val run: (SparkSession, String) => DataFrame)

object Registry {
  /** All registered operators, in SURVEY §2 order. */
  def defs: Seq[QueryDef] =
    graft.queries.RelationalQueries.defs ++
      graft.queries.JoinQueries.defs ++
      graft.queries.AggQueries.defs ++
      graft.queries.WindowQueries.defs ++
      graft.queries.SortSetQueries.defs ++
      graft.queries.ScalarQueries.defs ++
      graft.queries.TextQueries.defs ++
      graft.queries.TextQueries.extraDefs ++
      graft.queries.CorpusQueries.defs ++
      graft.queries.SimilarityQueries.defs ++
      graft.queries.StreamShapeQueries.defs ++
      graft.queries.PipelineQueries.defs ++
      graft.queries.ScaleQueries.defs ++
      graft.queries.LinkageQueries.defs
}
