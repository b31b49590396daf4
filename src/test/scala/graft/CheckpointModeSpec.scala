package graft

import graft.operators.{Bpe, CheckpointMode, Dedup, Layout, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The loop-carried operators truncate lineage; HOW (executor-local blocks
  * vs a reliable checkpoint dir) is a deployment choice that must never
  * change the computed result. Each test runs the operator under both
  * [[CheckpointMode]]s and asserts byte-identical output — and that
  * Reliable mode actually wrote round state into the fault-tolerant dir
  * (so the test can't silently pass by both paths taking the local
  * branch). */
class CheckpointModeSpec extends AnyFunSuite with SparkTest {

  private val sfDir = "/root/testdata/sf0.001"

  private def reliableDir(tag: String): String =
    SparkTest.tempDir(s"graft-ckpt-$tag")

  private def checkpointFilesUnder(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else 1L
    walk(new java.io.File(dir))
  }

  test("duplicateClusters: reliable checkpoint output == localCheckpoint output") {
    import spark.implicits._
    // chain (forces multi-round contraction) + clique + isolated pair
    val pairs = (
      (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq ++
        Seq((100L, 101L), (100L, 102L), (101L, 102L), (200L, 201L))
      ).toDF("doc_a", "doc_b")
    // driverFinishEdges = 0 keeps the LOOP's reliable round files under
    // test (the default driver finish would absorb a 39-edge residual)
    val local = Dedup.duplicateClusters(pairs, driverFinishEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dir = reliableDir("cc")
    val reliable = Dedup.duplicateClusters(
        pairs, mode = CheckpointMode.Reliable(dir), driverFinishEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(reliable == local)
    // every chain member contracts to root 1; the reliable path really
    // checkpointed (round files exist under the dir)
    assert(local.filter(_._1 <= 40L).forall(_._2 == 1L))
    assert(checkpointFilesUnder(dir) > 0, "no reliable checkpoint files written")
  }

  test("learnMerges: reliable checkpoint merges == localCheckpoint merges") {
    import spark.implicits._
    val words = Seq(
      ("aaaa", 10L), ("low", 6L), ("lower", 3L), ("lowest", 4L),
      ("newest", 5L), ("widest", 2L)).toDF("word", "n")
    // learnMergesLoop keeps the LOOP's reliable round files under test
    // (the default driver finish learns a vocabulary this small)
    def run(mode: CheckpointMode) =
      Bpe.learnMergesLoop(words, 8, mode).orderBy("step").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val dir = reliableDir("bpe")
    val (local, reliable) = (run(CheckpointMode.Local),
      run(CheckpointMode.Reliable(dir)))
    assert(reliable == local)
    assert(local.nonEmpty)
    assert(checkpointFilesUnder(dir) > 0, "no reliable checkpoint files written")
  }

  test("jaccardNearDupPairs: reliable checkpoint pairs == localCheckpoint pairs") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    def run(mode: CheckpointMode) =
      Similarity.jaccardNearDupPairs(docs, minJaccard = 0.5, mode = mode)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dir = reliableDir("jac")
    val (local, reliable) = (run(CheckpointMode.Local),
      run(CheckpointMode.Reliable(dir)))
    assert(reliable == local)
    assert(checkpointFilesUnder(dir) > 0, "no reliable checkpoint files written")
  }

  test("jaccardNearDupPairs: past 100k docs the shared subtrees checkpoint eagerly, same pairs") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // reliable checkpoints make the construction-time work observable:
    // the eager branch writes the prefix checkpoint before any action, the
    // lazy one leaves it to the first action (under AQE, planning the
    // prefix already runs its map stages and so writes the base)
    val lazyDir = reliableDir("jac-lazy")
    val lazyPairs = Similarity.jaccardNearDupPairs(docs, minJaccard = 0.5,
      mode = CheckpointMode.Reliable(lazyDir))
    val lazyFiles = checkpointFilesUnder(lazyDir)
    val eagerDir = reliableDir("jac-eager")
    val eagerPairs = Similarity.jaccardNearDupPairs(docs, minJaccard = 0.5,
      mode = CheckpointMode.Reliable(eagerDir), corpusRows = Some(200000L))
    assert(checkpointFilesUnder(eagerDir) > lazyFiles,
      "corpusRows > 100k must materialize the shared subtrees while the frame is built")
    val expected = pairs(lazyPairs)
    assert(expected.nonEmpty)
    assert(pairs(eagerPairs) == expected)
  }

  test("containmentNearDupPairs: reliable checkpoint pairs == localCheckpoint pairs") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.ngrams(
          graft.functions.TextFunctions.tokens(col("text")), 3).as("toks"))
    def run(mode: CheckpointMode) =
      Similarity.containmentNearDupPairs(docs, minContainment = 0.8, mode = mode)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dir = reliableDir("cont")
    val (local, reliable) = (run(CheckpointMode.Local),
      run(CheckpointMode.Reliable(dir)))
    assert(reliable == local)
    assert(local.nonEmpty)
    assert(checkpointFilesUnder(dir) > 0, "no reliable checkpoint files written")
  }

  test("compactExecute: reliable checkpoint audit and layout == local") {
    import spark.implicits._
    def build(): String = {
      val path = SparkTest.tempDir("graft-ckpt-compact") + "/t"
      ((1 to 250).map(i => (i.toLong, "a")) ++
        (1001 to 1090).map(i => (i.toLong, "b"))).toDF("id", "p")
        .repartition(10)
        .write.partitionBy("p").parquet(path)
      path
    }
    def run(path: String, mode: CheckpointMode) = {
      val audit = Layout.compactExecute(spark, path, "p", 100L, mode)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).sorted.toSeq
      val rows = spark.read.parquet(path)
        .select("id", "p").as[(Long, String)].collect().sorted.toSeq
      (audit, rows)
    }
    val dir = reliableDir("compact")
    val (localPath, reliablePath) = (build(), build())
    val local = run(localPath, CheckpointMode.Local)
    val reliable = run(reliablePath, CheckpointMode.Reliable(dir))
    assert(reliable == local)
    assert(local._1.map(a => (a._1, a._3)) == Seq(("a", 3), ("b", 1)))
    assert(checkpointFilesUnder(dir) > 0, "no reliable checkpoint files written")
  }
}
