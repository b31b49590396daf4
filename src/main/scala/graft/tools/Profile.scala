package graft.tools

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators.{Bpe, Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only phase profiler for the expensive near-dup pipeline: times the
  * jaccard pair generation and the connected-components resolution
  * separately. Usage: runMain graft.tools.Profile <sfDir>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("sum(id)").collect()

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // time() plus what the call did to the heap: GC seconds, and the
    // old-generation high-water mark over a post-GC baseline — objects
    // that lived long enough to be promoted, i.e. the call's retained
    // working set (local mode: driver and executors share the heap, so
    // it bounds the driver's share from above)
    def timeHeap[A](label: String)(f: => A): A = {
      import java.lang.management.{ManagementFactory, MemoryType}
      import scala.jdk.CollectionConverters._
      val old = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      def gcMs = gcs.map(_.getCollectionTime).sum
      System.gc()
      val base = old.map(_.getUsage.getUsed).sum
      old.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val r = time(label)(f)
      val peak = old.map(_.getPeakUsage.getUsed).sum
      println(f"[profile] $label: gc ${(gcMs - gc0) / 1e3}%.2f s, old-gen peak " +
        f"+${(peak - base) / 1048576.0}%.0f MB over ${base / 1048576.0}%.0f MB")
      r
    }

    // one phase per JVM (second arg selects) so persisted blocks from an
    // earlier phase can't distort a later measurement
    val mode = args.drop(1).headOption.getOrElse("all")
    val t = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"), T.tokens(col("text")).as("toks"))
    if (mode == "pairs" || mode == "all") {
      val pairs = time("jaccard pairs build")(
        Similarity.jaccardNearDupPairs(t, minJaccard = 0.5,
        corpusRows = Some(Tables.rowCount(spark, sfDir, "documents"))))
      val nPairs = time("jaccard pairs count (cold)")(pairs.count())
      println(s"[profile] n_pairs = $nPairs")
      // warm repeats: base/prefix lazy checkpoints are materialized after
      // the cold run, so these time the candidate join + verify stages —
      // the part the PPJoin prunes act on. min-of-reps is the number to
      // compare (shared host).
      val reps = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "4").toInt
      (1 to reps).foreach(r =>
        time(s"jaccard pairs count (warm rep$r)")(
          Similarity.jaccardNearDupPairs(t, minJaccard = 0.5,
        corpusRows = Some(Tables.rowCount(spark, sfDir, "documents"))).count()))
    }
    if (mode == "clusters" || mode == "all") {
      val pairs2 = Similarity.jaccardNearDupPairs(t, minJaccard = 0.5,
        corpusRows = Some(Tables.rowCount(spark, sfDir, "documents")))
      time("clusters total (pairs + CC)")(
        Dedup.duplicateClusters(pairs2.select("doc_a", "doc_b")).count())
    }
    // NOTE: a per-stage mode that checkpointed each pipeline stage and
    // timed the count()s separately was removed — localCheckpoint executes
    // the subtree's AQE stages inside the CALL (untimed val definition), so
    // its numbers attributed ~70% of the cost to the wrong stages and
    // motivated three "optimizations" that each made the end-to-end slower.
    // Time build vs count (above) instead; the build time IS the AQE
    // stage execution of whatever the operator checkpoints.
    if (mode == "bpe") {
      // production-k BPE sweep: rounds + wall per batch width at k from
      // SPARK_GRAFT_BPE_K (default 1024). Sequential (batch=1) is k
      // driver round-trips — the exact cost the batching exists to cut —
      // so it is only run when SPARK_GRAFT_BPE_SEQ=1 (at k=1024 it is
      // ~k jobs; measure once, not per sweep). Output parity across
      // batch widths is proven in CorpusSpec, not re-checked here.
      val k = sys.env.getOrElse("SPARK_GRAFT_BPE_K", "1024").toInt
      // The synthetic documents corpus draws from a ~31-word pool, so its
      // word table exhausts at ~89 merges — far short of production k.
      // SPARK_GRAFT_BPE_VOCAB=N swaps in a deterministic Zipf-ish
      // vocabulary of N distinct words (5-12 chars, 26-letter alphabet,
      // count ~ N/(rank+1)) — a profiling fixture sized like a real
      // corpus's vocabulary, same spirit as the CC chain in
      // FaultTolerance. Default: the corpus words (honest but tiny).
      val words = (sys.env.get("SPARK_GRAFT_BPE_VOCAB") match {
        case Some(n) =>
          spark.range(n.toLong).select(
            array_join(transform(
              sequence(lit(0), pmod(col("id"), lit(8)) + lit(4)),
              i => chr(pmod(xxhash64(col("id"), i), lit(26)) + lit(97))), "")
              .as("word"),
            (lit(n.toLong) / (col("id") + 1) + 1).cast("long").as("n"))
            .groupBy("word").agg(max("n").as("n")) // hash collisions: keep one row per word
        case None => Tables.documents(spark, sfDir)
          .select(explode(T.tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n"))
      }).localCheckpoint(true) // sweep times learnMerges, not the build
      println(s"[profile] bpe vocab words = ${words.count()}, k = $k")
      val widths =
        (if (sys.env.get("SPARK_GRAFT_BPE_SEQ").contains("1")) Seq(1) else Nil) ++
          sys.env.get("SPARK_GRAFT_BPE_WIDTHS")
            .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt))
            .getOrElse(Seq(8, 32, 64))
      // the batch widths are a property of the distributed loop, so the
      // sweep forces it; the default entry (driver finish up to
      // Bpe.DriverLearnWords words) is timed on its own line
      widths.foreach { b =>
        val n = timeHeap(s"bpe k=$k batch=$b")(
          Bpe.learnMergesLoop(words, k, batch = b).count())
        println(s"[profile] bpe batch=$b rounds=${Bpe.lastLearnRounds} merges=$n")
      }
      val n = timeHeap(s"bpe k=$k default")(Bpe.learnMerges(words, k).count())
      println(s"[profile] bpe default rounds=${Bpe.lastLearnRounds} merges=$n")
    }
    if (mode == "cc" || mode == "all") {
      // CC on a cheap precomputed frame: isolates the iteration overhead.
      // SPARK_GRAFT_CC_EDGES=N swaps the jaccard pairs for a synthetic
      // clique forest of about N pair rows to time the finishes near
      // Dedup's driver-finish caps; SPARK_GRAFT_CC_CLIQUE sets the clique
      // size q (default 8: q(q-1)/2 = 28 rows per clique; 2 gives disjoint
      // pairs, the most nodes per edge).
      val cached = (sys.env.get("SPARK_GRAFT_CC_EDGES") match {
        case Some(n) =>
          val q = sys.env.getOrElse("SPARK_GRAFT_CC_CLIQUE", "8").toLong
          val node = (i: String) => (col("id") * q + col(i)).as(s"doc_$i")
          spark.range(math.max(1L, n.toLong / (q * (q - 1) / 2)))
            .select(col("id"), explode(sequence(lit(0L), lit(q - 1))).as("a"))
            .select(col("id"), col("a"), explode(sequence(lit(0L), lit(q - 1))).as("b"))
            .filter(col("a") < col("b"))
            .select(node("a"), node("b"))
        case None => Similarity.jaccardNearDupPairs(t, minJaccard = 0.5,
            corpusRows = Some(Tables.rowCount(spark, sfDir, "documents")))
          .select("doc_a", "doc_b")
      }).localCheckpoint(true)
      val raw = cached.count()
      println(s"[profile] cc pair rows = $raw")
      // the three driver-finish caps: the default (early driver finish
      // when the raw rows are at most Dedup.DriverEarlyEdges), raw - 1
      // (one-hop contraction, then the residual driver finish) and 0
      // (contraction, then the loop); the path taken is printed
      val reps = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
      (1 to reps).foreach { r =>
        Seq("default" -> Dedup.DriverFinishEdges, "raw-1" -> (raw - 1), "0" -> 0L)
          .foreach { case (name, cap) =>
            timeHeap(s"CC cap=$name rep$r")(
              Dedup.duplicateClusters(cached, driverFinishEdges = cap).count())
            println(s"[profile] CC cap=$name path=${Dedup.lastPath}")
          }
      }
    }
    spark.stop()
  }
}
