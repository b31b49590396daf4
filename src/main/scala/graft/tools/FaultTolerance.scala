package graft.tools

import scala.jdk.CollectionConverters._

import graft.operators.{Bpe, CheckpointMode, Dedup}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Fault-injection harness for [[CheckpointMode]]: runs a loop-carried
  * operator on a real multi-process cluster (`local-cluster[2,1,…]` —
  * separate executor JVMs, exactly the failure domain `local[_]` cannot
  * model), SIGKILLs every executor JVM mid-loop (once the first round's
  * lineage is truncated and its state live), and reports whether the job
  * completed with correct output. The Workers restart replacement
  * executors within seconds — the cluster heals either way; the verdict
  * is decided solely by WHERE the lost round state lived (blocks vs
  * files).
  *
  * Usage: runMain graft.tools.FaultTolerance <local|reliable> [cc|bpe|zip|stream|embed|linkage] [size]
  *
  *  - `cc`  (default): Dedup.duplicateClusters on a `size`-long chain —
  *    every label must come out as the chain head.
  *  - `bpe`: Bpe.learnMerges on a deterministic `size`-word Zipf
  *    vocabulary — the faulted merge table must equal a second, unfaulted
  *    run on the healed cluster (learnMerges is deterministic, so any
  *    divergence means the fault corrupted round state).
  *  - `zip`: ZipIndex.withOrderedIndex over a fully-reversed key column,
  *    killed after the frozen shuffle layout is materialized — Reliable
  *    re-reads the layout files and every rank must still equal its key;
  *    Local fails fast (the frozen blocks died with the executors).
  *  - `stream`: Streams.dedupIngestSink over a file-source stream of
  *    duplicate-laden documents, killed DETERMINISTICALLY between
  *    micro-batch 0 (committed) and micro-batch 1 (whose input file is
  *    only written after the SIGKILL lands — input gating) — the faulted
  *    run's admitted set (after stage retry on replacement executors, or
  *    one query restart from its checkpoint if the kill took the query
  *    down) must equal an unfaulted reference run. `mode` is ignored:
  *    the sink's state is parquet files + streaming checkpoint by
  *    design, so the case proves the replay-idempotence contract
  *    (per-batch `batch=<id>` overwrite) rather than a Local/Reliable
  *    contrast.
  *  - `embed`: Streams.embedIngestSink over a file-source stream of
  *    duplicate-laden vectors, killed with the same input-gated
  *    deterministic SIGKILL after batch 0 commits — same recovery
  *    contract as `stream` (stage retry or one checkpoint restart), with
  *    TWO equality gates: the faulted admitted vec_id set must equal an
  *    unfaulted reference run's, and the SRP bucket-state table must be
  *    CONSISTENT with the admitted store (exactly one bucket row per
  *    admitted vector — a half-written batch would break either side).
  *  - `linkage`: Streams.linkageIngestSink over a file-source stream of
  *    arrivals that each truncate one canonical record, with the same
  *    input-gated kill and recovery — the faulted matched store must
  *    equal an unfaulted reference run's. The sink is stateless across
  *    batches, so the contract under test is per-batch overwrite alone.
  *
  * Expected behavior (FaultToleranceSpec asserts it from a subprocess):
  *  - `reliable`: the loop's round state lives in checkpoint FILES every
  *    executor can re-read — the job completes despite the kill with
  *    correct output (exit 0, line `verdict=output_ok`).
  *  - `local`: round state lives in the killed executors' blocks and the
  *    truncated lineage cannot recompute them — the job fails (exit 0
  *    with line `verdict=failed_as_expected` so the spec can assert the
  *    CONTRAST, not just a crash).
  *
  * Output lines are `[fault] key=value`; the last line is the verdict.
  */
object FaultTolerance {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("reliable")
    val op = args.drop(1).headOption.getOrElse("cc")
    val size = args.drop(2).headOption.map(_.toInt)
      .getOrElse(op match {
        case "bpe" => 20000
        case "zip" => 2000000 // narrow rows; big enough that the post-kill jobs are real
        case _     => 120000
      })
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ft-ck").toString

    val spark = graft.Tables.configure(SparkSession.builder())
      // 2 workers x 1 core x 1536m: two single-core executor PROCESSES —
      // small enough to run beside CI, real enough that killing one loses
      // its block store
      .master("local-cluster[2,1,1536]")
      .appName(s"graft-fault-$mode")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // executors are forked JVMs: they need the Java 17 module opens the
      // parent got from jrun.sh / sbt
      .config("spark.executor.extraJavaOptions",
        Seq("java.lang", "java.lang.invoke", "java.nio", "java.util",
          "java.util.concurrent", "sun.nio.ch")
          .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED").mkString(" "))
      // executors are forked JVMs with only the Spark jars: graft's own
      // classes (custom codegen expressions like Tokenize resolve them
      // DURING executor-side janino compilation) must ride along
      .config("spark.executor.extraClassPath",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      // wait for both executors to register (driver counts as none here)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def executors: Seq[String] =
        spark.sparkContext.getExecutorMemoryStatus.keys.toSeq
          .filterNot(_.startsWith("fallback"))
      while (executors.size < 3 && System.nanoTime() < deadline)
        Thread.sleep(200) // 2 executors + driver entry
      println(s"[fault] executors=${executors.size - 1}")

      val appId = spark.sparkContext.applicationId

      def tmp(tag: String): String =
        java.nio.file.Files.createTempDirectory(s"graft-ft-$tag").toString

      /** SIGKILL every executor JVM of THIS app (matched by appId so a
        * concurrent Spark run is never hit) — unannounced process death,
        * the real failure mode a 1000-executor cluster sees. All of them,
        * not one: killing a single executor is survivable whenever the
        * victim happens to hold no live round blocks (observed — task
        * placement on a 2x1-core cluster can put a whole round on one
        * executor). The standalone Workers restart replacements within
        * seconds, so the cluster heals either way; what decides the
        * outcome is solely WHERE the round state lived.
        * Returns the comma-joined pid list for the spec's
        * `killed_executor_pid=` assertion. */
      def killExecutors(): String =
        // [C]oarse…: the bracket keeps pgrep -f from matching THIS bash
        // process (its own cmdline contains the pattern text), which
        // would SIGKILL the pipeline mid-run and lose the pid echo
        try scala.sys.process.Process(Seq("bash", "-c",
          s"pgrep -f '[C]oarseGrainedExecutorBackend.*$appId' " +
            "| xargs -r -I{} sh -c 'kill -9 {}; echo {}' | paste -sd, -")).!!.trim
        catch { case e: Throwable => s"ERROR:${e.getMessage}" }

      /** True once at least one loop round is fully materialized AND a
        * successor round has started — i.e. the first round's lineage has
        * been truncated and its state is being READ. Killing any earlier
        * is survivable even in Local mode (a kill during the FIRST
        * materialization recomputes from the still-intact original
        * lineage — observed, not hypothetical), which would make the spec
        * flaky. Mode-aware because the two modes keep round state in
        * different places: Local = executor blocks, Reliable = files.
        * (The streaming sink ops do NOT use this poll — their kill is
        * synchronous and input-gated, see gatedStream — so the poll only
        * ever watches the loop ops' checkpoint/persist state.)
        */
      def roundStateLive(): Boolean = mode match {
        case "reliable" =>
          // rdd-N checkpoint dirs with data files on disk: the loop ops
          // (cc/bpe) need TWO (first round truncated AND read — see the
          // scaladoc); zip has exactly ONE frozen layout, and in Reliable
          // mode ANY kill time is survivable, so one is the signal
          val need = if (op == "zip") 1 else 2
          val root = java.nio.file.Paths.get(ckDir)
          // walk races with concurrent checkpoint writes (files vanish
          // mid-walk under load) — an exception here must read as "not
          // yet", never kill the poll thread before the kill fires
          try {
            val stream = java.nio.file.Files.walk(root)
            try {
              stream.iterator().asScala
                .filter(p => p.getFileName.toString.startsWith("part-"))
                .map(_.getParent.getFileName.toString).toSet.size >= need
            } finally stream.close()
          } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => false }
        case _ =>
          // fully-cached persisted RDD(s): the loop ops additionally wait
          // for a SECOND rdd (successor round started); zip's single
          // frozen layout is live the moment all its blocks are cached —
          // every later job (counts, indexed read, verification) must
          // re-read those blocks, so a kill here provably lands on state
          val infos = spark.sparkContext.getRDDStorageInfo
          infos.exists(i => i.numCachedPartitions == i.numPartitions &&
            i.numCachedPartitions > 0) &&
            infos.length >= (if (op == "zip") 1 else 2)
      }

      // Poll-based kill for the LOOP ops only (cc/bpe/zip): their kill
      // window is a property of distributed round state the driver can
      // only observe, not gate. The streaming sink ops gate micro-batch
      // 1's INPUT on the kill instead (see gatedStream) — fully
      // deterministic, no poll, no race.
      val killer = new Thread(() => {
        val kd = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!roundStateLive() && System.nanoTime() < kd) Thread.sleep(100)
        println(s"[fault] round_state_live=${roundStateLive()}")
        println(s"[fault] killed_executor_pid=${killExecutors()}")
      })
      killer.setDaemon(true)

      val ckMode = mode match {
        case "reliable" => CheckpointMode.Reliable(ckDir)
        case _          => CheckpointMode.Local
      }

      /** The input-gated kill of the streaming sink ops (stream, embed,
        * linkage): only file 0 of the JSON source exists when the sink
        * starts; once batch 0 commits, every executor is SIGKILLed
        * synchronously from THIS thread, and only then are files 1-5
        * written. Micro-batch 1 cannot exist before the kill has landed —
        * no poll, no race. The later batches must recover on replacement
        * executors (stage retry) or through ONE restart from the same
        * checkpoint; both are legitimate recoveries of the sinks' crash
        * contract (per-batch `batch=<id>` overwrite, state reads excluding
        * >= batchId). An unfaulted reference run on fresh directories
        * follows on the healed cluster.
        *
        * `lines(f)` is file f's JSON lines, `start(source, dir)` starts the
        * sink with every path under `dir`, `read(dir)` reads a run's
        * output. Returns the (faulted, reference) outputs. */
      def gatedStream[T](schema: String, lines: Int => Seq[String])(
          start: (DataFrame, String) => StreamingQuery)(read: String => T): (T, T) = {
        val src = tmp("src")
        def write(f: Int): Unit = {
          java.nio.file.Files.write(java.nio.file.Paths.get(src, f"part$f%02d.json"),
            lines(f).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
          ()
        }
        def run(dir: String): StreamingQuery = start(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src), dir)
        def drain(q: StreamingQuery): Unit = { q.processAllAvailable(); q.stop() }
        val faulted = tmp("faulted")
        write(0)
        val q = run(faulted)
        q.processAllAvailable() // batch 0 commits — nothing can kill it
        println(s"[fault] killed_executor_pid=${killExecutors()}")
        (1 until 6).foreach(write)
        val survived =
          try { drain(q); true }
          catch {
            case e: Throwable =>
              println(s"[fault] stream_query_failed=${e.getClass.getSimpleName}")
              try q.stop() catch { case _: Throwable => () }
              false
          }
        // offsets replay the failed batch over its own batch=<id> dirs
        if (!survived) drain(run(faulted))
        println(s"[fault] stream_survived_kill=$survived")
        val reference = tmp("reference")
        drain(run(reference))
        (read(faulted), read(reference))
      }

      def longs(path: String, c: String): Seq[Long] =
        spark.read.parquet(path).select(c).collect().map(_.getLong(0)).toSeq

      /** "output_ok" when the faulted output is non-empty and equals the
        * unfaulted reference. */
      def sameNonEmpty(what: String, faulted: Iterable[Any], reference: Iterable[Any]): String = {
        println(s"[fault] n_$what=${faulted.size} ref=${reference.size}")
        if (faulted.nonEmpty && faulted == reference) "output_ok" else "output_wrong"
      }

      /** The operator body under fault; returns "output_ok"/"output_wrong". */
      def runOp(): String = op match {
        case "stream" =>
          // dedup-ingest: each of nUnique texts recurs ~4x across the
          // file stream under fresh ids
          import graft.functions.{TextFunctions => T}
          val (perFile, nUnique) = (60, 90)
          def textOf(t: Int): String =
            (0 until 20).map(j => f"w${(t * 31 + j * 7) % 997}%03d").mkString(" ")
          val (admittedF, admittedR) = gatedStream("id LONG, text STRING",
            f => (0 until perFile).map { r =>
              val id = f * perFile + r
              s"""{"id":$id,"text":"${textOf(id % nUnique)}"}"""
            }) { (src, dir) =>
              Streams.dedupIngestSink(
                src.select(col("id"), T.ngrams(T.tokens(col("text")), 3).as("shingles")),
                s"$dir/state", s"$dir/out", k = 16, nBands = 4,
                checkpointLocation = Some(s"$dir/ck"))
            }(dir => longs(s"$dir/out", "id").toSet)
          sameNonEmpty("admitted", admittedF, admittedR)
        case "embed" =>
          // embedding-ingest: each of nUnique deterministic base vectors
          // recurs ~4x across the file stream under fresh vec_ids — exact
          // dups (cosine 1), so the admission decisions are bucket-exact
          // and both runs must agree
          val (perFile, nUnique, dim) = (40, 60, 8)
          // never the zero vector: components are k/97 - 0.5 with k
          // integer, and 97/2 is not an integer
          def vecOf(t: Int): Seq[Double] =
            (0 until dim).map(j => ((t * 31 + j * 7) % 97) / 97.0 - 0.5)
          // (admitted vec_ids, bucket-state vec_ids) of one run
          val ((admittedF, stateF), (admittedR, _)) = gatedStream(
            "vec_id LONG, v ARRAY<DOUBLE>",
            f => (0 until perFile).map { r =>
              val id = f * perFile + r
              s"""{"vec_id":$id,"v":[${vecOf(id % nUnique).mkString(",")}]}"""
            }) { (src, dir) =>
              Streams.embedIngestSink(src, s"$dir/state", s"$dir/out",
                dim = dim, nBits = 8, minCosine = 0.95,
                checkpointLocation = Some(s"$dir/ck"))
            }(dir => (longs(s"$dir/out", "vec_id").toSet, longs(s"$dir/state", "vec_id")))
          // SRP bucket-state consistency: exactly one bucket row per
          // admitted vector (replayed batches overwrite their own dirs,
          // so a recovered run can leave neither orphans nor gaps)
          val stateConsistent =
            stateF.size == stateF.toSet.size && stateF.toSet == admittedF
          println(s"[fault] bucket_state_consistent=$stateConsistent")
          val verdict = sameNonEmpty("admitted", admittedF, admittedR)
          if (stateConsistent) verdict else "output_wrong"
        case "linkage" =>
          // record-linkage ingest: stateless across batches vs the static
          // canonical table, so the crash contract is per-batch overwrite
          // alone; every arrival is a truncated copy of a canonical text
          import graft.operators.Linkage
          val (perFile, nCanon) = (40, 120L)
          def ctextOf(c: Long): String =
            s"blk${c % 40} alpha${c % 7} beta${c % 11} tail$c"
          val canonical = spark.range(nCanon)
            .select(col("id").as("cid"),
              concat(lit("blk"), pmod(col("id"), lit(40))).as("blk"),
              concat_ws(" ",
                concat(lit("blk"), pmod(col("id"), lit(40))),
                concat(lit("alpha"), pmod(col("id"), lit(7))),
                concat(lit("beta"), pmod(col("id"), lit(11))),
                concat(lit("tail"), col("id"))).as("ctext"))
          val (matchedF, matchedR) = gatedStream("d_id LONG, blk STRING, dtext STRING",
            f => (0 until perFile).map { r =>
              val id = f * perFile + r
              val t = ctextOf(id % nCanon)
              s"""{"d_id":$id,"blk":"blk${id % 40}","dtext":"${t.take(t.length - 2)}"}"""
            }) { (src, dir) =>
              Streams.linkageIngestSink(
                src, canonical, canonicalId = "cid", dirtyId = "d_id",
                blockCol = "blk",
                fields = Seq(Linkage.Field("ctext", "dtext", 1000)),
                minScore = 600000L, matchedPath = s"$dir/out",
                checkpointLocation = Some(s"$dir/ck"))
            } { dir =>
              spark.read.parquet(s"$dir/out").select("d_id", "matched_id", "score")
                .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
            }
          sameNonEmpty("matched", matchedF, matchedR)
        case "bpe" =>
          // deterministic Zipf-ish vocabulary (same generator family as
          // Profile's bpe fixture): enough words that learnMerges spans
          // many rounds on the tiny cluster
          def vocab() = spark.range(size.toLong).select(
            array_join(transform(
              sequence(lit(0), pmod(col("id"), lit(8)) + lit(4)),
              i => chr(pmod(xxhash64(col("id"), i), lit(26)) + lit(97))), "")
              .as("word"),
            (lit(size.toLong) / (col("id") + 1) + 1).cast("long").as("n"))
            .groupBy("word").agg(max("n").as("n"))
          val k = 24
          // learnMergesLoop: the fault contract under test is the
          // DISTRIBUTED loop's round state — the driver finish would learn
          // this vocabulary in one collect and dodge the kill
          val faulted = Bpe.learnMergesLoop(vocab(), k, mode = ckMode)
            .orderBy("step").collect().map(_.toSeq).toSeq
          // healed-cluster reference run (no fault): learnMerges is
          // deterministic, so equality proves the fault lost nothing
          val reference = Bpe.learnMergesLoop(vocab(), k, mode = ckMode)
            .orderBy("step").collect().map(_.toSeq).toSeq
          sameNonEmpty("merges", faulted, reference)
        case "zip" =>
          // ZipIndex.withOrderedIndex under executor SIGKILL AFTER its
          // frozen shuffle layout is materialized (the layout freeze at
          // ZipIndex.scala is a determinism requirement — see its
          // scaladoc; this proves the recovery half of the contract).
          // key = size-1-id is a full reversal, so the range exchange
          // genuinely moves every row, and rank(key) == key makes the
          // verdict arithmetic: any misnumbering after recovery shows up
          // as a bad rank, any lost block as a failed job.
          import graft.operators.ZipIndex
          val df = spark.range(size.toLong)
            .select((lit(size.toLong) - 1 - col("id")).as("key"))
          val indexed = ZipIndex.withOrderedIndex(df, "key", "rnk", ckMode)
          val bad = indexed.filter(col("rnk") =!= col("key")).count()
          val n = indexed.count()
          println(s"[fault] n_rows=$n bad_ranks=$bad")
          if (n == size.toLong && bad == 0) "output_ok" else "output_wrong"
        case _ =>
          import spark.implicits._
          // one long chain: diameter `size` forces multiple contraction
          // rounds, so the kill lands MID-loop, not after convergence
          val pairs = spark.range(1, size.toLong)
            .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
          // driverFinishEdges = 0: the fault contract under test is the
          // DISTRIBUTED loop's round state — the driver union-find finish
          // would absorb a 120k-edge chain residual and dodge the kill
          val labels = Dedup.duplicateClusters(pairs, maxIter = 30, mode = ckMode,
            driverFinishEdges = 0L)
          val bad = labels.filter(col("root") =!= lit(1L)).count()
          val n = labels.count()
          println(s"[fault] n_labels=$n bad_roots=$bad")
          if (n == size.toLong && bad == 0) "output_ok" else "output_wrong"
      }

      val pollKill = !Set("stream", "embed", "linkage").contains(op)
      if (pollKill) killer.start() // the others kill synchronously in gatedStream
      val result =
        try runOp()
        catch {
          case e: Throwable =>
            println(s"[fault] job_failed=${e.getClass.getSimpleName}: " +
              s"${String.valueOf(e.getMessage).take(200)}")
            "failed_as_expected"
        }
      if (pollKill) killer.join(15000) // let the kill line flush before the verdict
      println(s"[fault] mode=$mode op=$op verdict=$result")
    } finally spark.stop()
  }
}
