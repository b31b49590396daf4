package graft
/** Registry benchmark main: times every registered query (or the queries
  * named in `args`) once, cold, in name order, in one fresh session, and
  * prints the per-query wall times as JSON. Repeats are separate JVMs
  * (tools/local_bench.py, tools/scale_bench.py), so every row measures a
  * first run.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1), plus
  * [[Tables.session]]'s `SPARK_GRAFT_CPUS`/`SPARK_GRAFT_SHUFFLE` and
  * `SPARK_GRAFT_BENCH_OUT` (file that receives the full JSON line). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session()
    val cpus = spark.sparkContext.defaultParallelism
    // absorb JVM/codegen/session warmup outside any query's timing
    spark.range(100000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    // Host-noise calibration, three fixed data-independent probes timed
    // as min-of-N and emitted into the artifact, so a loud window is
    // machine-detectable (README gives the quiet references):
    //  - calibration_s: CPU-bound, shuffle-free;
    //  - calibration_shuffle_s: a hash exchange + agg over 16M rows, with
    //    its partition count pinned at 64 so the reading does not depend
    //    on spark.sql.shuffle.partitions — exchange slowdowns do not show
    //    on an ALU-bound probe;
    //  - calibration_launch_s: an empty 32-task job, the per-job fixed cost
    //    (submit, task launch/collect) that dominates sub-second queries
    //    (tools/xround_norm.py normalizes sub-second rows by it).
    val calibration = (1 to 3).map { _ =>
      val c0 = System.nanoTime()
      spark.range(0L, 512000000L, 1L, cpus)
        .selectExpr("sum(id % 1000003)").collect()
      (System.nanoTime() - c0) / 1e9
    }.min
    val calibrationShuffle = (1 to 3).map { _ =>
      val c0 = System.nanoTime()
      spark.range(0L, 16000000L, 1L, cpus)
        .selectExpr("xxhash64(id) % 100000 AS k")
        .repartition(64, org.apache.spark.sql.functions.col("k"))
        .groupBy("k").count()
        .selectExpr("sum(count)").collect()
      (System.nanoTime() - c0) / 1e9
    }.min
    val calibrationLaunch = (1 to 5).map { _ =>
      val c0 = System.nanoTime()
      spark.range(0L, 32L, 1L, 32).selectExpr("count(*)").collect()
      (System.nanoTime() - c0) / 1e9
    }.min
    // one-time warehouse prep (bucketed join tables): paid here, not in the
    // q_join_colocated row — at scale the bucketed write is amortized over
    // every recurring join, so timing it per-query misstates the operator
    if (args.isEmpty || args.contains("q_join_colocated"))
      Tables.bucketedOrdersCustomer(spark, sfDir)
    // the incremental-dedup PERSISTED STATE (bucketed band / SRP tables)
    // is the same category: written once, probed by every arrival batch
    if (args.isEmpty || args.contains("q_dedup_incremental"))
      Tables.bucketedBandTable(spark, sfDir)
    if (args.isEmpty || args.contains("q_dedup_embed_incremental"))
      Tables.bucketedEmbedTables(spark, sfDir)
    // same policy for the partitioned-layout tables backing q_part_prune /
    // q_part_overwrite: the layout build is one-time table prep
    if (args.isEmpty || args.contains("q_part_prune"))
      Tables.partitionedEvents(spark, sfDir)
    if (args.isEmpty || args.contains("q_part_overwrite"))
      Tables.partitionedEventsByDay(spark, sfDir)
    // the compaction executor's FRAGMENTED source layout is table prep
    // too — the timed body should measure the rewrite, not the fixture
    if (args.isEmpty || args.contains("q_layout_compact_exec"))
      Tables.compactableEventsByDay(spark, sfDir)
    // name-sorted so per-query timings line up across runs; args narrow
    // the run to named queries (no args = full registry)
    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.filter(kv => args.contains(kv._1)).toSeq
    val runs = selected.sortBy(_._1)
    // Failure policy: a failed query is named in BOTH output lines and
    // fails the process (exit 1); its partial elapsed time measures
    // nothing, so it is left out of the per-query map and the total.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = runs.flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // Each query starts from a released session: blocks a predecessor
      // pinned would otherwise add memory pressure to every later query
      // (measured 2-5x on the heavy dedup queries). Broadcast blocks are
      // destroyed only once ContextCleaner sees their weak refs collected,
      // so one explicit GC here keeps that cleanup, and a predecessor's
      // old-gen garbage, out of the next query's timing (measured 2-5x
      // tail inflation after global sorts and large broadcasts).
      Tables.release(spark)
      System.gc()
      if (ok) Some(name -> dt) else None
    }
    def obj(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // the parallelism the session actually ran with
    val parallelism = s""""master":"${spark.sparkContext.master}","default_parallelism":${spark.sparkContext.defaultParallelism},"shuffle_partitions":${spark.sessionState.conf.numShufflePartitions}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$parallelism,"calibration_s":$calibration,"calibration_shuffle_s":$calibrationShuffle,"calibration_launch_s":$calibrationLaunch,"queries":${obj(results)},"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n")
    }
    // Compact summary LAST: a tail capture of stdout truncates from the
    // front, so the final line must parse on its own. Same keys, with the
    // 10 slowest queries standing in for the full map.
    val top10 = results.sortBy(-_._2).take(10)
    println(s"""{"metric":"total","value":$total,"unit":"sec",$parallelism,"calibration_s":$calibration,"calibration_shuffle_s":$calibrationShuffle,"calibration_launch_s":$calibrationLaunch,"queries":${obj(top10)},"failed":$failedJson,"sf":"$sfDir","note":"compact summary: queries = 10 slowest of ${results.size}; full map in the preceding line"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
