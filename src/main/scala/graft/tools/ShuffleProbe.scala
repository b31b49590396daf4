package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Shuffle-volume probe: executes a registered query and reports what the
  * static plan digest CANNOT see — the shuffle work that actually ran.
  * Under AQE, exchange reuse happens at stage-materialization time (the
  * stage cache keyed on canonicalized subtrees), so the pre-execution plan
  * never contains ReusedExchange nodes; the only honest measurement of
  * "did the corpus array shuffle once or twice" is the executed stages'
  * shuffle-write totals plus the FINAL adaptive plan. This tool prints
  * both. Usage:
  *
  *   runMain graft.tools.ShuffleProbe <sfDir> <queryName> [reps]
  */
object ShuffleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val name = args.drop(1).headOption.getOrElse("q_dedup_jaccard")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    // SPARK_GRAFT_NOREUSE=1 disables AQE stage-cache exchange reuse — the
    // A/B that measures what reuse actually saves on identical code
    val reuse = if (sys.env.get("SPARK_GRAFT_NOREUSE").contains("1")) "false" else "true"
    val spark = graft.Tables.session(conf = Seq("spark.sql.exchange.reuse" -> reuse))
    spark.range(100000).selectExpr("sum(id)").collect()

    val writeBytes = new AtomicLong(0)
    val writeRecords = new AtomicLong(0)
    val shuffleStages = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && m.shuffleWriteMetrics.bytesWritten > 0) {
          shuffleStages.incrementAndGet()
          writeBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          writeRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    (1 to reps).foreach { r =>
      writeBytes.set(0); writeRecords.set(0); shuffleStages.set(0)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val t0 = System.nanoTime()
      // collect() executes df's OWN QueryExecution (count() would build a
      // separate one whose final adaptive plan we could not inspect)
      val n = df.collect().length
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are posted asynchronously; give the bus a moment
      // to drain (listenerBus.waitUntilEmpty is private[spark])
      Thread.sleep(2000)
      val fin = df.queryExecution.executedPlan.toString
      def c(tok: String) = tok.r.findAllIn(fin).size
      println(f"[shuffle-probe] $name rep$r: rows=$n wall=$sec%.2f s " +
        s"shuffleWriteMB=${writeBytes.get / 1024 / 1024} " +
        s"shuffleWriteRecords=${writeRecords.get} " +
        s"stagesWithShuffleWrite=${shuffleStages.get} " +
        s"finalPlan[exch=${c("(?<![A-Za-z])Exchange(?![A-Za-z])")} " +
        s"reuse=${c("ReusedExchange")} " +
        s"stageReuse=${c("ShuffleQueryStage [0-9]+, Statistics")}]")
    }
    spark.stop()
  }
}
