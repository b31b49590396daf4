package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One unit of work: a dataset ingest or a pipeline stage. */
final case class Op(name: String, kind: String, seconds: Double, ok: Boolean,
    error: String = "")

/** Runs a pipeline's stages in order, each as one op; the first stage that
  * throws ends the pipeline, and later stages are not attempted. */
final class Stages {
  private val done = mutable.ArrayBuffer.empty[Op]

  def apply[A](name: String)(body: => A): A = {
    var r: Option[A] = None
    done += Main.op(name, "stage") { r = Some(body) }
    r.getOrElse(throw Stages.Stop)
  }

  def run(pipeline: => Unit): Seq[Op] = {
    try pipeline catch { case Stages.Stop => () }
    done.toSeq
  }
}

object Stages {
  private case object Stop extends RuntimeException
}

/** What one timed pass did: input items it consumed and its ops. */
final case class Pass(items: Long, ops: Seq[Op])

/** A benchmark workload. `prepare` is one-time table prep and counts as
  * set-up; `pass` is the timed body; `check` runs after timing and returns
  * the outputs the correctness checks compare. */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Tracer): Pass
  def check(spark: SparkSession): scala.collection.Map[String, Any]
  /** Trace-only projection passes over single functions. */
  def probes(spark: SparkSession, tr: Tracer): Unit = ()
}

/** Workloads run back to back as one: the first's input items count, the
  * ops, checks and probes of all of them do. */
final class Sequenced(first: Workload, rest: Workload*) extends Workload {
  private val parts = first +: rest

  def prepare(spark: SparkSession): Unit = parts.foreach(_.prepare(spark))

  def pass(spark: SparkSession, tr: Tracer): Pass = {
    val ps = parts.map(_.pass(spark, tr))
    Pass(ps.head.items, ps.flatMap(_.ops))
  }

  def check(spark: SparkSession): scala.collection.Map[String, Any] =
    Json.obj(parts.flatMap(_.check(spark)): _*)

  override def probes(spark: SparkSession, tr: Tracer): Unit = parts.foreach(_.probes(spark, tr))
}

/** Harness entry point, launched by perfbench/run.py in its own JVM:
  *
  *   perfbench.Main <workload> <seconds> <trace 0|1> <inputDir> <workDir> <resultFile>
  *
  * Runs the workload's set-up three times (median reported), then timed
  * passes in a closed loop with one client until `seconds` of pass time
  * have elapsed. A traced run instead times one traced pass (as cold as
  * the first untraced one, so their difference is the tracing overhead),
  * then the workload's probes and the calibration probes. It writes one
  * JSON result file. */
object Main {
  val SetupCycles = 3

  def main(args: Array[String]): Unit = {
    val Array(name, secondsArg, traceArg, inputDir, workDir, resultFile) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    LiveHeap.watch()
    val jvmBootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    def session(): SparkSession = graft.Tables.configure(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()

    val workload: Workload = name match {
      case "seoul_ingest"   => new SeoulIngest(s"$inputDir/seoul", s"$workDir/out")
      case "corpus_dedup"   => new Sequenced(
        new CorpusDedup(s"$inputDir/corpus", s"$workDir/out/corpus"),
        new EmbedDedup(s"$inputDir/embed", s"$workDir/out/embed"))
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: session, warm-up and one-time table prep, repeated so its
    // median is steady; every cycle but the last stops its session.
    val cycles = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to SetupCycles) {
      val t0 = System.nanoTime()
      spark = session()
      spark.sparkContext.setLogLevel("WARN")
      spark.range(100000).selectExpr("sum(id)").collect()
      workload.prepare(spark)
      cycles += (System.nanoTime() - t0) / 1e9
      if (i < SetupCycles) spark.stop()
    }
    val sc = spark.sparkContext
    val tPasses = System.nanoTime()

    val off = new Tracer(sc, enabled = false)
    val passes = mutable.ArrayBuffer.empty[(Double, Pass)]
    while (!trace && (passes.isEmpty || passes.map(_._1).sum < seconds)) {
      val t0 = System.nanoTime()
      val p = workload.pass(spark, off)
      passes += (((System.nanoTime() - t0) / 1e9, p))
      releaseBlocks(spark)
    }

    val traced = if (!trace) None else Some {
      val gc0 = gcMs()
      val tr = new Tracer(sc, enabled = true)
      val t0 = System.nanoTime()
      val p = tr.action("bench.pass")(workload.pass(spark, tr))
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcMs() - gc0) / 1e3
      releaseBlocks(spark)
      tr.action("bench.probes")(workload.probes(spark, tr))
      val doc = tr.finish()
      releaseBlocks(spark)
      Json.obj("wall_s" -> wall, "gc_s" -> gc, "ops" -> p.ops.map(opJson), "trace" -> doc)
    }

    val tChecks = System.nanoTime()
    val checks = workload.check(spark)
    val tCalibration = System.nanoTime()
    val calibration = if (trace) Some(Calibration.run(spark, cores)) else None
    val tEnd = System.nanoTime()
    val result = Json.obj(
      "workload" -> name,
      "stamp" -> Json.obj(
        "master" -> sc.master,
        "cores" -> cores,
        "shuffle_partitions" -> spark.sessionState.conf.numShufflePartitions,
        "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")),
      "setup" -> Json.obj("jvm_boot_s" -> jvmBootS, "cycles_s" -> cycles),
      "phase_s" -> Json.obj("passes" -> (tChecks - tPasses) / 1e9,
        "checks" -> (tCalibration - tChecks) / 1e9, "calibration" -> (tEnd - tCalibration) / 1e9),
      "passes" -> passes.map { case (wall, p) =>
        Json.obj("wall_s" -> wall, "items" -> p.items, "ops" -> p.ops.map(opJson))
      },
      "traced" -> traced,
      "checks" -> checks,
      "calibration" -> calibration,
      "peak_rss_mb" -> peakRssMb(),
      "peak_live_heap_mb" -> LiveHeap.peakMb)
    Files.writeString(Paths.get(resultFile), Json.render(result))
    spark.stop()
  }

  private def opJson(o: Op) =
    Json.obj("name" -> o.name, "kind" -> o.kind, "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error)

  /** Time `body` as one op; a throw is recorded as a failed op. */
  def op(name: String, kind: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try { body; Op(name, kind, (System.nanoTime() - t0) / 1e9, ok = true) }
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $name failed: $e")
        Op(name, kind, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  /** Drop blocks pinned by the pass (persisted frames and the
    * localCheckpoints inside the library), as a process per batch would. */
  def releaseBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }
}

/** The largest heap occupancy seen right after a garbage collection: the
  * memory the run needed live, independent of when the collector ran. */
object LiveHeap {
  @volatile private var peak = 0L

  def peakMb: Double = peak / 1048576.0

  def watch(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          if (used > peak) peak = used
        }, null, null)
      case _ => ()
    }
  }
}

/** The three host-noise probes of graft.Bench (CPU, shuffle, job launch),
  * the same operations, so a reading is comparable with the references in
  * perfbench/README.md. Run once each in traced runs, after timing
  * (launch: min of five), outside every metric. */
object Calibration {
  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def cpuProbe(spark: SparkSession, cores: Int): Double =
    time(spark.range(0L, 512000000L, 1L, cores).selectExpr("sum(id % 1000003)").collect())

  private def launchProbe(spark: SparkSession): Double = (1 to 5).map(_ =>
    time(spark.range(0L, 32L, 1L, 32).selectExpr("count(*)").collect())).min

  def run(spark: SparkSession, cores: Int): scala.collection.Map[String, Any] = {
    val cpu = cpuProbe(spark, cores)
    val shuffle = time(spark.range(0L, 16000000L, 1L, cores)
      .selectExpr("xxhash64(id) % 100000 AS k")
      .repartition(64, org.apache.spark.sql.functions.col("k"))
      .groupBy("k").count()
      .selectExpr("sum(count)").collect())
    Json.obj("cpu_s" -> cpu, "shuffle_s" -> shuffle, "launch_s" -> launchProbe(spark))
  }
}
