package perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Spark work attributed to one phase of one span. Written only by the
  * listener thread; read after the listener bus has drained. */
final class Counters {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleW = 0L
  var shuffleR = 0L
  var spill = 0L
  var retries = 0
  var schedWaitMs = 0L
  var gcMs = 0L
  val durations = mutable.ArrayBuffer.empty[Long]

  def toJson: scala.collection.Map[String, Any] = Json.obj(
    "jobs" -> jobs, "tasks" -> tasks, "task_s" -> taskMs / 1e3,
    "shuffle_w_mb" -> shuffleW / 1048576.0, "shuffle_r_mb" -> shuffleR / 1048576.0,
    "spill_mb" -> spill / 1048576.0, "task_retries" -> retries,
    "sched_wait_s" -> schedWaitMs / 1e3, "gc_s" -> gcMs / 1e3,
    "task_ms" -> durations)
}

/** One timed call. `build`, `plan` and `exec` are the three phases of a
  * layer call; a grouping span has only `exec`. Times are seconds from
  * the tracer's start. */
final class Span(val id: Int, val name: String, val parent: Int, val start: Double) {
  var end = 0.0
  val phaseS = Array(0.0, 0.0, 0.0)
  var rowsOut = 0L
  val counters = Array.fill(3)(new Counters)

  def toJson: scala.collection.Map[String, Any] = Json.obj(
    "id" -> id, "name" -> name, "parent" -> (if (parent < 0) None else Some(parent)),
    "start" -> start, "end" -> end,
    "build_s" -> phaseS(0), "plan_s" -> phaseS(1), "exec_s" -> phaseS(2),
    "rows_out" -> rowsOut,
    "phases" -> Json.obj(Tracer.Phases.zip(counters.map(_.toJson)): _*))
}

/** Times layer calls from outside the library and, when enabled, records
  * them as spans with the Spark jobs, stages and tasks each one caused.
  *
  * Attribution uses job groups: every phase of an open span sets the
  * calling thread's job group to `pb:<span>:<phase>`, so the jobs it
  * submits — including eager jobs fired while a DataFrame is being built —
  * are charged to it. Jobs submitted outside any span land in
  * [[unattributed]]. The harness drives Spark from one thread, so the
  * open-span stack is plain state. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  val spans = mutable.ArrayBuffer.empty[Span]
  val unattributed = new Counters
  private var stack: List[(Span, Int)] = Nil
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private val listener = new SparkListener {
    private val stageTarget = mutable.HashMap.empty[Int, Counters]
    private val stageSubmit = mutable.HashMap.empty[Int, Long]
    private val stageFirstLaunch = mutable.HashMap.empty[Int, Long]

    private def target(group: String): Counters = group match {
      case GroupId(id, phase) =>
        Option(byId.get(id.toInt)).map(_.counters(phase.toInt)).getOrElse(unattributed)
      case _ => unattributed
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val c = target(group)
      c.jobs += 1
      e.stageInfos.foreach(si => stageTarget.getOrElseUpdate(si.stageId, c))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = stageTarget.getOrElse(e.stageId, unattributed)
      val info = e.taskInfo
      c.tasks += 1
      c.taskMs += info.duration
      c.durations += info.duration
      if (info.attemptNumber > 0 || e.reason != Success) c.retries += 1
      val first = stageFirstLaunch.getOrElse(e.stageId, Long.MaxValue)
      stageFirstLaunch(e.stageId) = math.min(first, info.launchTime)
      Option(e.taskMetrics).foreach { m =>
        c.shuffleW += m.shuffleWriteMetrics.bytesWritten
        c.shuffleR += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      for (sub <- stageSubmit.remove(id); first <- stageFirstLaunch.remove(id))
        stageTarget.getOrElse(id, unattributed).schedWaitMs += math.max(0L, first - sub)
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def open(name: String): Span = {
    val s = new Span(spans.size, name, stack.headOption.map(_._1.id).getOrElse(-1), now)
    spans += s
    byId.put(s.id, s)
    s
  }

  private def inPhase[A](s: Span, phase: Int)(body: => A): A = {
    stack = (s, phase) :: stack
    sc.setJobGroup(s"pb:${s.id}:$phase", s.name)
    val p0 = now
    try body
    finally {
      s.phaseS(phase) += now - p0
      stack = stack.tail
      stack.headOption match {
        case Some((outer, p)) => sc.setJobGroup(s"pb:${outer.id}:$p", outer.name)
        case None             => sc.clearJobGroup()
      }
    }
  }

  private def traced[A](name: String)(body: Span => A): A =
    if (!enabled) body(null)
    else {
      val s = open(name)
      try body(s) finally s.end = now
    }

  /** A layer call that returns a DataFrame (build), its physical planning
    * (plan), and the action that consumes it (exec). */
  def frame[A](name: String)(build: => DataFrame)(exec: DataFrame => A): A =
    traced(name) { s =>
      if (s == null) {
        val df = build
        df.queryExecution.executedPlan
        exec(df)
      } else {
        val df = inPhase(s, 0)(build)
        inPhase(s, 1)(df.queryExecution.executedPlan)
        inPhase(s, 2)(exec(df))
      }
    }

  /** A layer call that runs its own jobs to completion (a write, a
    * collect): all of its time is exec. Also used for the harness's own
    * grouping spans. */
  def action[A](name: String)(body: => A): A =
    traced(name)(s => if (s == null) body else inPhase(s, 2)(body))

  /** Record the output row count of the innermost open span. */
  def rows(n: Long): Unit = stack.headOption.foreach(_._1.rowsOut += n)

  /** Wait for the listener to see every event, detach it, and return the
    * trace document. */
  def finish(): scala.collection.Map[String, Any] = {
    if (enabled) {
      org.apache.spark.BusDrain.await(sc)
      sc.removeSparkListener(listener)
    }
    Json.obj(
      "spans" -> spans.map(_.toJson),
      "unattributed" -> unattributed.toJson)
  }
}

object Tracer {
  val Phases: Seq[String] = Seq("build", "plan", "exec")
  private val GroupId = """pb:(\d+):(\d)""".r
}
