package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per test JVM (suites reuse via getOrCreate). */
trait SparkTest {
  lazy val spark: SparkSession =
    Tables.session(cores = Some(4), conf = Seq("spark.app.name" -> "graft-test"))

  /** Register [[GraftExtensions]]' SQL functions into the shared session
    * (it is built without `spark.sql.extensions`), through the same
    * builders the extension injects. */
  def registerGraftExtensions(): Unit =
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          f._1.funcName, f._3, "built-in")
      }
    })

  /** Scoped session-conf override (restores prior values afterwards) —
    * for plan-shape assertions that must pin e.g. the broadcast threshold. */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> scala.util.Try(conf.get(k)).toOption }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally olds.foreach { case (k, o) => o.fold(conf.unset(k))(v => conf.set(k, v)) }
  }

  /** Run `f` under a job group of its own; return its result, the number
    * of Spark jobs it started and the shuffle bytes those jobs wrote. */
  def jobsOf[T](f: => T): (T, Int, Long) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleW = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId))
          Option(e.taskMetrics).foreach(m => shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = f
      org.apache.spark.BusDrain.await(sc)
      (r, jobs.get, shuffleW.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTest {
  /** Run `body` with the JVM default locale set to the BCP 47 `tag`
    * (e.g. "tr"), then restore the previous default locale and its
    * display and format categories, so no suite leaks it into later ones.
    * Local-mode tasks run in this JVM, so Spark jobs in `body` see it too. */
  def withDefaultLocale[T](tag: String)(body: => T): T = {
    import java.util.Locale
    import java.util.Locale.Category.{DISPLAY, FORMAT}
    val (all, display, format) = (Locale.getDefault, Locale.getDefault(DISPLAY), Locale.getDefault(FORMAT))
    Locale.setDefault(Locale.forLanguageTag(tag))
    try body
    finally {
      Locale.setDefault(all)
      Locale.setDefault(DISPLAY, display)
      Locale.setDefault(FORMAT, format)
    }
  }

  /** A fresh `<prefix>…` temp directory, deleted when the test JVM exits. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Tables.cleanupOnExit(dir)
    dir
  }
}
