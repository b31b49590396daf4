package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per test JVM (suites reuse via getOrCreate). */
trait SparkTest {
  lazy val spark: SparkSession = Tables.configure(SparkSession.builder())
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Scoped session-conf override (restores prior values afterwards) —
    * for plan-shape assertions that must pin e.g. the broadcast threshold. */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> scala.util.Try(conf.get(k)).toOption }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally olds.foreach { case (k, o) => o.fold(conf.unset(k))(v => conf.set(k, v)) }
  }
}

object SparkTest {
  /** A fresh `<prefix>…` temp directory, deleted when the test JVM exits. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Tables.cleanupOnExit(dir)
    dir
  }
}
