package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Smallest driver test-data dir (read-only). */
  val sf = "/root/testdata/sf0.001"

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` with the session conf `pairs` set, then restores each key's
   *  previous value (or unsets it). */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** [[intercept]] for a block that makes a task or a streaming query fail
   *  on purpose, with the loggers Spark reports that failure through turned
   *  off, so the stack traces of an expected failure stay out of the test
   *  log. Before the loggers come back, it waits (up to 10 s) until no
   *  thread is inside a task, since the failed job's other tasks log their
   *  own aborts after the job has already failed. Outside the block, and for
   *  every other logger, errors print as usual. */
  def interceptQuietly[T <: AnyRef](body: => Any)(
      implicit ct: scala.reflect.ClassTag[T], pos: org.scalactic.source.Position): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    import scala.jdk.CollectionConverters._
    val saved = SparkSpec.FailureLoggers.map(n => n -> LogManager.getLogger(n).getLevel)
    saved.foreach { case (n, _) => Configurator.setLevel(n, Level.OFF) }
    try intercept[T](body)
    finally {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      // the status tracker lags behind the tasks (it is fed by the listener
      // bus); a thread's stack does not
      def inTask = Thread.getAllStackTraces.values.asScala.exists(
        _.exists(_.getClassName == "org.apache.spark.executor.Executor$TaskRunner"))
      while (inTask && System.nanoTime() < deadline) Thread.sleep(10)
      saved.foreach { case (n, level) => Configurator.setLevel(n, level) }
    }
  }
}

object SparkSpec {
  /** Where a failed task, write or streaming query logs its ERROR lines. */
  private val FailureLoggers = Seq(
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
    "org.apache.spark.util.Utils", // "Aborting task"
    "org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask",
    "org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2Exec",
    "org.apache.spark.sql.execution.datasources.v2.OverwriteByExpressionExec",
    "org.apache.spark.storage.ShuffleBlockFetcherIterator", // a killed task's fetch
    "org.apache.spark.executor.Executor",
    "org.apache.spark.scheduler.TaskSetManager")
}
