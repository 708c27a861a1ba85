package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session fixture for all specs (sf0.001 inputs). */
trait GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  val Dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  /** Run `body`, which expects a failure, with the Spark loggers that
    * print that failure's stack traces turned off: the task-failure
    * loggers (`TaskSetManager`, `Executor`) and, for a read of a
    * missing path, the analysis-failure ones (`ExecutionListenerBus`,
    * `FileStreamSink`).  The test asserts the failure itself, so the
    * traces would only bury the log.  Their levels are restored
    * afterwards. */
  def quietExpectedFailures[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val loggers = Seq("org.apache.spark.scheduler.TaskSetManager",
      "org.apache.spark.executor.Executor",
      "org.apache.spark.sql.util.ExecutionListenerBus",
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
    val levels = loggers.map(n => n -> LogManager.getLogger(n).getLevel)
    loggers.foreach(Configurator.setLevel(_, Level.OFF))
    try body
    finally levels.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  override def afterAll(): Unit = {
    // keep the session for other suites (same JVM) — do not stop
    super.afterAll()
  }
}
