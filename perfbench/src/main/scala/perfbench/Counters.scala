package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** Spark's own counters, read through a listener the benchmark
  * registers.  Events arrive asynchronously, so a reader first calls
  * `drain`, which waits until every job that started has ended and the
  * bus has gone quiet. */
final class Counters extends SparkListener {
  private val jobs = new AtomicLong
  // jobs whose start was seen and whose end was not yet; a job that
  // started before the listener was registered only ever ends
  private val open = ConcurrentHashMap.newKeySet[Int]()
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val inputBytes = new AtomicLong
  @volatile private var lastEventNs = System.nanoTime()

  private def seen(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); open.add(e.jobId); seen()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    open.remove(e.jobId); seen()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); seen()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    seen()
  }

  /** Waits for the job-end event of every job that started, then for
    * 2 ms without events, so that trailing task and stage events of
    * the last job are counted too. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
        (!open.isEmpty ||
          System.nanoTime() - lastEventNs < 2000000L))
      Thread.sleep(0, 200000)
  }

  /** (jobs, stages, tasks, executor run ms, shuffle read bytes, spilled
    * bytes, input bytes) so far. */
  def snapshot(): Array[Long] = Array(jobs.get, stages.get, tasks.get,
    runMs.get, shuffleBytes.get, spillBytes.get, inputBytes.get)
}

object Counters {
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "run_ms",
    "shuffle_bytes", "spill_bytes", "input_bytes")
}
