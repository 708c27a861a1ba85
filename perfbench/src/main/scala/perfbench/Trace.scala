package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One recorded span.  `op` is the id of the root span of the operation
  * it belongs to; `parent` is 0 for a root.  `durNs` excludes the time
  * spent waiting for Spark's listener bus, which is tracing cost.
  * `counters` holds the Counters.Names deltas and `gcMs` the JVM's GC
  * time over the span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, durNs: Long, counters: Array[Long], gcMs: Long)

/** In-memory spans around the calls into each layer.  While `on` is
  * false `span` only runs its body and the counters' listener is not
  * registered, so untraced rounds pay nothing. */
final class Trace(sc: SparkContext) {
  private val counters = new Counters
  private var traced = false
  val spans = ArrayBuffer.empty[Span]

  def on: Boolean = traced
  def on_=(v: Boolean): Unit = if (v != traced) {
    if (v) sc.addSparkListener(counters) else sc.removeSparkListener(counters)
    traced = v
  }
  private var nextId = 1L
  private var op = 0L
  // open spans, innermost first: (id, time its descendants spent draining)
  private var stack: List[(Long, Array[Long])] = Nil

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    if (stack.isEmpty) counters.drain()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    if (stack.isEmpty) op = id
    val drained = Array(0L)
    stack = (id, drained) :: stack
    val c0 = counters.snapshot()
    val g0 = gcMs()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      counters.drain()
      val t2 = System.nanoTime()
      val c1 = counters.snapshot()
      stack = stack.tail
      stack.headOption.foreach(_._2(0) += drained(0) + (t2 - t1))
      spans += Span(id, parent, op, name, t0, t1 - t0 - drained(0),
        c1.zip(c0).map { case (a, b) => a - b }, gcMs() - g0)
    }
  }
}
