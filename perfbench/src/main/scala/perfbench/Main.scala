package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One timed operation as the client saw it. */
final case class Op(kind: String, name: String, round: Int, ms: Double,
    ok: Boolean, traced: Boolean)

/** One timed round: a pass over the dashboard roster, or one collector
  * batch with its probes. */
final case class Round(ms: Double, traced: Boolean)

/** What a workload hands back to Main: every timed op, the wall time
  * of each round, the warm-up curve, and workload-specific figures. */
final class Outcome {
  val ops = ArrayBuffer.empty[Op]
  val rounds = ArrayBuffer.empty[Round]
  val warmupMs = ArrayBuffer.empty[Double]
  val figures = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
  val errors = ArrayBuffer.empty[String]
  /** Per-layer samples of the traced rounds that are not span times. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  var firstOpEpochMs = 0L
}

/** Context shared by the workloads. */
final class Env(val spark: SparkSession, val trace: Trace, val traced: Boolean,
    val rounds: Int, val seed: Long, val root: String) {
  val data: String = s"$root/data"
  val cores: Int = spark.sparkContext.defaultParallelism

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A traced run traces rounds 0 and 3 of every four and leaves 1 and
    * 2 untraced, so that a drift over the run weighs on both sides of
    * the tracing overhead alike. */
  def traceRound(round: Int): Boolean = {
    trace.on = traced && (round % 4 == 0 || round % 4 == 3)
    trace.on
  }
}

/** Runs one workload in this JVM and writes its raw measurements as
  * JSON for run.py, which checks them and derives the metrics.
  *
  *   Main <workload> <root> <rounds> <seed> <trace 0|1> <cpus>
  *
  * `<root>` holds the generated inputs (`data/`, `collector/`); results
  * to check go to `<root>/dump`, the measurements to
  * `<root>/result.json` and, when traced, the spans to
  * `<root>/spans.json`.  `<rounds>` is the number of timed rounds
  * (dashboard) or timed batches (collector). */
object Main {
  private implicit val formats: Formats = DefaultFormats

  def writeJson(path: String, value: AnyRef): Unit =
    Files.writeString(Paths.get(path), Serialization.write(value))

  /** Spans with times in µs from the first span.  `self_us` is the
    * span's duration minus that of its children. */
  private def spanRecords(spans: Seq[Span]): Seq[Map[String, Any]] = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val children = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.sortBy(_.startNs).map { s =>
      val start = (s.startNs - t0) / 1000
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_us" -> start, "end_us" -> (start + s.durNs / 1000),
        "dur_us" -> s.durNs / 1000,
        "self_us" -> (s.durNs - children.getOrElse(s.id, 0L)) / 1000,
        "gc_ms" -> s.gcMs) ++ Counters.Names.zip(s.counters)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, root, rounds, seed, traceFlag, cpus) = args
    val spark = graft.GraftSession.builder(cpus)
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val traced = traceFlag == "1"
    val env = new Env(spark, new Trace(spark.sparkContext), traced, rounds.toInt,
      seed.toLong, root)
    val out = workload match {
      case "dashboard" => QueryWorkload.run(env)
      case "collector" => Collector.run(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    env.trace.on = false
    val layers = if (traced) Layers.summarize(env, out) else Seq.empty
    if (traced) writeJson(s"$root/spans.json", spanRecords(env.trace.spans.toSeq))
    writeJson(s"$root/result.json", Map(
      "cores" -> env.cores,
      "first_op_epoch_ms" -> out.firstOpEpochMs,
      "warmup_ms" -> out.warmupMs,
      "rounds" -> out.rounds,
      "ops" -> out.ops,
      "figures" -> out.figures,
      "checks" -> out.checks,
      "errors" -> out.errors,
      "layers" -> ListMap(layers.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }: _*)))
    spark.stop()
  }
}
