package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode}

import graft.dedup.MinHashWarehouse
import graft.functions.TextFunctions.words
import graft.operators.{HllWarehouse, TsWarehouse}
import graft.similarity.Bm25Warehouse
import graft.sources.{CommitLog, Tables}

/** The fcd collector write side: seeded batches of `events` and
  * `documents` are folded into four at-rest warehouses, and each member
  * is probed right after the batch commits.  In a traced run, a
  * maintenance pass after the last batch retracts a slice of batch 1
  * from the members that have the verb and compacts every member; it
  * costs about as much as a batch, so untraced runs leave it out. */
object Collector {
  private def batchCount(split: String): Int =
    Iterator.from(0).takeWhile(i => new File(s"$split/b$i").isDirectory).size

  /** One warehouse member and its verbs.  `events` says which input
    * table feeds it; HllWarehouse has no retract. */
  final case class Member(name: String, events: Boolean,
      build: (DataFrame, String) => Unit,
      refresh: (DataFrame, String) => Unit,
      retract: Option[(DataFrame, String) => Unit],
      compact: String => Unit,
      probe: String => DataFrame)

  private def members(spark: SparkSession, probeDocs: DataFrame): Seq[Member] = {
    val terms = probeDocs.select(col("doc_id").as("query_id"),
      explode(words(col("text"))).as("term")).distinct()
    Seq(
      Member("TsWarehouse", events = true,
        (e, p) => TsWarehouse.materializeFrom(e, p),
        (e, p) => TsWarehouse.refresh(spark, e, p),
        Some((e, p) => TsWarehouse.retract(spark, e, p)),
        p => TsWarehouse.compact(spark, p),
        p => TsWarehouse.anomalyProbe(spark, p)),
      Member("HllWarehouse", events = true,
        (e, p) => HllWarehouse.materializeFrom(e, p),
        (e, p) => HllWarehouse.refresh(spark, e, p),
        None,
        p => HllWarehouse.compact(spark, p),
        p => HllWarehouse.probe(spark, p)),
      Member("Bm25Warehouse", events = false,
        (d, p) => Bm25Warehouse.materializeFrom(spark, d, p),
        (d, p) => Bm25Warehouse.refresh(spark, d, p),
        Some((d, p) => Bm25Warehouse.retract(spark, d, p)),
        p => Bm25Warehouse.compact(spark, p),
        p => Bm25Warehouse.probe(spark, p, terms)),
      Member("MinHashWarehouse", events = false,
        (d, p) => MinHashWarehouse.materializeFrom(d, p),
        (d, p) => MinHashWarehouse.refresh(d, p),
        Some((d, p) => MinHashWarehouse.retract(d, p)),
        p => MinHashWarehouse.compact(spark, p),
        p => MinHashWarehouse.incrementalDedupFrom(spark, probeDocs, p)))
  }

  /** Size in bytes of every file under `dir`, by path. */
  private def files(dir: String): Map[String, Long] = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
      else Iterator(f)
    walk(new File(dir)).map(f => f.getPath -> f.length).toMap
  }

  private def rowsOf(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toString).sorted.toSeq

  def run(env: Env): Outcome = {
    val spark = env.spark
    val out = new Outcome
    val split = s"${env.root}/collector"
    def batch(name: String) = Tables(spark, s"$split/$name")
    def input(m: Member, t: Tables) = if (m.events) t.events else t.documents
    val probeDocs = batch("probe").documents
    val ms = members(spark, probeDocs)
    def path(m: Member) = s"${env.root}/wh/${m.name}/data"
    val t = env.trace

    /** One member verb: a span, and in traced rounds the files it added
      * and their bytes. */
    def verb(m: Member, name: String)(body: => Unit): Unit = {
      val dir = s"${env.root}/wh/${m.name}"
      val before = if (t.on) files(dir) else Map.empty[String, Long]
      t.span(s"${m.name}.$name")(body)
      if (t.on) {
        val added = files(dir) -- before.keySet
        out.sample(s"$name.files", added.size)
        out.sample(s"$name.bytes", added.values.sum)
        out.sample(s"${m.name}.$name.files", added.size)
      }
    }

    // each member's latest probe result, as the client received it
    val latest = scala.collection.mutable.Map.empty[String, Seq[String]]

    /** One probe: the rows come back to the client, which is what a
      * dashboard read of the warehouse does. */
    def probe(m: Member, kind: String, round: Int): Unit = {
      if (t.on) {
        val snap = t.span("sources.snapshot")(CommitLog.snapshot(spark, path(m)))
        val gens = snap.readOpt(path(m)).toSeq.flatMap(_.inputFiles)
          .flatMap(_.split('/').find(_.startsWith("gen-"))).distinct.size
        out.sample("generations", gens)
      }
      val t0 = System.nanoTime()
      val ok =
        try {
          val rows = t.span(s"${m.name}.$kind") {
            val df = m.probe(path(m))
            t.span("GraftSession.plan")(df.queryExecution.executedPlan)
            t.span("GraftSession.exec")(df.collect())
          }
          latest(m.name) = rowsOf(rows)
          true
        } catch { case e: Throwable => out.errors += s"${m.name} probe: ${e.getMessage}"; false }
      out.ops += Op(kind, m.name, round, (System.nanoTime() - t0) / 1e6, ok, t.on)
    }

    /** Runs `body` as one timed op of `kind`; returns its wall ms. */
    def timed(kind: String, name: String, round: Int)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { t.span(kind)(body); true }
        catch { case e: Throwable => out.errors += s"$kind $name: ${e.getMessage}"; false }
      val ms = (System.nanoTime() - t0) / 1e6
      out.ops += Op(kind, name, round, ms, ok, t.on)
      ms
    }

    // set-up: batch 0 is the initial one-shot build; batch 1 is folded
    // in untimed, which warms the write path
    val b0 = batch("b0")
    ms.foreach(m => m.build(input(m, b0), path(m)))
    val w0 = System.nanoTime()
    ms.foreach(m => m.refresh(input(m, batch("b1")), path(m)))
    out.warmupMs += (System.nanoTime() - w0) / 1e6

    out.firstOpEpochMs = System.currentTimeMillis()
    val n = batchCount(split)
    for (b <- 2 until n) {
      val traced = env.traceRound(b - 2)
      val in = batch(s"b$b")
      val r0 = System.nanoTime()
      timed("commit", s"b$b", b)(ms.foreach(m => verb(m, "refresh")(m.refresh(input(m, in), path(m)))))
      ms.foreach(m => probe(m, "probe", b))
      out.rounds += Round((System.nanoTime() - r0) / 1e6, traced)
    }

    // maintenance: retract, compact, and the probes that read the
    // compacted state
    val removed = batch("retract")
    def retracted(m: Member) = env.traced && m.retract.nonEmpty
    if (env.traced) {
      t.on = true
      timed("maintain", "retract+compact", n) {
        ms.foreach(m => m.retract.foreach(r => verb(m, "retract")(r(input(m, removed), path(m)))))
        ms.foreach(m => verb(m, "compact")(m.compact(path(m))))
      }
      ms.foreach(m => probe(m, "settled_probe", n))
      t.on = false
    }

    // refresh (retract, compact) ≡ rebuild: the last probe equals the
    // probe of a one-shot build over every surviving row
    val batches = (0 until n).map(i => batch(s"b$i"))
    ms.foreach { m =>
      val key = if (m.events) "event_id" else "doc_id"
      val all = batches.map(input(m, _)).reduce(_ unionByName _)
      val survivors =
        if (retracted(m)) all.join(input(m, removed).select(key), Seq(key), "left_anti")
        else all
      val rebuilt = s"${env.root}/rebuild/${m.name}/data"
      m.build(survivors, rebuilt)
      out.checks(s"${m.name} ${if (env.traced) "after maintenance" else "refresh"} == rebuild") =
        latest.get(m.name).contains(rowsOf(m.probe(rebuilt).collect()))
    }

    // space amplification: bytes the members hold on disk over the
    // input bytes folded into them
    val inBytes = (0 until n).map(i => files(s"$split/b$i").values.sum).sum
    out.figures("space_amp") = files(s"${env.root}/wh").values.sum.toDouble / inBytes
    ms.foreach(m => out.figures(s"${m.name}.bytes") = files(s"${env.root}/wh/${m.name}").values.sum.toDouble)
    out
  }
}
