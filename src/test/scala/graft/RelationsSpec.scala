package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Bm25Warehouse
import graft.sources.{CommitLog, Relations, Tables}

/** The resolve-once parquet sources: a repeat read of a table file or
  * of a committed generation starts no Spark job, yet every query
  * still scans the files; a rewritten file or a rebuilt base resolves
  * again; any other directory is resolved on every read; a missing
  * path fails as `spark.read.parquet` fails. */
class RelationsSpec extends GraftSpec {

  private val FenceKey = "graft.relations.fence"

  /** Jobs started while `body` ran.  Listener events arrive
    * asynchronously but in order, so once the end of a fence job
    * started after `body` has been seen, every job `body` started has
    * been counted. */
  private def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val fenceJob = new AtomicInteger(-1)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(FenceKey) != null))
          fenceJob.set(e.jobId)
        else started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceJob.get) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(FenceKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceKey, null)
      assert(fenced.await(60, TimeUnit.SECONDS), "the fence job's end never arrived")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-rel-$tag").toString

  /** Write `df` as ONE parquet file at `dir/name.parquet` (the layout
    * of the engine's input tables), replacing what was there. */
  private def writeTableFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"$dir/_staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def xs(df: DataFrame): Seq[Long] =
    df.select(col("x")).collect().map(_.getLong(0)).sorted.toSeq

  test("a second read of a table file starts no job") {
    Tables(spark, Dir).events
    assert(jobsStartedBy(Tables(spark, Dir).events) == 0)
    val again = Tables(spark, Dir).events
    assert(again.count() == spark.read.parquet(s"$Dir/events.parquet").count())
  }

  test("a second read of a committed 64-bucket generation starts no job and still scans") {
    // 400 distinct terms fill all 64 term buckets of the postings part,
    // more subdirectories than the parallel-listing threshold (32), so
    // a fresh resolve lists them in a job of its own
    val docs = spark.range(400).select(col("id").as("doc_id"),
      concat(lit("t"), col("id"), lit(" t"), col("id") % 7).as("text"))
    val path = tmp("bm25") + "/index"
    Bm25Warehouse.materializeFrom(spark, docs, path)
    val snap = CommitLog.snapshot(spark, path)
    var first: DataFrame = null
    assert(jobsStartedBy { first = snap.read(path) } == 2,
      "a fresh generation resolves with a schema job and a listing job")
    assert(first.select(col("tb")).distinct().count() == 64)
    assert(jobsStartedBy(snap.read(path)) == 0)
    val second = snap.read(path)
    assert(second.inputFiles.toSet == first.inputFiles.toSet)
    assert(second.count() == first.count())
  }

  test("a table file rewritten with another schema reads the new schema") {
    val dir = tmp("rewrite")
    writeTableFile(spark.range(3).toDF("a"), dir, "t")
    val t = Tables(spark, dir)
    assert(t.table("t").columns.toSeq == Seq("a"))
    assert(jobsStartedBy(t.table("t")) == 0)
    writeTableFile(spark.range(5).select(col("id").cast("string").as("b"),
      lit(1.5).as("c")), dir, "t")
    // the rewritten file is resolved again: its schema job runs once
    assert(jobsStartedBy(t.table("t")) > 0)
    val now = t.table("t")
    assert(now.columns.toSeq == Seq("b", "c"))
    assert(now.count() == 5)
  }

  test("a CommitLog base deleted and rebuilt at the same path serves the rebuilt rows") {
    val root = tmp("rebuild")
    val base = s"$root/wh"
    def build(lo: Long, hi: Long): Unit =
      CommitLog.transaction(spark, base)(_.replace(spark.range(lo, hi).toDF("x"), base))
    build(0, 10)
    assert(xs(CommitLog.snapshot(spark, base).read(base)) == (0L until 10L))
    assert(xs(CommitLog.snapshot(spark, base).read(base)) == (0L until 10L))
    Seq(base, s"$base.commits").foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    build(100, 103)
    assert(CommitLog.snapshot(spark, base).latestGen(base).contains(0L),
      "the rebuilt base reuses generation 0's directory")
    assert(xs(CommitLog.snapshot(spark, base).read(base)) == Seq(100L, 101L, 102L))
  }

  test("a union and a self-join of one generation inside one plan return the right rows") {
    val base = tmp("selfjoin") + "/wh"
    CommitLog.transaction(spark, base)(_.replace(spark.range(0, 10).toDF("x"), base))
    val snap = CommitLog.snapshot(spark, base)
    snap.read(base)
    val (a, b) = (snap.read(base), snap.read(base))
    assert(xs(a.union(b)) == (0L until 10L).flatMap(x => Seq(x, x)))
    val pairs = a.join(b, a("x") === b("x") + 1)
      .select(a("x").as("hi"), b("x").as("lo")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs == (1L until 10L).map(x => (x, x - 1)))
  }

  test("a directory not marked committed is resolved on every read") {
    val dir = tmp("open") + "/store"
    spark.range(0, 4).withColumn("p", lit(0)).write.partitionBy("p").parquet(dir)
    assert(Relations.parquet(spark, dir).count() == 4)
    // a file lands inside a partition subdirectory: the directory's
    // own status does not change, the next read still sees the rows
    val status = new java.io.File(dir).lastModified()
    writeTableFile(spark.range(4, 6).toDF("id"), s"$dir/p=0", "extra")
    assert(new java.io.File(dir).lastModified() == status)
    assert(Relations.parquet(spark, dir).count() == 6)
  }

  test("a missing path throws the same exception class as spark.read.parquet") {
    val dir = tmp("missing")
    quietExpectedFailures {
      val want = intercept[Exception](spark.read.parquet(s"$dir/nope.parquet")).getClass
      assert(intercept[Exception](Tables(spark, dir).table("nope")).getClass == want)
      assert(intercept[Exception](
        Relations.parquet(spark, s"$dir/gen-7", committed = true)).getClass == want)
    }
  }
}
