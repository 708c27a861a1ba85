package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.similarity.Bm25Warehouse

/** The BM25 posting table at rest: the probe must match a from-scratch
  * single-machine BM25 over the base/incoming split, tokenize ONLY the
  * probe side (one documents scan in the plan), and prune term-bucket
  * partitions for small term sets. */
class Bm25WarehouseSpec extends GraftSpec {

  private lazy val path = {
    val p = java.nio.file.Files
      .createTempDirectory("graft-bm25w-").toString + "/index"
    Bm25Warehouse.materialize(spark, Dir, p)
    p
  }

  private lazy val probed =
    Bm25Warehouse.probeIncoming(spark, Dir, path)

  test("probe matches a single-machine BM25 over the base/incoming split") {
    val all = sources.Tables(spark, Dir).documents
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val base = all.filter { case (id, _) => id % 10 < 8 }
    val n = base.size
    val avgdl = base.values.map(_.size).sum.toDouble / n
    val tf = base.map { case (id, ws) => id -> ws.groupBy(identity).map { case (w, g) => w -> g.size } }
    val df = base.values.flatMap(_.distinct).groupBy(identity).map { case (w, g) => w -> g.size }
    def score(qTerms: Set[String], d: Long): Double = {
      val parts = (qTerms & tf(d).keySet).toSeq.map { t =>
        val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
        val x = idf * ((tf(d)(t) * 2.2) /
          (tf(d)(t) + 1.2 * (0.25 + 0.75 * (base(d).size / avgdl))))
        BigDecimal(math.floor(x * 1e9 + 0.5) / 1e9)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      parts.sum.toDouble
    }
    val out = probed.collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, d, got) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(q % 10 >= 8 && q < 1000, s"query $q outside the probe batch")
      assert(d % 10 < 8, s"retrieved doc $d is not a base doc")
      val want = math.floor(score(all(q).toSet, d) * 1e4 + 0.5) / 1e4
      assert(got == want, s"bm25($q,$d): got $got want $want")
    }
  }

  test("probe plan never re-tokenizes corpus text: zero documents scans") {
    // optimization r15: the probe materializes the query term sets once
    // (localCheckpoint) before the bucket collect and the hits join, so
    // the served plan carries NO documents.parquet scan at all — the
    // old pin ("exactly one scan, the query side") weakens to the
    // stronger zero-corpus-scan form
    val scans = probed.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) => f
    }
    assert(scans.isEmpty,
      s"probe plan must not scan documents.parquet, got ${scans.length}")
  }

  test("streaming probe across micro-batches equals the batch probe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val incoming = sources.Tables(s, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) >= 8 && col("doc_id") < 1000)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set.empty[Seq[Any]]
    val query = Bm25Warehouse.streamingProbe(stream.toDF()
        .withColumnRenamed("_1", "doc_id").withColumnRenamed("_2", "text"), path) {
      batchOut => got ++= batchOut.collect().map(_.toSeq)
    }
    try {
      val (b1, b2) = incoming.splitAt(incoming.length / 2)
      stream.addData(b1.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(b2.toIndexedSeq)
      query.processAllAvailable()
      val batch = probed.collect().map(_.toSeq).toSet
      assert(got.nonEmpty)
      assert(got.toSet == batch)
    } finally query.stop()
  }

  test("a small term set prunes term-bucket partitions") {
    import spark.implicits._
    val tiny = Bm25Warehouse.incomingTerms(spark, Dir)
      .orderBy("query_id", "term").limit(3)
    val df = Bm25Warehouse.probe(spark, path, tiny)
    // posting roots are committed generation dirs under <path>/gen-N
    // since round 11 (CommitLog) — one scan per live generation
    val scans = df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("index/gen-")) &&
            f.schema.fieldNames.contains("tf") => f
      }
    assert(scans.nonEmpty, "no index FileSourceScanExec in plan")
    val allParts = scans.map(_.relation.location.listFiles(Nil, Nil).length).sum
    val pruned = scans.map(s =>
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters).length).sum
    assert(allParts > 8, s"expected many term buckets at rest, got $allParts")
    assert(pruned <= 3 * scans.length,
      s"3 terms probed $pruned of $allParts partitions")
    assert(df.count() >= 0)
  }
  private lazy val wide = WideCorpus.docs(spark)

  test("wide vocabulary: a refresh touching all 64 term buckets == the one-shot build; compact keeps probes; one term prunes to one bucket") {
    val s = spark
    import s.implicits._
    val (base, batch) = (wide.filter(col("doc_id") < 300), wide.filter(col("doc_id") >= 300))
    val oneShot = WideCorpus.path("bm25-one")
    Bm25Warehouse.materializeFrom(s, wide, oneShot)
    val p = WideCorpus.path("bm25-ref")
    Bm25Warehouse.materializeFrom(s, base, p)
    Bm25Warehouse.refresh(s, batch, p)
    val refreshBuckets = WideCorpus.bucketDirs(s"$p/gen-1", "tb")
    assert(refreshBuckets == 64, s"the refresh wrote $refreshBuckets of 64 term buckets")

    val rnd = new scala.util.Random(7L)
    val queries = (0L until 40L).flatMap(q =>
      Seq.fill(4)(q -> s"w${rnd.nextInt(1000)}")).distinct.toDF("query_id", "term")
    def probeRows(path: String) =
      Bm25Warehouse.probe(s, path, queries).collect().map(_.toSeq).toSet
    def state(path: String) = {
      val snap = sources.CommitLog.snapshot(s, path)
      (snap.read(path).select("term", "doc_id", "tf", "len").collect().map(_.toSeq).toSet,
        snap.read(s"$path.df").groupBy(col("term")).agg(sum(col("dfd")))
          .collect().map(_.toSeq).toSet,
        snap.read(s"$path.stats").head().toSeq)
    }
    val want = probeRows(oneShot)
    assert(want.map(_(0)).size == 40, "degenerate: a query retrieved nothing")
    assert(probeRows(p) == want, "refresh probe diverges from the one-shot build")
    assert(state(p) == state(oneShot), "refreshed index diverges from the one-shot build")
    Bm25Warehouse.compact(s, p)
    assert(probeRows(p) == want, "compact changed the probe result")
    assert(state(p) == state(oneShot), "compact changed the index")

    val df = Bm25Warehouse.probe(s, p, Seq(0L -> "w17").toDF("query_id", "term"))
    val (scans, allParts, pruned) = WideCorpus.listing(df, "index/gen-", "tf")
    assert(scans > 0, "no index FileSourceScanExec in plan")
    assert(allParts == 64 * scans, s"$allParts buckets at rest in $scans scans")
    assert(pruned == scans, s"one term probed $pruned of $allParts buckets")
    assert(df.collect().nonEmpty)
  }

  test("RETRACT: probe-after-retract == probe-on-rebuild-on-survivors, bit-for-bit") {
    def rows(p: String): Set[Seq[Any]] =
      Bm25Warehouse.probeIncoming(spark, Dir, p).collect().map(_.toSeq).toSet
    val retracted = java.nio.file.Files
      .createTempDirectory("graft-bm25w-retr-").toString + "/index"
    Bm25Warehouse.materializeRetracted(spark, Dir, retracted)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-bm25w-rebuilt-").toString + "/index"
    Bm25Warehouse.materializeFrom(spark, sources.Tables(spark, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) < 7), rebuilt)
    val r = rows(retracted)
    assert(r == rows(rebuilt),
      "retracted probe diverges from the rebuild-on-survivors probe")
    // the retraction actually bit: mod-7 docs rank in the full index
    assert(rows(path).exists(_(1).asInstanceOf[Long] % 10 == 7),
      "degenerate: no mod-7 doc in any top-k at this SF")
    assert(r.forall(_(1).asInstanceOf[Long] % 10 != 7))
    // stats decremented to exactly the rebuild's two scalars (parts
    // read through their committed snapshots — CommitLog layout)
    def stats(p: String) =
      sources.CommitLog.snapshot(spark, p).read(s"$p.stats").head()
    assert(stats(retracted).toSeq == stats(rebuilt).toSeq)
    // compact physically removes tombstoned postings and negative df
    // rows, probe-invariant; df side equals the rebuild's merged rows
    Bm25Warehouse.compact(spark, retracted)
    assert(rows(retracted) == r, "compact changed the probe result")
    assert(sources.CommitLog.snapshot(spark, retracted).read(retracted)
      .filter(pmod(col("doc_id"), lit(10)) === 7).count() == 0,
      "compact left tombstoned postings behind")
    def dfRows(p: String): Set[(String, Long)] =
      sources.CommitLog.snapshot(spark, p).read(s"$p.df").groupBy(col("term"))
        .agg(sum(col("dfd")).as("dfd")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dfRows(retracted) == dfRows(rebuilt),
      "compacted df side diverges from the rebuild's")
  }

  test("streaming REFRESH across micro-batches equals the one-shot refresh; a replayed batch folds nothing (round 12)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = sources.Tables(s, Dir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
    val incoming = docs
      .filter(pmod(col("doc_id"), lit(10)) >= 8 && col("doc_id") < 1000)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def probeRows(p: String) = Bm25Warehouse.probeIncoming(spark, Dir, p)
      .collect().map(_.toSeq).toSet

    // reference: the one-shot refresh of the whole incoming set
    val ref = java.nio.file.Files
      .createTempDirectory("graft-bm25w-sref-").toString + "/index"
    Bm25Warehouse.materializeFrom(s, base, ref)
    Bm25Warehouse.refresh(s, incoming.toSeq.toDF("doc_id", "text"), ref)
    val want = probeRows(ref)

    val p = java.nio.file.Files
      .createTempDirectory("graft-bm25w-stream-").toString + "/index"
    Bm25Warehouse.materializeFrom(s, base, p)
    val stream = MemoryStream[(Long, String)]
    // checkpointEvery = 1: the commit log folds-and-truncates after
    // EVERY folded batch — the harshest maintenance cadence, under
    // which the probes must still see every committed transaction
    val query = Bm25Warehouse.streamingRefresh(stream.toDF()
      .withColumnRenamed("_1", "doc_id").withColumnRenamed("_2", "text"), p,
      checkpointEvery = 1)
    try {
      val (b1, b2) = incoming.splitAt(incoming.length / 2)
      stream.addData(b1.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(b2.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()
    assert(probeRows(p) == want,
      "streamed refresh diverged from the one-shot refresh")
    // the log stayed bounded: one checkpoint file, zero commit files
    val markerNames = new java.io.File(p + ".commits").listFiles()
      .map(_.getName).filter(n => n.endsWith(".commit") || n.endsWith(".checkpoint"))
    assert(markerNames.length == 1,
      s"streaming-cadence log checkpoint left ${markerNames.toSeq}")

    // EXACTLY-ONCE, residual window: a batch whose TXN committed but
    // whose external marker was lost is re-delivered — the committed
    // .stream id must make the redelivery fold NOTHING (this is the
    // crash between commit marker and batchid record)
    val replay = incoming.take(3).toSeq.toDF("doc_id", "text")
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    assert(Bm25Warehouse.refreshTxn(s, replay, p, batchId = Some(777L)),
      "first delivery must fold")
    val after = probeRows(p)
    assert(after != want, "degenerate: the planted batch changed no score")
    assert(!Bm25Warehouse.refreshTxn(s, replay, p, batchId = Some(777L)),
      "redelivery of a committed batch id must fold nothing")
    assert(probeRows(p) == after,
      "a replayed batch double-appended into the index")
    // and compact folds the id part without forgetting the ids
    Bm25Warehouse.compact(spark, p)
    assert(!Bm25Warehouse.refreshTxn(s, replay, p, batchId = Some(777L)),
      "compact forgot a committed batch id")
    assert(probeRows(p) == after, "compact changed the streamed probe")
  }

  test("VACUUM retention: post-vacuum probe == pre-vacuum; a probe pinned BEFORE vacuum fails loudly, never partially (round 12)") {
    val s = spark
    val docs = sources.Tables(s, Dir).documents
    val p = java.nio.file.Files
      .createTempDirectory("graft-bm25w-vac-").toString + "/index"
    Bm25Warehouse.materializeFrom(s,
      docs.filter(pmod(col("doc_id"), lit(10)) < 7), p)
    Bm25Warehouse.refresh(s,
      docs.filter(pmod(col("doc_id"), lit(10)) === 7), p)
    def probeRows() = Bm25Warehouse.probeIncoming(spark, Dir, p)
      .collect().map(_.toSeq).toSet
    val before = probeRows()
    // pin TWO probes NOW: both snapshots reference the pre-compact df
    // generations.  `pinned` is collected before vacuum (the
    // compact-doesn't-break-pins assertion); `pinnedFresh` is NEVER
    // executed until after vacuum — a collected DataFrame's AQE query
    // stages cache their results, so only a fresh pin actually drives
    // the post-vacuum read the contract is about
    val pinned = Bm25Warehouse.probeIncoming(spark, Dir, p)
    val pinnedFresh = Bm25Warehouse.probeIncoming(spark, Dir, p)
    Bm25Warehouse.compact(s, p)
    // the pinned probe still works — compact never vacuums inline
    assert(pinned.collect().map(_.toSeq).toSet == before,
      "compact (no vacuum) broke a pinned probe")
    val pinned2 = Bm25Warehouse.probeIncoming(spark, Dir, p)
    sources.CommitLog.vacuum(s, p)
    sources.CommitLog.checkpoint(s, p)
    // post-vacuum: fresh probes serve the identical answer
    assert(probeRows() == before, "vacuum changed the served answer")
    // ...and ONE marker file remains after the log checkpoint
    val markers = new java.io.File(p + ".commits").listFiles()
      .map(_.getName).filter(n => n.endsWith(".commit") || n.endsWith(".checkpoint"))
    assert(markers.length == 1, s"checkpoint left ${markers.toSeq}")
    // the PRE-COMPACT pin references the df generations compact
    // superseded and vacuum reclaimed: collecting it must FAIL LOUDLY
    // (missing input path), not return partial data — the
    // drained-readers contract's enforcement half
    val thrown = quietExpectedFailures(intercept[Throwable](pinnedFresh.collect()))
    val chain = Iterator.iterate[Throwable](thrown)(_.getCause)
      .takeWhile(_ != null).take(8).map(String.valueOf).mkString(" | ")
    assert(chain.contains("PATH_NOT_FOUND") || chain.contains("FileNotFound") ||
      chain.toLowerCase.contains("does not exist") ||
      chain.toLowerCase.contains("no such file"),
      s"expected a loud missing-path failure, got: $chain")
    // a probe pinned AFTER compact reads only live generations — it
    // survives the vacuum untouched
    assert(pinned2.collect().map(_.toSeq).toSet == before,
      "a post-compact pin must survive vacuum")
  }

  test("BatchMarkers lineage guard: a recreated checkpoint with surviving markers fails loudly (ADVICE r11)") {
    import graft.sources.BatchMarkers
    val root = java.nio.file.Files
      .createTempDirectory("graft-lineage-").toString
    val ck = s"$root/wh.checkpoint"
    val mk = s"$root/wh.batchid"
    // fresh lineage: stamps both sides, idempotent restart passes
    BatchMarkers.ensureLineage(spark, ck, mk)
    BatchMarkers.ensureLineage(spark, ck, mk)
    BatchMarkers.record(spark, mk, 0L)
    assert(BatchMarkers.lastBatchId(spark, mk) == 0L)
    // record() prunes markers below the new max (review r12: the
    // marker dir must not grow one file per micro-batch ever)
    BatchMarkers.record(spark, mk, 1L)
    BatchMarkers.record(spark, mk, 5L)
    assert(BatchMarkers.lastBatchId(spark, mk) == 5L)
    val doneFiles = new java.io.File(mk).listFiles()
      .map(_.getName).filter(_.endsWith(".done")).toSeq
    assert(doneFiles == Seq("5.done"), s"stale markers survived: $doneFiles")
    // the ADVICE scenario: checkpoint deleted/recreated, markers
    // survive -> engine ids would restart at 0 and silently skip
    val fs = new org.apache.hadoop.fs.Path(ck)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ck), true)
    intercept[IllegalStateException](BatchMarkers.ensureLineage(spark, ck, mk))
    // marker side wiped instead: adopt the checkpoint's lineage and
    // proceed (ids restart from -1; loud member guards cover re-runs)
    BatchMarkers.ensureLineage(spark, s"$root/wh2.checkpoint", s"$root/wh2.batchid")
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/wh2.batchid"), true)
    BatchMarkers.ensureLineage(spark, s"$root/wh2.checkpoint", s"$root/wh2.batchid")
    assert(BatchMarkers.lastBatchId(spark, s"$root/wh2.batchid") == -1L)
    // legacy markers with NO lineage stamp anywhere: refuse
    BatchMarkers.record(spark, s"$root/wh3.batchid", 4L)
    intercept[IllegalStateException](
      BatchMarkers.ensureLineage(spark, s"$root/wh3.checkpoint", s"$root/wh3.batchid"))
    // partial restore: .done ids survive but THEIR stamp is lost while
    // the checkpoint carries one — adopting would re-enable the silent
    // skip, so refuse (review r12)
    BatchMarkers.ensureLineage(spark, s"$root/wh4.checkpoint", s"$root/wh4.batchid")
    BatchMarkers.record(spark, s"$root/wh4.batchid", 9L)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/wh4.batchid/graft-lineage"), false)
    intercept[IllegalStateException](
      BatchMarkers.ensureLineage(spark, s"$root/wh4.checkpoint", s"$root/wh4.batchid"))
  }
}
