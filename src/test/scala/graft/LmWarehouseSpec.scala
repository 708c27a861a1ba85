package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.operators.LmWarehouse

/** The unigram LM at rest: the probe must match a from-scratch
  * single-machine LM over the base/incoming split, tokenize ONLY the
  * probe side (one documents scan in the plan), prune term-bucket
  * partitions for small probes, score OOV text at exactly the UNK
  * mass, and agree with its streaming twin. */
class LmWarehouseSpec extends GraftSpec {

  private lazy val path = {
    val p = java.nio.file.Files
      .createTempDirectory("graft-lmw-").toString + "/index"
    LmWarehouse.materialize(spark, Dir, p)
    p
  }

  private lazy val probed =
    LmWarehouse.probeIncoming(spark, Dir, path)

  private lazy val (baseTf, nb, v) = {
    val base = sources.Tables(spark, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) < 8)
      .select("text").collect().map(_.getString(0).split(" ", -1).toSeq)
    val tf = base.flatten.groupBy(identity).map { case (w, g) => w -> g.size }
    (tf, base.map(_.size).sum.toLong, tf.size.toLong)
  }

  test("probe matches a single-machine LM over the base/incoming split") {
    def nll(ws: Seq[String]): Double = {
      val denom = (nb + v + 1).toDouble
      val terms = ws.map { w =>
        val p = (baseTf.getOrElse(w, 0) + 1.0) / denom
        BigDecimal(math.floor(-math.log(p) * 1e9 + 0.5) / 1e9)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      val s = terms.sum.toDouble / ws.size
      math.floor(s * 1e6 + 0.5) / 1e6
    }
    val incoming = sources.Tables(spark, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) >= 8 && col("doc_id") < 1000)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val out = probed.collect()
    assert(out.length == incoming.size, "every probe doc gets a score")
    out.foreach { r =>
      val (d, n, got) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(incoming.contains(d))
      assert(n == incoming(d).size)
      assert(got == nll(incoming(d)), s"nll($d): got $got want ${nll(incoming(d))}")
    }
  }

  test("an all-OOV probe doc scores exactly the UNK mass") {
    import spark.implicits._
    val docs = Seq((1L, "zzq1 zzq2 zzq3 zzq4")).toDF("doc_id", "text")
    val out = LmWarehouse.probe(spark, path, docs).collect()
    assert(out.length == 1)
    val unk = -math.log(1.0 / (nb + v + 1).toDouble)
    val want = math.floor(math.floor(unk * 1e9 + 0.5) / 1e9 * 1e6 + 0.5) / 1e6
    assert(out(0).getDouble(2) == want,
      s"OOV nll ${out(0).getDouble(2)} != UNK mass $want")
  }

  test("probe plan never re-tokenizes corpus text: zero documents scans") {
    // optimization r15: the probe pins its token frame once
    // (localCheckpoint) before the bucket collect and the scoring
    // join, so the served plan carries NO documents.parquet scan at
    // all — the old "exactly one scan, the probe side" pin weakens to
    // the stronger zero-corpus-scan form (the Bm25WarehouseSpec twin)
    val scans = probed.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) => f
    }
    assert(scans.isEmpty,
      s"probe plan must not scan documents.parquet, got ${scans.length}")
  }

  test("a small probe prunes term-bucket partitions") {
    import spark.implicits._
    val one = sources.Tables(spark, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) >= 8)
      .select(col("doc_id"), split(col("text"), " ")(0).as("text")).limit(1)
    val df = LmWarehouse.probe(spark, path, one)
    // model roots are committed generation dirs under <path>/gen-N
    // since round 11 (CommitLog) — one scan per live generation
    val scans = df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("index/gen-")) &&
            f.schema.fieldNames.contains("cnt") => f
      }
    assert(scans.nonEmpty, "no index FileSourceScanExec in plan")
    val allParts = scans.map(_.relation.location.listFiles(Nil, Nil).length).sum
    val pruned = scans.map(s =>
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters).length).sum
    assert(allParts > 8, s"expected many term buckets at rest, got $allParts")
    assert(pruned <= scans.length, s"1 term probed $pruned of $allParts partitions")
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
    val query = LmWarehouse.streamingProbe(stream.toDF()
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
  test("RETRACT: negative-count fold + nb/v decrement == LM trained on survivors, bit-for-bit") {
    def rows(p: String): Set[Seq[Any]] =
      LmWarehouse.probeIncoming(spark, Dir, p).collect().map(_.toSeq).toSet
    val retracted = java.nio.file.Files
      .createTempDirectory("graft-lmw-retr-").toString + "/index"
    LmWarehouse.materializeRetracted(spark, Dir, retracted)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-lmw-rebuilt-").toString + "/index"
    LmWarehouse.materializeFrom(sources.Tables(spark, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) < 7), rebuilt)
    val r = rows(retracted)
    assert(r.nonEmpty && r == rows(rebuilt),
      "retracted LM scores diverge from the rebuild-on-survivors LM")
    // the stats decrement is exact: (nb, v) equal the rebuild's
    def stats(p: String) =
      sources.CommitLog.snapshot(spark, p).read(s"$p.stats").head()
    assert(stats(retracted).toSeq == stats(rebuilt).toSeq,
      s"stats diverge: ${stats(retracted)} vs ${stats(rebuilt)}")
    // compact folds the negative rows out: the merged table equals the
    // rebuild's (term, cnt) rows and probes unchanged
    LmWarehouse.compact(spark, retracted)
    assert(rows(retracted) == r, "compact changed the probe result")
    def lmRows(p: String): Set[(String, Long)] =
      sources.CommitLog.snapshot(spark, p).read(p).groupBy(col("term"))
        .agg(sum(col("cnt")).as("cnt")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(lmRows(retracted) == lmRows(rebuilt),
      "compacted LM table diverges from the rebuild's")
  }

  test("retract then refresh re-counts a re-entering term — v stays exact") {
    import spark.implicits._
    val planted = Seq((1L, "red apple pie"), (2L, "red wine red car"))
      .toDF("doc_id", "text")
    val p = java.nio.file.Files
      .createTempDirectory("graft-lmw-rr-").toString + "/index"
    LmWarehouse.materializeFrom(planted, p)
    LmWarehouse.retract(spark, planted.filter(col("doc_id") === 1), p)
    val reentry = Seq((3L, "apple juice")).toDF("doc_id", "text")
    LmWarehouse.refresh(spark, reentry, p)
    val ref = java.nio.file.Files
      .createTempDirectory("graft-lmw-rr-ref-").toString + "/index"
    LmWarehouse.materializeFrom(
      planted.filter(col("doc_id") === 2).unionByName(reentry), ref)
    // 'apple' was fully retracted then re-ingested: the new-term
    // count must treat the zero-sum rows as absent (v back to 5)
    def stats(q: String) =
      sources.CommitLog.snapshot(spark, q).read(s"$q.stats").head().toSeq
    assert(stats(p) == stats(ref),
      s"v drifted on re-entry: ${stats(p)} vs ${stats(ref)}")
    val q = Seq((9L, "apple snake")).toDF("doc_id", "text")
    assert(LmWarehouse.probe(spark, p, q).collect().map(_.toSeq).toSet ==
      LmWarehouse.probe(spark, ref, q).collect().map(_.toSeq).toSet)
    // empty takedown / empty batch are no-ops
    LmWarehouse.retract(spark, planted.filter(col("doc_id") === 99), p)
    LmWarehouse.refresh(spark, planted.filter(col("doc_id") === 99), p)
    assert(stats(p) == stats(ref))
  }

  test("wide vocabulary: a refresh touching all 64 term buckets == the one-shot build; retract == rebuild on survivors; compact keeps both; one term prunes to one bucket") {
    val s = spark
    import s.implicits._
    val wide = WideCorpus.docs(s)
    val slice = pmod(col("doc_id"), lit(10)) === 7
    val oneShot = WideCorpus.path("lm-one")
    LmWarehouse.materializeFrom(wide, oneShot)
    val p = WideCorpus.path("lm")
    LmWarehouse.materializeFrom(wide.filter(col("doc_id") < 300), p)
    LmWarehouse.refresh(s, wide.filter(col("doc_id") >= 300), p)
    val buckets = WideCorpus.bucketDirs(s"$p/gen-1", "tb")
    assert(buckets == 64, s"the refresh wrote $buckets of 64 term buckets")

    val probeDocs = WideCorpus.probeDocs(s)
    def state(q: String) = {
      val snap = sources.CommitLog.snapshot(s, q)
      (LmWarehouse.probe(s, q, probeDocs).collect().map(_.toSeq).toSet,
        snap.read(q).groupBy(col("term")).agg(sum(col("cnt")).as("cnt"))
          .filter(col("cnt") =!= 0).collect().map(_.toSeq).toSet,
        snap.read(s"$q.stats").head().toSeq)
    }
    val full = state(oneShot)
    assert(state(p) == full, "refresh diverges from the one-shot build")

    val rebuilt = WideCorpus.path("lm-survivors")
    LmWarehouse.materializeFrom(wide.filter(!slice), rebuilt)
    val want = state(rebuilt)
    assert(want._3(1).asInstanceOf[Long] < full._3(1).asInstanceOf[Long],
      "degenerate: the slice owns no term outright")
    LmWarehouse.retract(s, wide.filter(slice), p)
    assert(state(p) == want, "retract diverges from the rebuild on the survivors")
    LmWarehouse.compact(s, p)
    assert(state(p) == want, "compact changed probes, counts or stats")

    val df = LmWarehouse.probe(s, p, Seq(0L -> "w17").toDF("doc_id", "text"))
    val (scans, allParts, pruned) = WideCorpus.listing(df, "index/gen-", "cnt")
    assert(scans > 0, "no index FileSourceScanExec in plan")
    assert(allParts == 64 * scans, s"$allParts buckets at rest in $scans scans")
    assert(pruned == scans, s"one term probed $pruned of $allParts buckets")
  }
}
