package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.BigramLmWarehouse

/** The bigram LM at rest: refresh must fold to the one-shot rebuild
  * (probe equality), probes must tokenize only their batch and prune
  * both index sides, all-OOV text scores the backoff UNK mass, the
  * planted context discount survives the index round-trip, and the
  * streaming twin agrees with the batch probe.
  */
class BigramLmWarehouseSpec extends GraftSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files
      .createTempDirectory(s"graft-blmw-$tag-").toString + "/index"

  private lazy val path = {
    val p = tmp("main")
    BigramLmWarehouse.materialize(spark, Dir, p)
    p
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("probe equals t_perplexity_bigram_probe's oracle semantics on a planted corpus") {
    import spark.implicits._
    // base: doc 0 "a b a b", doc 1 "a b c"; probe: doc 8 "a b z"
    // c1: a=3 b=3 c=1 (nb=7, v=3 → denom=11); c2: (a,b)=3 (b,a)=1 (b,c)=1
    val p = tmp("planted")
    BigramLmWarehouse.materializeFrom(
      Seq((0L, "a b a b"), (1L, "a b c")).toDF("doc_id", "text"), p)
    val out = BigramLmWarehouse.probe(spark, p,
      Seq((8L, "a b z")).toDF("doc_id", "text")).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(1) == 3 && r.getLong(2) == 1) // n_tokens, (a,b) hit
    def r9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    def r6v(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val denom = 11.0
    val toks = Seq(
      -math.log(4 / denom),          // a: laplace (first)
      -math.log(3.0 / 3.0),          // b|a: hit 3/3
      -math.log(0.4 * 1.0 / denom))  // z|b: unseen bigram, OOV word
    val want = r6v(toks.map(x => r6v(r9(x))).sum / 3)
    assert(math.abs(r.getDouble(3) - want) <= 1e-6,
      s"nll ${r.getDouble(3)} vs $want")
  }

  test("refresh folds to the one-shot rebuild: probes identical") {
    import spark.implicits._
    val docs = sources.Tables(spark, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) < 8)
      .select(col("doc_id"), col("text"))
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val inc = tmp("inc"); val one = tmp("one")
    BigramLmWarehouse.materializeFrom(half1, inc)
    BigramLmWarehouse.refresh(spark, half2, inc)
    BigramLmWarehouse.materializeFrom(docs, one)
    val probeDocs = sources.Tables(spark, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) >= 8 && col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
    assert(rows(BigramLmWarehouse.probe(spark, inc, probeDocs)) ==
      rows(BigramLmWarehouse.probe(spark, one, probeDocs)),
      "refreshed index diverged from one-shot rebuild")
    // compact preserves probes and is idempotent
    BigramLmWarehouse.compact(spark, inc)
    assert(rows(BigramLmWarehouse.probe(spark, inc, probeDocs)) ==
      rows(BigramLmWarehouse.probe(spark, one, probeDocs)))
  }

  test("all-OOV probe text scores exactly the backoff UNK mass") {
    import spark.implicits._
    val st = sources.CommitLog.snapshot(spark, path).read(path + ".stats").head()
    val denom = (st.getLong(0) + st.getLong(1) + 1L).toDouble
    val out = BigramLmWarehouse.probe(spark, path,
      Seq((1L, "zzq1 zzq2 zzq3")).toDF("doc_id", "text")).collect()
    assert(out.length == 1 && out(0).getLong(2) == 0)
    def r9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    def r6v(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // first token: laplace UNK; rest: α·laplace UNK
    val t1 = r6v(r9(-math.log(1.0 / denom)))
    val tn = r6v(r9(-math.log(0.4 / denom)))
    val want = r6v((t1 + tn + tn) / 3)
    assert(math.abs(out(0).getDouble(3) - want) <= 1e-6,
      s"OOV nll ${out(0).getDouble(3)} vs $want")
  }

  test("probe tokenizes only its batch and prunes both index sides") {
    import spark.implicits._
    val one = Seq((1L, "the")).toDF("doc_id", "text")
    val df = BigramLmWarehouse.probe(spark, path, one)
    val docScans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) => f
    }
    assert(docScans.isEmpty, "probe of a literal frame must not scan documents")
    // sides are committed generation dirs (<path>.cN/gen-M) since r11
    Seq("index.c1", "index.c2").foreach { side =>
      val scans = df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(side + "/gen-")) => f
      }
      assert(scans.nonEmpty, s"no $side scan in plan")
      val all = scans.map(_.relation.location.listFiles(Nil, Nil).length).sum
      val pruned = scans.map(s =>
        s.relation.location.listFiles(s.partitionFilters, s.dataFilters).length).sum
      assert(all > 8, s"$side has only $all partitions at rest")
      assert(pruned <= scans.length,
        s"1-term probe read $pruned of $all $side partitions")
    }
  }

  test("streaming probe equals the batch probe") {
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
    val query = BigramLmWarehouse.streamingProbe(stream.toDF()
      .withColumnRenamed("_1", "doc_id").withColumnRenamed("_2", "text"), path) {
      out => got ++= out.collect().map(_.toSeq)
    }
    try {
      val (b1, b2) = incoming.splitAt(incoming.length / 2)
      stream.addData(b1.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(b2.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()
    assert(got.toSet ==
      rows(BigramLmWarehouse.probeIncoming(spark, Dir, path)))
  }

  test("retract == train-on-survivors bit-for-bit; vanished bigrams fall to backoff") {
    import spark.implicits._
    val docs = sources.Tables(spark, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) < 8)
      .select(col("doc_id"), col("text"))
    val retracted = tmp("retr"); val rebuilt = tmp("rebuilt")
    BigramLmWarehouse.materializeFrom(docs, retracted)
    BigramLmWarehouse.retract(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) === 7), retracted)
    BigramLmWarehouse.materializeFrom(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 7), rebuilt)
    val probeDocs = sources.Tables(spark, Dir).documents
      .filter(pmod(col("doc_id"), lit(10)) >= 8 && col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
    assert(rows(BigramLmWarehouse.probe(spark, retracted, probeDocs)) ==
      rows(BigramLmWarehouse.probe(spark, rebuilt, probeDocs)),
      "retracted LM diverges from the survivors rebuild")
    // the vanished-bigram branch specifically: a planted corpus where
    // one doc owns the only "red apple" bigram; after its takedown the
    // pair must score BACKOFF, not probability 0 (infinite NLL)
    val planted = Seq((1L, "red apple pie"), (2L, "red wine red car"))
      .toDF("doc_id", "text")
    val p2 = tmp("vanish")
    BigramLmWarehouse.materializeFrom(planted, p2)
    BigramLmWarehouse.retract(spark, planted.filter(col("doc_id") === 1), p2)
    val q = Seq((9L, "red apple")).toDF("doc_id", "text")
    val got = BigramLmWarehouse.probe(spark, p2, q).collect().head
    val ref = tmp("vanish-ref")
    BigramLmWarehouse.materializeFrom(
      planted.filter(col("doc_id") === 2), ref)
    val want = BigramLmWarehouse.probe(spark, ref, q).collect().head
    assert(got.toSeq == want.toSeq,
      s"vanished bigram scored ${got.toSeq}, rebuild says ${want.toSeq}")
    assert(got.getAs[Long]("bigram_hits") == 0, "a retracted bigram still hit")
    assert(!got.getAs[Double]("nll").isInfinite, "zero-probability leak")
    // compact physically drops the zeroed rows, probe-invariant
    val before = rows(BigramLmWarehouse.probe(spark, retracted, probeDocs))
    def c2Count() = sources.CommitLog.snapshot(spark, retracted)
      .read(s"$retracted.c2").count()
    val c2Before = c2Count()
    BigramLmWarehouse.compact(spark, retracted)
    assert(rows(BigramLmWarehouse.probe(spark, retracted, probeDocs)) == before)
    assert(c2Count() < c2Before,
      "compact dropped no retracted bigram rows")
  }

  test("retract then refresh re-counts a re-entering term — v stays exact; empty verbs are no-ops") {
    import spark.implicits._
    val planted = Seq((1L, "red apple pie"), (2L, "red wine red car"))
      .toDF("doc_id", "text")
    val p = tmp("rr")
    BigramLmWarehouse.materializeFrom(planted, p)
    // takedown fully erases 'apple' and 'pie'; a later batch
    // re-introduces 'apple' — the new-term count must see the
    // zero-sum rows as ABSENT or v permanently undercounts
    BigramLmWarehouse.retract(spark, planted.filter(col("doc_id") === 1), p)
    val reentry = Seq((3L, "apple juice")).toDF("doc_id", "text")
    BigramLmWarehouse.refresh(spark, reentry, p)
    val ref = tmp("rr-ref")
    BigramLmWarehouse.materializeFrom(
      planted.filter(col("doc_id") === 2).unionByName(reentry), ref)
    val q = Seq((9L, "apple snake")).toDF("doc_id", "text")
    assert(rows(BigramLmWarehouse.probe(spark, p, q)) ==
      rows(BigramLmWarehouse.probe(spark, ref, q)),
      "retract-then-refresh diverges from the survivors+batch rebuild (v drift)")
    // empty takedown list / empty batch leave the warehouse untouched
    BigramLmWarehouse.retract(spark, planted.filter(col("doc_id") === 99), p)
    BigramLmWarehouse.refresh(spark, planted.filter(col("doc_id") === 99), p)
    assert(rows(BigramLmWarehouse.probe(spark, p, q)) ==
      rows(BigramLmWarehouse.probe(spark, ref, q)))
  }

  test("wide vocabulary: a refresh touching all 64 wb and pwb buckets == the one-shot build; retract == rebuild on survivors; compact keeps both; one term prunes to one bucket per part") {
    val s = spark
    import s.implicits._
    val wide = WideCorpus.docs(s)
    val slice = pmod(col("doc_id"), lit(10)) === 7
    val oneShot = WideCorpus.path("blm-one")
    BigramLmWarehouse.materializeFrom(wide, oneShot)
    val p = WideCorpus.path("blm")
    BigramLmWarehouse.materializeFrom(wide.filter(col("doc_id") < 300), p)
    BigramLmWarehouse.refresh(s, wide.filter(col("doc_id") >= 300), p)
    Seq("c1" -> "wb", "c2" -> "pwb").foreach { case (part, bucket) =>
      val n = WideCorpus.bucketDirs(s"$p.$part/gen-1", bucket)
      assert(n == 64, s"the refresh wrote $n of 64 $part buckets")
    }

    val probeDocs = WideCorpus.probeDocs(s)
    def sums(q: String, part: String, keys: String*) =
      sources.CommitLog.snapshot(s, q).read(s"$q.$part")
        .groupBy(keys.map(col): _*).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") =!= 0).collect().map(_.toSeq).toSet
    def state(q: String) =
      (rows(BigramLmWarehouse.probe(s, q, probeDocs)),
        sums(q, "c1", "w"), sums(q, "c2", "pw", "w"),
        sources.CommitLog.snapshot(s, q).read(s"$q.stats").head().toSeq)
    val full = state(oneShot)
    assert(full._1.exists(_(2) != 0L), "degenerate: no probe bigram hit")
    assert(state(p) == full, "refresh diverges from the one-shot build")

    val rebuilt = WideCorpus.path("blm-survivors")
    BigramLmWarehouse.materializeFrom(wide.filter(!slice), rebuilt)
    val want = state(rebuilt)
    assert(want._4(1).asInstanceOf[Long] < full._4(1).asInstanceOf[Long],
      "degenerate: the slice owns no word outright")
    BigramLmWarehouse.retract(s, wide.filter(slice), p)
    assert(state(p) == want, "retract diverges from the rebuild on the survivors")
    BigramLmWarehouse.compact(s, p)
    assert(state(p) == want, "compact changed probes, counts or stats")

    val df = BigramLmWarehouse.probe(s, p, Seq(0L -> "w17").toDF("doc_id", "text"))
    Seq("index.c1/gen-", "index.c2/gen-").foreach { root =>
      val (scans, allParts, pruned) = WideCorpus.listing(df, root, "cnt")
      assert(scans > 0, s"no $root scan in plan")
      assert(allParts == 64 * scans, s"$allParts $root buckets at rest in $scans scans")
      assert(pruned == scans, s"one term probed $pruned of $allParts $root buckets")
    }
  }
}
