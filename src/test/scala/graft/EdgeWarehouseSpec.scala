package graft

/** The shared dup-pair edge warehouse and the LSH-edge grouping path.
  *
  *  - warehouse-served edges must be BIT-FOR-BIT the inline
  *    `nearDupEdges` set (the d_dedup_groups / _incremental /
  *    d_split_leakage_safe contract: sharing one materialization must
  *    be invisible to every consumer);
  *  - `dedupGroupsLsh` (exact ∪ minhashVerified ∪ ed edges) must
  *    produce exactly `dedupGroups`' labels on this corpus — the
  *    banding-recall-1.0 argument that licenses its shared oracle.
  */
class EdgeWarehouseSpec extends GraftSpec {

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet

  test("warehouse-served edges equal inline nearDupEdges bit-for-bit") {
    val docs = sources.Tables(spark, Dir).documents
    val inline = edgeSet(dedup.Dedup.nearDupEdges(docs))
    val atRest = dedup.EdgeWarehouse.edges(spark, Dir)
    val rest = edgeSet(atRest)
    assert(rest == inline,
      s"extra=${rest -- inline} missing=${inline -- rest}")
    // distinct() upstream means set equality implies row equality,
    // but pin the row count too — an at-rest duplicate would silently
    // double CC edge weight (harmless for min-label, wrong at rest)
    assert(atRest.count() == inline.size)
  }

  test("GUARD: banded J-channel recall is 1.0 on this corpus — the precondition of the shared oracle") {
    // d_dedup_groups_lsh holds d_dedup_groups' exact oracle ONLY while
    // 32-band MinHash banding recalls every true J >= 0.8 pair on the
    // CURRENT fixed corpus (escape p ≈ 5e-8/pair).  This guard asserts
    // that recall directly, so a regenerated corpus with a borderline
    // pair that flips all bands produces THIS targeted failure instead
    // of an opaque oracle hash mismatch downstream (a review finding).
    val docs = sources.Tables(spark, Dir).documents
    val exactJ = edgeSet(dedup.Dedup.ngramStages(docs, maxDfRatio = 0.1).pairs
      .select(org.apache.spark.sql.functions.col("a_id"),
        org.apache.spark.sql.functions.col("b_id")))
    val bandedJ = edgeSet(dedup.Dedup.minhashVerifiedOf(docs)
      .select(org.apache.spark.sql.functions.col("a_id"),
        org.apache.spark.sql.functions.col("b_id")))
    val missed = exactJ -- bandedJ
    assert(missed.isEmpty,
      s"banding recall < 1.0 on this corpus: ${missed.take(5)} escaped all 32 bands. " +
        "This is the fixed-data precondition of d_dedup_groups_lsh's shared exact " +
        "oracle failing (likely regenerated test data with a borderline J≈0.8 pair), " +
        "NOT an LSH operator bug — see Dedup.nearDupEdgesLsh's Scaladoc.")
  }

  test("LSH-edge grouping labels equal the exact recompute row-for-row") {
    val exact = dedup.Dedup.dedupGroups(spark, Dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_id"), r.getAs[Long]("group_size")))
      .toSet
    val lsh = dedup.Dedup.dedupGroupsLsh(spark, Dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_id"), r.getAs[Long]("group_size")))
      .toSet
    assert(lsh == exact,
      s"label diff: lshOnly=${(lsh -- exact).take(5)} exactOnly=${(exact -- lsh).take(5)}")
  }

  test("the LSH edge set itself matches the exact tri-channel set on this corpus") {
    // stronger than label equality: banding recall 1.0 here means the
    // EDGES agree, not just the components they induce
    val docs = sources.Tables(spark, Dir).documents
    val exact = edgeSet(dedup.Dedup.nearDupEdges(docs))
    val lsh = edgeSet(dedup.Dedup.nearDupEdgesLsh(docs))
    assert(lsh == exact,
      s"extra=${(lsh -- exact).take(5)} missing=${(exact -- lsh).take(5)}")
  }

  // ---- the MAINTAINED warehouse (ingest → refresh → compact) ----

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-edgew-$tag")
      .resolve("edges").toString

  /** `part` of the warehouse at `p`, read through a committed snapshot. */
  private def committed(p: String, part: String): org.apache.spark.sql.DataFrame =
    sources.CommitLog.snapshot(spark, p).read(part)

  test("refresh == one-shot nearDupEdges(base ∪ batch) bit-for-bit, multi-generation") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables(spark, Dir).documents
    val p = tmp("refresh")
    // THREE generations: base (mod < 8), then two separate refreshes —
    // the second probes a standing set that already contains the
    // first's fold, pinning the index-refresh consistency claim
    dedup.EdgeWarehouse.ingest(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) < 8), p)
    dedup.EdgeWarehouse.refresh(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) === 8), p)
    dedup.EdgeWarehouse.refresh(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) === 9), p)
    val atRest = edgeSet(dedup.EdgeWarehouse.allEdges(spark, p))
    val oneShot = edgeSet(dedup.Dedup.nearDupEdges(docs))
    assert(atRest == oneShot,
      s"extra=${(atRest -- oneShot).take(5)} missing=${(oneShot -- atRest).take(5)}")
    // generations never duplicate a pair (a cross pair lands in the
    // later endpoint's generation, exactly once)
    assert(dedup.EdgeWarehouse.allEdges(spark, p).count() == oneShot.size)
  }

  test("compact dedups generations and folds labels to the full recompute's") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables(spark, Dir).documents
    val p = tmp("compact")
    dedup.EdgeWarehouse.ingest(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) < 8), p)
    dedup.EdgeWarehouse.refresh(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) >= 8), p)
    val before = edgeSet(dedup.EdgeWarehouse.allEdges(spark, p))
    dedup.EdgeWarehouse.compact(spark, p)
    assert(edgeSet(dedup.EdgeWarehouse.allEdges(spark, p)) == before,
      "compact changed the edge set")
    assert(dedup.EdgeWarehouse.deltaEdges(spark, p).count() == 0,
      "compact left delta generations behind")
    // standing labels now cover every doc with the full recompute's
    // components — a post-compact fold with zero deltas is a no-op
    val labels = dedup.EdgeWarehouse.standingLabels(spark, p).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_id"))).toSet
    val full = dedup.Dedup.dedupGroupsFrom(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_id"))).toSet
    assert(labels == full,
      s"diff: onlyCompact=${(labels -- full).take(5)} onlyFull=${(full -- labels).take(5)}")
  }

  test("edge-free generations: ingest and refresh survive a clean corpus") {
    import spark.implicits._
    // three wildly different docs (no exact/ngram/ed pair possible:
    // disjoint vocabulary, length gaps > 10) — the clean-crawl case a
    // review flagged: zero-edge generations must read back as empty,
    // not fail schema inference, and refresh must not NPE on max(gen)
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (3L, "x")).toDF("doc_id", "text")
    val p = tmp("clean")
    dedup.EdgeWarehouse.ingest(spark, base, p)
    val incoming = Seq(
      (4L, "completely unrelated fresh content with its own words entirely")).toDF("doc_id", "text")
    dedup.EdgeWarehouse.refresh(spark, incoming, p)
    assert(dedup.EdgeWarehouse.allEdges(spark, p).count() == 0,
      "clean corpus produced edges")
    val labels = dedup.EdgeWarehouse.standingLabels(spark, p).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_id"))).toSet
    assert(labels == Set((1L, 1L), (2L, 2L), (3L, 3L)),
      s"singleton labels wrong: $labels")
  }

  test("streaming refresh across micro-batches equals the one-shot edge set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = sources.Tables(spark, Dir).documents
    val p = tmp("stream")
    dedup.EdgeWarehouse.ingest(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) < 8), p)
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val q = dedup.EdgeWarehouse.streamingRefresh(
      mem.toDF().toDF("doc_id", "text"), p)
    try {
      val (b1, b2) = incoming.splitAt(incoming.length / 2)
      mem.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = edgeSet(dedup.EdgeWarehouse.allEdges(spark, p))
    val oneShot = edgeSet(dedup.Dedup.nearDupEdges(docs))
    assert(streamed == oneShot,
      s"extra=${(streamed -- oneShot).take(5)} missing=${(oneShot -- streamed).take(5)}")
  }

  test("streaming replay protection: a batchId at-or-below the marker skips — no double ingest, no throw") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = sources.Tables(spark, Dir).documents
    val p = tmp("replay")
    dedup.EdgeWarehouse.ingest(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) < 8), p)
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) === 8)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val q = dedup.EdgeWarehouse.streamingRefresh(
      mem.toDF().toDF("doc_id", "text"), p)
    try {
      mem.addData(incoming.toIndexedSeq)
      q.processAllAvailable()
      // the marker recorded the folded batch
      assert(sources.BatchMarkers.lastBatchId(spark, s"$p.batchid") == 0L)
      val txtAfterFirst = committed(p, s"$p.txt").count()
      // simulate at-least-once re-delivery: the engine hands the SAME
      // docs under an id the marker already covers — the fold must
      // SKIP (no double ingest, and crucially no guard throw that
      // would kill the query)
      sources.BatchMarkers.record(spark, s"$p.batchid", 7L)
      mem.addData(incoming.toIndexedSeq) // engine id 1 <= marker 7
      q.processAllAvailable()
      assert(committed(p, s"$p.txt").count() == txtAfterFirst,
        "a replayed micro-batch was double-ingested")
      assert(q.exception.isEmpty, s"replay killed the query: ${q.exception}")
    } finally q.stop()
    // the id committed with the data: redelivering batch 0 folds
    // nothing even without the external marker
    val replay = docs.filter(pmod(col("doc_id"), lit(10)) === 8)
    assert(!dedup.EdgeWarehouse.refreshTxn(spark, replay, p, Some(0L)),
      "a committed batch id was folded again")
    assert(committed(p, s"$p.txt").count() == incoming.length +
      docs.filter(pmod(col("doc_id"), lit(10)) < 8).count())
  }

  test("GUARD: a re-crawled doc_id fails loudly instead of corrupting the indexes") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables(spark, Dir).documents
    val p = tmp("guard")
    dedup.EdgeWarehouse.ingest(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) < 8), p)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 8)
    dedup.EdgeWarehouse.refresh(spark, batch, p)
    // the same batch again = committed ids re-arriving: the crawl
    // contract is violated and the guard must throw BEFORE any write
    val txtRowsBefore = committed(p, s"$p.txt").count()
    val e = intercept[IllegalStateException] {
      dedup.EdgeWarehouse.refresh(spark, batch, p)
    }
    assert(e.getMessage.contains("already in the corpus"))
    assert(committed(p, s"$p.txt").count() == txtRowsBefore,
      "guard threw but writes happened anyway")
  }

  /** Run `verb` with the commit marker withheld: every part written,
    * nothing committed — the widest crash window of a transaction. */
  private def crashBeforeCommit(verb: => Unit): Unit =
    try {
      sources.CommitLog.crashBeforeCommit = true
      intercept[sources.CommitLog.InjectedCrash](verb)
    } finally sources.CommitLog.resetCrashInjection()

  test("interrupted refresh (crash before the .txt commit marker) resumes cleanly") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables(spark, Dir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
    val batchA = docs.filter(pmod(col("doc_id"), lit(10)) === 8)
    val batchB = docs.filter(pmod(col("doc_id"), lit(10)) === 9)
    val clean = tmp("clean-run"); val crashed = tmp("crashed-run")
    dedup.EdgeWarehouse.ingest(spark, base, clean)
    dedup.EdgeWarehouse.refresh(spark, batchA, clean)
    dedup.EdgeWarehouse.ingest(spark, base, crashed)
    // crash in the WIDEST window: every part written, the commit
    // marker (which now covers `.txt` with every other part) withheld
    crashBeforeCommit(dedup.EdgeWarehouse.refresh(spark, batchA, crashed))
    // resume = re-run the same batch; the guard passes (never committed)
    dedup.EdgeWarehouse.refresh(spark, batchA, crashed)
    // a LATER batch must see the identical standing corpus
    dedup.EdgeWarehouse.refresh(spark, batchB, clean)
    dedup.EdgeWarehouse.refresh(spark, batchB, crashed)
    assert(edgeSet(dedup.EdgeWarehouse.allEdges(spark, crashed)) ==
      edgeSet(dedup.EdgeWarehouse.allEdges(spark, clean)),
      "resumed run's edge SET diverged from the clean run's")
    // no duplicate rows to erase: counts converge before and after compact
    assert(dedup.EdgeWarehouse.allEdges(spark, crashed).count() ==
      dedup.EdgeWarehouse.allEdges(spark, clean).count())
    dedup.EdgeWarehouse.compact(spark, clean)
    dedup.EdgeWarehouse.compact(spark, crashed)
    assert(dedup.EdgeWarehouse.allEdges(spark, crashed).count() ==
      dedup.EdgeWarehouse.allEdges(spark, clean).count())
    val lab = (p: String) => dedup.EdgeWarehouse.standingLabels(spark, p)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_id"))).toSet
    assert(lab(crashed) == lab(clean),
      "resumed run's folded labels diverged from the clean run's")
  }

  test("CROSS-BASE crash: .mh txn committed, .txt marker lost — gap asserted, resume converges (r13)") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables(spark, Dir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 8)
    val clean = tmp("xbase-clean"); val crashed = tmp("xbase-crashed")
    dedup.EdgeWarehouse.ingest(spark, base, clean)
    dedup.EdgeWarehouse.refresh(spark, batch, clean)
    dedup.EdgeWarehouse.ingest(spark, base, crashed)
    crashBeforeCommit(dedup.EdgeWarehouse.refresh(spark, batch, crashed))
    // the J-channel index is a part of the warehouse's own base, so a
    // crash can no longer leave it one batch ahead of `.txt`: neither
    // holds the uncommitted batch
    val batchIds = batch.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val mhDocs = committed(crashed, s"$crashed.mh.docs").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.intersect(mhDocs).isEmpty,
      "the .mh index committed a batch whose .txt rows were not committed")
    val txtIds = committed(crashed, s"$crashed.txt").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.intersect(txtIds).isEmpty,
      ".txt must NOT hold the uncommitted batch")
    // resume = re-run the same batch (the guard passes — never in .txt)
    dedup.EdgeWarehouse.refresh(spark, batch, crashed)
    // convergence: edges, labels, and the J probe of a FRESH doc all
    // equal the never-crashed run
    assert(edgeSet(dedup.EdgeWarehouse.allEdges(spark, crashed)) ==
      edgeSet(dedup.EdgeWarehouse.allEdges(spark, clean)),
      "cross-base resume: edge set diverged")
    dedup.EdgeWarehouse.compact(spark, clean)
    dedup.EdgeWarehouse.compact(spark, crashed)
    val lab = (p: String) => dedup.EdgeWarehouse.standingLabels(spark, p)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_id"))).toSet
    assert(lab(crashed) == lab(clean), "cross-base resume: labels diverged")
    val probeB = docs.filter(pmod(col("doc_id"), lit(10)) === 9)
      .select(col("doc_id"), col("text"))
    def jMatches(p: String) = dedup.MinHashWarehouse
      .probeWith(sources.CommitLog.snapshot(spark, p), probeB, s"$p.mh")
      .select(col("new_id"), col("base_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jMatches(crashed) == jMatches(clean),
      "cross-base resume: the .mh index diverged from the clean run's")
  }

  test("registered incremental fold (labels + deltas at rest) equals dedupGroups") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("group_id"), r.getAs[Long]("group_size"))).toSet
    assert(rows(dedup.Dedup.dedupGroupsIncremental(spark, Dir)) ==
      rows(dedup.Dedup.dedupGroups(spark, Dir)),
      "at-rest incremental fold diverges from the full recompute")
  }

  test("RETRACT: pruned re-CC == full recompute over the survivor corpus; indexes purged") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("group_id"), r.getAs[Long]("group_size"))).toSet
    val docs = sources.Tables(spark, Dir).documents
    val survivors = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
    // the retraction must actually touch group structure: some removed
    // doc sits in a multi-doc component (else the test is vacuous)
    val full = rows(dedup.Dedup.dedupGroupsFrom(docs))
    assert(full.exists(r => r._1 % 13 == 0 && r._3 > 1),
      "degenerate: no removed doc is in a multi-doc group at this SF")
    val atRest = rows(dedup.EdgeWarehouse.retractedGroups(spark, Dir))
    val recompute = rows(dedup.Dedup.dedupGroupsFrom(survivors))
    assert(atRest == recompute,
      s"diff: onlyRetracted=${(atRest -- recompute).take(5)} " +
        s"onlyRecompute=${(recompute -- atRest).take(5)}")
    // index purge: a later refresh must probe survivors only — the
    // .txt/.edpfx stores and the .mh index carry no removed doc rows
    val p = dedup.EdgeWarehouse.builtRetractedPath(spark, Dir)
    Seq(s"$p.txt", s"$p.edpfx", s"$p.mh.docs").foreach { t =>
      assert(committed(p, t)
        .filter(pmod(col("doc_id"), lit(13)) === 0).count() == 0,
        s"$t still carries retracted docs")
    }
    assert(dedup.EdgeWarehouse.allEdges(spark, p)
      .filter(pmod(col("a_id"), lit(13)) === 0 ||
        pmod(col("b_id"), lit(13)) === 0).count() == 0,
      "edge table still carries edges incident to retracted docs")
  }
}
