package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dedup.EdgeWarehouse
import graft.operators.{BalanceWarehouse, BigramLmWarehouse, BloomWarehouse, JoinViewWarehouse, QuantileWarehouse, RichlistWarehouse, TrainPrep}
import graft.similarity.Bm25Warehouse
import graft.sources.{CommitLog, Tables}

/** The round-11 atomic-refresh contract, driven through the MEMBERS'
  * REAL VERBS (not protocol toys — CommitLogSpec owns those): for
  * several differently-shaped warehouse members, a maintenance verb
  * killed between ANY two part writes (and in the widest window —
  * everything written, marker not yet landed) is INVISIBLE: probes
  * keep serving the pre-verb state bit-for-bit, and re-running the
  * verb converges with a clean run.  Plus the VERDICT-r10 ask-#3
  * concurrent-reader contract on members beyond BalanceWarehouse: a
  * probe whose snapshot was pinned before a refresh commits keeps its
  * pre-refresh answer even when collected after the commit.
  *
  * Shapes covered:
  *  - Bm25Warehouse — inverted index: bucket-partitioned postings +
  *    df deltas + 1-row scalar stats (3 writes per refresh and per
  *    retract: df deltas, tombstones, stats);
  *  - JoinViewWarehouse — binary join view: view deltas + a side
  *    state per refresh (2 writes), where the ADVICE-r10 finding
  *    showed the old write order was neither re-runnable nor
  *    skippable after a crash;
  *  - RichlistWarehouse — order statistic: top-K buffer + additive
  *    totals (2 writes per refresh; the dirty retract adds tombstone
  *    + promotion refill in the same transaction);
  *  - BigramLmWarehouse — two count parts + 1-row (nb, v) stats
  *    (3 writes per refresh and per retract);
  *  - MinHashWarehouse and IvfWarehouse — the tombstone purge of a
  *    compact (`Tombstones.purge`: one replace per listed part, plus
  *    the `.stream` id fold where a streaming twin has written one;
  *    the tombstone clear writes no file);
  *  - EdgeWarehouse — the dedup graph: edges, CC labels, the
  *    corpus-membership and Ed-Join index parts and the embedded
  *    MinHash index, all in one base (refresh 6 writes, compact 2,
  *    retract 7);
  *  - BloomWarehouse — one filter row per generation (compact 1 write).
  */
class WarehouseCommitSpec extends GraftSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-wcs-$tag").resolve("idx").toString

  private def t = Tables(spark, Dir)

  /** Drive `verb` to an injected crash after each of its part writes
    * (1..windows) and once in the widest window (all writes done,
    * marker withheld); after every crash `probe` must equal `before`
    * bit-for-bit.  Then the RESUME: re-run the verb cleanly and pin
    * `probe` against `want`. */
  private def crashEveryWindow(windows: Int, verb: () => Unit,
      probe: () => Set[String], before: Set[String], want: Set[String]): Unit = {
    try {
      (1 to windows).foreach { w =>
        CommitLog.crashAfterWrites = w
        intercept[CommitLog.InjectedCrash](verb())
        CommitLog.resetCrashInjection()
        assert(probe() == before,
          s"crash after write $w of $windows leaked torn state into a probe")
      }
      CommitLog.crashBeforeCommit = true
      intercept[CommitLog.InjectedCrash](verb())
      CommitLog.resetCrashInjection()
      assert(probe() == before,
        "crash after all writes (marker withheld) leaked torn state")
    } finally CommitLog.resetCrashInjection()
    verb() // the resume — same batch, run to completion
    assert(probe() == want, "resumed verb diverged from the clean run")
  }

  test("bm25: a refresh killed in every window is invisible; resume == clean run") {
    val docs = t.documents
    val base = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
    val inc = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
    def probeOf(p: String) = () => Bm25Warehouse
      .probeIncoming(spark, Dir, p).collect().map(_.toString).toSet

    val clean = tmp("bm25-clean")
    Bm25Warehouse.materializeFrom(spark, base, clean)
    val beforeRefresh = probeOf(clean)()
    Bm25Warehouse.refresh(spark, inc, clean)
    val afterRefresh = probeOf(clean)()
    assert(beforeRefresh != afterRefresh, "degenerate: refresh changed nothing")

    val p = tmp("bm25")
    Bm25Warehouse.materializeFrom(spark, base, p)
    // refresh writes 3 parts: postings, df deltas, stats
    crashEveryWindow(3, () => Bm25Warehouse.refresh(spark, inc, p),
      probeOf(p), beforeRefresh, afterRefresh)
  }

  test("bm25: a retract killed in every window is invisible; resume == rebuild-on-survivors") {
    val docs = t.documents
    val base = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
    val removed = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
    def probeOf(p: String) = () => Bm25Warehouse
      .probeIncoming(spark, Dir, p).collect().map(_.toString).toSet

    val rebuilt = tmp("bm25r-ref")
    Bm25Warehouse.materializeFrom(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) < 7), rebuilt)
    val want = probeOf(rebuilt)()

    val p = tmp("bm25r")
    Bm25Warehouse.materializeFrom(spark, base, p)
    val before = probeOf(p)()
    assert(before != want, "degenerate: retraction changes nothing at this SF")
    // retract writes 3 parts: negative df deltas, tombstones, stats
    crashEveryWindow(3, () => Bm25Warehouse.retract(spark, removed, p),
      probeOf(p), before, want)
  }

  test("bigram lm: a refresh killed in every window is invisible; resume == clean run") {
    val docs = t.documents
    val base = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
    val inc = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
    def probeOf(p: String) = () => BigramLmWarehouse
      .probeIncoming(spark, Dir, p).collect().map(_.toString).toSet

    val clean = tmp("blm-clean")
    BigramLmWarehouse.materializeFrom(base, clean)
    val before = probeOf(clean)()
    BigramLmWarehouse.refresh(spark, inc, clean)
    val want = probeOf(clean)()
    assert(before != want, "degenerate: refresh changed nothing")

    val p = tmp("blm")
    BigramLmWarehouse.materializeFrom(base, p)
    // refresh writes 3 parts: c1 deltas, c2 deltas, stats
    crashEveryWindow(3, () => BigramLmWarehouse.refresh(spark, inc, p),
      probeOf(p), before, want)
  }

  test("bigram lm: a retract killed in every window is invisible; resume == rebuild-on-survivors") {
    val docs = t.documents
    val base = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
    val removed = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
    def probeOf(p: String) = () => BigramLmWarehouse
      .probeIncoming(spark, Dir, p).collect().map(_.toString).toSet

    val rebuilt = tmp("blmr-ref")
    BigramLmWarehouse.materializeFrom(
      docs.filter(pmod(col("doc_id"), lit(10)) < 7), rebuilt)
    val want = probeOf(rebuilt)()

    val p = tmp("blmr")
    BigramLmWarehouse.materializeFrom(base, p)
    val before = probeOf(p)()
    assert(before != want, "degenerate: retraction changes nothing at this SF")
    // retract writes 3 parts: negative c1 deltas, negative c2 deltas, stats
    crashEveryWindow(3, () => BigramLmWarehouse.retract(spark, removed, p),
      probeOf(p), before, want)
  }

  test("join view: refreshLines killed in every window is invisible; resume == clean run (the ADVICE-r10 window, closed)") {
    val baseO = t.orders.filter(JoinViewWarehouse.isBaseOrder)
    val baseL = t.lineitem.filter(JoinViewWarehouse.isBaseLine)
    val incL = t.lineitem.filter(!JoinViewWarehouse.isBaseLine)
    def probeOf(p: String) = () => JoinViewWarehouse
      .probe(spark, p).collect().map(_.toString).toSet

    val clean = tmp("jv-clean")
    JoinViewWarehouse.materializeFrom(baseO, baseL, clean)
    val before = probeOf(clean)()
    JoinViewWarehouse.refreshLines(spark, incL, clean)
    val want = probeOf(clean)()
    assert(before != want, "degenerate: line refresh changed nothing")

    val p = tmp("jv")
    JoinViewWarehouse.materializeFrom(baseO, baseL, p)
    // refreshLines writes 2 parts: view deltas, line side state
    crashEveryWindow(2, () => JoinViewWarehouse.refreshLines(spark, incL, p),
      probeOf(p), before, want)
  }

  test("richlist: a dirty retract killed in every window is invisible; resume == clean run") {
    val c = t.customer
    val all = RichlistWarehouse.rowsOf(spark, Dir, c)
    val removed = RichlistWarehouse.rowsOf(spark, Dir,
      c.filter(BalanceWarehouse.isRetractedCust))
    def probeOf(p: String) = () => RichlistWarehouse
      .probe(spark, p).collect().map(_.toString).toSet

    val clean = tmp("rich-clean")
    RichlistWarehouse.refresh(all, clean)
    val before = probeOf(clean)()
    RichlistWarehouse.retract(spark, removed, clean, upstream = all)
    val want = probeOf(clean)()
    assert(before != want, "degenerate: the mod-3 retract removed no top holder")

    val p = tmp("rich")
    RichlistWarehouse.refresh(all, p)
    // the dirty retract writes 3 parts in ONE txn: negative totals,
    // tombstones, and the promotion refill
    crashEveryWindow(3,
      () => RichlistWarehouse.retract(spark, removed, p, upstream = all),
      probeOf(p), before, want)
  }

  test("minhash: a refresh killed in every window is invisible; resume == clean run (round 12 retrofit)") {
    val docs = t.documents
    val probeBatch = docs.filter(pmod(col("doc_id"), lit(10)) === 9)
    // the refresh batch PLANTS exact copies of probe docs under fresh
    // ids, so the refresh provably changes the probe answer (no
    // natural gen-8/gen-9 near-dup exists at this SF)
    val inc = probeBatch.limit(5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    def probeOf(p: String) = () => graft.dedup.MinHashWarehouse
      .probeAgainst(spark, probeBatch, p)
      .collect().map(_.toString).toSet

    val clean = tmp("mh-clean")
    graft.dedup.MinHashWarehouse.materializeFrom(docs, clean) // base split
    val before = probeOf(clean)()
    graft.dedup.MinHashWarehouse.refresh(inc, clean)
    val want = probeOf(clean)()
    assert(before != want,
      "degenerate: the planted duplicates changed no probe answer")

    val p = tmp("mh")
    graft.dedup.MinHashWarehouse.materializeFrom(docs, p)
    // refresh writes 2 parts: the shingle store and the banded index —
    // the OLD layout appended them sequentially with no marker, so a
    // crash between them served candidates with no shingle partner
    crashEveryWindow(2, () => graft.dedup.MinHashWarehouse.refresh(inc, p),
      probeOf(p), before, want)
  }

  /** The committed row count of `part` (0 when it has no live rows). */
  private def committedRows(p: String, part: String): Long =
    CommitLog.snapshot(spark, p).readOpt(part).map(_.count()).getOrElse(0L)

  test("minhash: a compact after a retract killed in every window is invisible; resume == clean run") {
    import graft.dedup.MinHashWarehouse
    val removed = t.documents.filter(MinHashWarehouse.isRetractedDoc).select(col("doc_id"))
    // the probe plus the physical state a compact changes, so the
    // pre- and post-compact states differ although the probe does not
    def probeOf(p: String) = () => MinHashWarehouse.incrementalDedup(spark, Dir, p)
      .collect().map(_.toString).toSet ++ Set(
        s"docs=${committedRows(p, s"$p.docs")}", s"tomb=${committedRows(p, s"$p.tomb")}")

    val clean = tmp("mhc-clean")
    MinHashWarehouse.materialize(spark, Dir, clean)
    MinHashWarehouse.retract(removed, clean)
    val before = probeOf(clean)()
    MinHashWarehouse.compact(spark, clean)
    val want = probeOf(clean)()
    assert(before != want, "degenerate: the compact removed no row")

    val p = tmp("mhc")
    MinHashWarehouse.materialize(spark, Dir, p)
    MinHashWarehouse.retract(removed, p)
    // the compact writes 2 parts: the `.docs` replace and the banded
    // index replace
    crashEveryWindow(2, () => MinHashWarehouse.compact(spark, p),
      probeOf(p), before, want)
  }

  test("ivf: a compact after a streamed batch and a retract killed in every window is invisible; resume == clean run") {
    import graft.similarity.IvfWarehouse
    val vecs = t.embeddings.select(col("vec_id"),
      graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      .localCheckpoint()
    val base = vecs.filter(pmod(col("vec_id"), lit(10L)) < 8)
    val batch = vecs.filter(pmod(col("vec_id"), lit(10L)) >= 8)
    val removed = vecs.filter(pmod(col("vec_id"), lit(13L)) === 4).select(col("vec_id"))
    val qv = vecs.filter(col("vec_id") === 0).head().getSeq[Double](1).toArray
    def probeOf(p: String) = () => IvfWarehouse.probe(spark, p, qv)
      .collect().map(_.toString).toSet ++ Set(
        s"lists=${committedRows(p, p)}", s"tomb=${committedRows(p, s"$p.tomb")}",
        s"stream=${CommitLog.history(spark, p).filter(col("part") === ".stream")
          .collect().map(_.getAs[String]("kind")).mkString(",")}")
    def build(p: String): Unit = {
      IvfWarehouse.materializeFrom(base, p)
      // the streaming twin's fold of batch 0: the rows and the id commit together
      assert(IvfWarehouse.refreshTxn(spark, batch, p, Some(0L)))
      IvfWarehouse.retract(removed, p)
    }

    val clean = tmp("ivfc-clean")
    build(clean)
    val before = probeOf(clean)()
    IvfWarehouse.compact(spark, clean)
    val want = probeOf(clean)()
    assert(before != want, "degenerate: the compact removed no row")

    val p = tmp("ivfc")
    build(p)
    // the compact writes 2 parts: the posting-list replace and the
    // `.stream` id fold
    crashEveryWindow(2, () => IvfWarehouse.compact(spark, p),
      probeOf(p), before, want)
    assert(!IvfWarehouse.refreshTxn(spark, batch, p, Some(0L)),
      "the compact forgot the committed batch id")
  }

  test("sketch lane: a compact killed in every window is invisible; resume == clean run (round 12 — the destructive-overwrite fix)") {
    // StatsWarehouse stands in for the whole single-part sketch lane
    // (Hll/Mg/Stats/Pca compact all route through the same one-replace
    // transaction now).  The OLD compact was read -> localCheckpoint ->
    // overwrite ONTO THE SAME PATH: a crash after the overwrite's
    // delete lost the standing index outright — strictly worse than
    // torn state, because no pre-verb state was left to serve.
    import graft.operators.StatsWarehouse
    val d = t.documents
    val p = tmp("stats")
    StatsWarehouse.materializeFrom(d.filter(StatsWarehouse.isBase), p)
    StatsWarehouse.refresh(spark, d.filter(!StatsWarehouse.isBase), p)
    def probe() = StatsWarehouse.statsProbe(spark, p)
      .collect().map(_.toString).toSet
    val before = probe()
    // compact writes 1 part (the merged replace)
    crashEveryWindow(1, () => StatsWarehouse.compact(spark, p),
      () => probe(), before, before) // compact is probe-INVARIANT
    // and the compacted state really is one generation: the committed
    // read now lists exactly one root
    val roots = CommitLog.snapshot(spark, p).read(p)
      .queryExecution.sparkPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths)
    assert(roots.size == 1, s"compact left ${roots.size} live generations")

    // HllWarehouse compact through the same windows — the other
    // sketch shape (binary register states, estimate-level probe)
    import graft.operators.HllWarehouse
    val e = t.events
    val hp = tmp("hll")
    HllWarehouse.materializeFrom(e.filter(HllWarehouse.isBase), hp)
    HllWarehouse.refresh(spark, e.filter(!HllWarehouse.isBase), hp)
    def hprobe() = HllWarehouse.probe(spark, hp)
      .collect().map(_.toString).toSet
    val hBefore = hprobe()
    crashEveryWindow(1, () => HllWarehouse.compact(spark, hp),
      () => hprobe(), hBefore, hBefore)
  }

  /** Every part of the edge warehouse at `p` as strings keyed by its
    * suffix: edges with their generation, labels, and each index's
    * rows (doc ids where the rows carry text or signatures). */
  private def edgeState(p: String) = () => {
    val snap = CommitLog.snapshot(spark, p)
    Seq("" -> Seq("a_id", "b_id", "gen"), ".labels" -> Seq("doc_id", "group_id"),
        ".txt" -> Seq("doc_id"), ".edpfx" -> Seq("doc_id", "len", "hsh"),
        ".edstarved" -> Seq("doc_id"), ".mh.docs" -> Seq("doc_id"),
        ".mh" -> Seq("doc_id", "band", "bucket"))
      .flatMap { case (sfx, cols) =>
        snap.read(p + sfx).select(cols.map(col): _*).collect().map(r => s"$sfx:$r")
      }.toSet
  }

  private def edgeBase = t.documents.filter(pmod(col("doc_id"), lit(10)) < 8)
  private def edgeInc = t.documents.filter(pmod(col("doc_id"), lit(10)) >= 8)

  test("edge: a refresh killed in every window is invisible; resume == clean run") {
    val clean = tmp("edge-clean")
    EdgeWarehouse.ingest(spark, edgeBase, clean)
    val before = edgeState(clean)()
    EdgeWarehouse.refresh(spark, edgeInc, clean)
    val want = edgeState(clean)()
    assert(before != want, "degenerate: refresh changed nothing")

    val p = tmp("edge")
    EdgeWarehouse.ingest(spark, edgeBase, p)
    // refresh writes 6 parts: delta edges, .mh.docs, .mh, .edpfx,
    // .edstarved and .txt
    crashEveryWindow(6, () => EdgeWarehouse.refresh(spark, edgeInc, p),
      edgeState(p), before, want)
  }

  test("edge: a compact killed in every window is invisible; resume == clean run") {
    def build(p: String): Unit = {
      EdgeWarehouse.ingest(spark, edgeBase, p)
      EdgeWarehouse.refresh(spark, edgeInc, p)
    }
    val clean = tmp("edgec-clean")
    build(clean)
    val before = edgeState(clean)()
    EdgeWarehouse.compact(spark, clean)
    val want = edgeState(clean)()
    assert(before != want, "degenerate: compact changed nothing")

    val p = tmp("edgec")
    build(p)
    // compact writes 2 parts: the deduped edges and the folded labels
    crashEveryWindow(2, () => EdgeWarehouse.compact(spark, p),
      edgeState(p), before, want)
  }

  test("edge: a retract killed in every window is invisible; resume == clean run") {
    val removed = t.documents.filter(EdgeWarehouse.isRetractedDoc).select(col("doc_id"))
    def build(p: String): Unit = {
      EdgeWarehouse.ingest(spark, edgeBase, p)
      EdgeWarehouse.refresh(spark, edgeInc, p)
    }
    val clean = tmp("edger-clean")
    build(clean)
    val before = edgeState(clean)()
    EdgeWarehouse.retract(spark, removed, clean)
    val want = edgeState(clean)()
    assert(before != want, "degenerate: retract changed nothing")

    val p = tmp("edger")
    build(p)
    // retract writes 7 parts: edges, labels, .txt, .edpfx, .edstarved,
    // .mh.docs and .mh
    crashEveryWindow(7, () => EdgeWarehouse.retract(spark, removed, p),
      edgeState(p), before, want)
  }

  test("bloom: a compact killed in every window is invisible; resume == clean run") {
    val d = t.documents.select(col("doc_id"), col("text"),
      pmod(TrainPrep.contentHash(col("text")), lit(100L)).as("bucket"))
    // the merged filter's digest and the generation row count
    def state(p: String) = () => {
      val bos = new java.io.ByteArrayOutputStream()
      BloomWarehouse.mergedFilter(spark, p).writeTo(bos)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(bos.toByteArray).map("%02x".format(_)).mkString
      Set(s"bytes=$digest", s"rows=${committedRows(p, p)}")
    }
    def build(p: String): Unit = {
      BloomWarehouse.materializeFrom(spark, d.filter(col("bucket") >= 90 && col("bucket") < 95), p)
      BloomWarehouse.refresh(spark, d.filter(col("bucket") >= 95), p)
    }
    val clean = tmp("bloom-clean")
    build(clean)
    val before = state(clean)()
    BloomWarehouse.compact(spark, clean)
    val want = state(clean)()
    assert(before != want, "degenerate: compact left the generation rows as they were")

    val p = tmp("bloom")
    build(p)
    // compact writes 1 part: the merged row
    crashEveryWindow(1, () => BloomWarehouse.compact(spark, p),
      state(p), before, want)
  }

  test("concurrent reader: a probe pinned before a refresh commits keeps the pre-refresh answer (quantile + bm25, beyond BalanceWarehouse)") {
    // QuantileWarehouse — the windowed-exact shape
    val e = t.events
    val qp = tmp("conc-q")
    QuantileWarehouse.materializeFrom(e.filter(QuantileWarehouse.isBase), qp)
    val pinnedQ = QuantileWarehouse.probe(spark, qp) // snapshot pinned NOW
    val beforeQ = pinnedQ.collect().map(_.toString).toSet
    QuantileWarehouse.refresh(spark, e.filter(!QuantileWarehouse.isBase), qp)
    // collected AFTER the commit: the pinned plan still serves the old state
    assert(pinnedQ.collect().map(_.toString).toSet == beforeQ,
      "a committed refresh tore a pinned quantile probe")
    val freshQ = QuantileWarehouse.probe(spark, qp).collect().map(_.toString).toSet
    assert(freshQ != beforeQ, "degenerate: refresh changed no quantile")

    // QuantileWarehouse again, across COMPACT (review r11: compact no
    // longer vacuums inline, so a probe pinned before it keeps its
    // directories — physical reclaim is the caller's drained retention
    // verb)
    val pinnedQ2 = QuantileWarehouse.probe(spark, qp)
    val beforeQ2 = pinnedQ2.collect().map(_.toString).toSet
    QuantileWarehouse.compact(spark, qp)
    assert(pinnedQ2.collect().map(_.toString).toSet == beforeQ2,
      "a committed compact tore a pinned probe (inline vacuum regression)")

    // Bm25Warehouse — the multi-part index shape: the pinned snapshot
    // must hold postings+df+stats TOGETHER (no torn denominator)
    val docs = t.documents
    val bp = tmp("conc-b")
    Bm25Warehouse.materializeFrom(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) < 8), bp)
    val pinnedB = Bm25Warehouse.probeIncoming(spark, Dir, bp)
    val beforeB = pinnedB.collect().map(_.toString).toSet
    Bm25Warehouse.retract(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) === 7), bp)
    assert(pinnedB.collect().map(_.toString).toSet == beforeB,
      "a committed retract tore a pinned bm25 probe")
    assert(Bm25Warehouse.probeIncoming(spark, Dir, bp)
      .collect().map(_.toString).toSet != beforeB,
      "degenerate: the retract changed no score")
  }
}
