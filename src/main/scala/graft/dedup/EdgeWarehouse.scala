package graft.dedup

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{CommitLog, Materialized, StreamTwin, Tables}

/** The dup-pair EDGE SET at rest — the shared input of the whole
  * connected-components family — in TWO forms:
  *
  *  1. the once-per-JVM shared materialization (`edges`) that
  *     `d_dedup_groups` and `d_split_leakage_safe` read (the
  *     Materialized pattern — fcd's collector-writes-once /
  *     services-read contract, reference: src/collector/dashboard/
  *     collectDashboard.ts);
  *  2. the MAINTAINED warehouse (`ingest`/`refresh`/`compact`/
  *     `retract`) that closes the crawl loop's grouping leg: delta
  *     edges are NOT derived by re-running corpus-wide generation and
  *     splitting the result — they are assembled at O(batch) from the
  *     SAME probe machinery the index warehouses serve (MinHash banded
  *     probe for the Jaccard channel, the exact-hash equi-join, and a
  *     frozen-order Ed-Join probe for the character channel).
  *     `d_dedup_groups_incremental` reads STANDING LABELS + DELTA
  *     EDGES at rest and runs only the contracted fold.
  *
  * Maintained layout: one CommitLog base at `path`, and every verb is
  * ONE transaction over the parts it touches, so a verb killed at any
  * point is invisible and re-running it converges with a clean run.
  *  - `<path>`          — (a_id, b_id, gen) edge rows partitioned by
  *                        `gen`: 0 for the ingested or compacted base,
  *                        the refresh's transaction generation (≥ 1)
  *                        for its delta edges;
  *  - `<path>.labels`   — standing CC labels over the base edges;
  *  - `<path>.mh` / `<path>.mh.docs` — the J-channel MinHash-LSH index
  *                        of standing docs (MinHashWarehouse layout);
  *  - `<path>.txt`      — (doc_id, len, band, h, text): the corpus
  *                        membership table (the re-crawl guard reads
  *                        it), md5 for the exact channel, length band
  *                        for the Ed starved stratum, text for Ed
  *                        verification (a warehouse may hold standing
  *                        content at rest; a probe never re-reads or
  *                        re-derives it from the SOURCE corpus);
  *  - `<path>.edpfx`    — standing Ed-Join prefix rows (doc_id, len,
  *                        hsh): each doc's q·d+1 rarest surviving
  *                        char-4-gram hashes under the FROZEN order;
  *  - `<path>.edstarved`— standing docs with ≤ q·d surviving prefix
  *                        grams (the unconditional-completeness
  *                        fallback population);
  *  - `<path>.edfreq` / `<path>.edmeta` — the FROZEN char-gram
  *                        frequency table and its df cap;
  *  - `<path>.stream`   — the streaming twin's committed batch ids.
  *
  * The FROZEN-ORDER Ed-Join argument (the piece that makes the
  * character channel batch-vs-standing instead of corpus-rescan):
  * AllPairs/Ed-Join completeness needs only that both docs rank their
  * grams by the SAME total order (EditDist's Scaladoc: "ANY consistent
  * global order") — it does not need that order to reflect current
  * corpus frequencies.  So the order (freq, hsh) is FROZEN at ingest
  * (the PQ/IVF frozen-quantizer stance): standing prefix rows are
  * computed once when a doc enters, a batch's prefix rows attach
  * frozen freqs (unseen grams → freq 0, i.e. rarest — consistent on
  * both sides because a gram's frozen freq is a pure table lookup),
  * and the candidate join is batch-prefix ⋈ standing-prefix on the
  * 8 B gram hash with the |Δlen| ≤ d filter inside.  The df cap uses
  * the frozen threshold on both sides, so capped-ness agrees; capped
  * grams sort last (freq order), so the smallest COMMON gram of a
  * qualifying pair is uncapped and inside both 41-row prefixes —
  * the EditDist.stages argument verbatim, under the frozen order.
  * Docs left with ≤ q·d surviving grams fall back to the length-band
  * stratum against the whole other side (band = ⌊len/(d+1)⌋, 3 bands
  * probed — ed ≤ d ⇒ band diff ≤ 1), the same unconditional fallback
  * the inline operator carries.  Every candidate is verified with
  * banded levenshtein, so any complete candidate superset yields
  * IDENTICAL final pairs — which is why refresh == one-shot
  * `nearDupEdges(base ∪ batch)` holds bit-for-bit (EdgeWarehouseSpec
  * pins it, multi-generation included; the J channel's share of that
  * claim is the banding-recall-1.0 guard the spec asserts first).
  *
  * Scale: a refresh costs O(batch) signing/gramming + equi-joins
  * against narrow at-rest indexes (banded rows, 41-row prefixes, a
  * one-row-per-doc hash/band table) — never a corpus rescan, never an
  * all-pairs stage.  The edge table is PAIRS-sized; the labels table
  * is corpus-rows × 16 bytes.  The starved stratum is empty on
  * Gopher-filtered corpora (min doc length clears q·d + q − 2).
  */
object EdgeWarehouse {

  // ---------------------------------------------------------------
  // Form 1: the shared once-per-JVM materialization (d_dedup_groups /
  // d_split_leakage_safe).
  // ---------------------------------------------------------------

  /** Generate-and-commit: the tri-channel edge set of `dir`'s
    * `documents`, as (a_id, b_id) rows at `path`. */
  def materialize(spark: SparkSession, dir: String, path: String): Unit =
    CommitLog.transaction(spark, path)(
      _.replace(Dedup.nearDupEdges(Tables(spark, dir).documents), path))

  /** The edge set at rest, materializing on first use (per JVM per
    * source dir).  Pure read on every later call. */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    val p = Materialized.pathFor("dup_edges", dir)(materialize(spark, dir, _))
    CommitLog.snapshot(spark, p).read(p)
  }

  // ---------------------------------------------------------------
  // Form 2: the maintained warehouse (ingest → refresh → compact).
  // ---------------------------------------------------------------

  private val Q = 4 // char-gram width (EditDist's q)
  private val D = 10 // edit budget
  private val PrefixLen = Q * D + 1 // 41
  private val BandW = D + 1
  private val MaxDfRatio = 0.1

  private def labelsPath(p: String) = s"$p.labels"
  private def mhPath(p: String) = s"$p.mh"
  private def txtPath(p: String) = s"$p.txt"
  private def pfxPath(p: String) = s"$p.edpfx"
  private def starvedPath(p: String) = s"$p.edstarved"
  private def freqPath(p: String) = s"$p.edfreq"
  private def metaPath(p: String) = s"$p.edmeta"

  private def charGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), length(col("text")).as("len"),
      explode(graft.functions.GramHashes(split(col("text"), ""), Q)).as("hsh"))

  private def txtRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), length(col("text")).as("len"),
      floor(length(col("text")) / BandW).as("band"),
      md5(col("text")).as("h"), col("text"))

  /** Prefix rows + starved docs of `docs` under the frozen order.
    * rn is assigned over ALL grams (capped included — they sort last,
    * so surviving positions match EditDist.stages' prefix-then-cap
    * sequencing), then the frozen df cap filters.  `grams` is the
    * batch's (doc_id, len, hsh) frame, grammed once by the caller. */
  private def edPrefixAndStarved(docs: DataFrame, freq: DataFrame,
      capFreq: Double, grams: DataFrame): (DataFrame, DataFrame) = {
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("freq"), col("hsh"))
    val pfx = grams
      .join(freq, Seq("hsh"), "left")
      .withColumn("freq", coalesce(col("freq"), lit(0L)))
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= PrefixLen && col("freq") <= capFreq)
      .select(col("doc_id"), col("len"), col("hsh"))
      .localCheckpoint() // shared by the prefix write, the cross join and the starved count
    val nSur = pfx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sur"))
    val starved = docs
      .select(col("doc_id"), length(col("text")).as("len"))
      .join(nSur, Seq("doc_id"), "left")
      .filter(coalesce(col("n_sur"), lit(0L)) <= Q.toLong * D)
      .select(col("doc_id"), col("len"))
    (pfx, starved)
  }

  /** INGEST: base edges (the inline tri-channel generation — the
    * one-time cost when the corpus is first indexed), standing labels,
    * and every probe-side index the refreshes will equi-join, in one
    * transaction. */
  def ingest(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    val base = docs.localCheckpoint() // shared by the edges, the labels and every index
    // one gram pass: the staged Ed plan runs once over the pinned
    // grams, and at ingest the frozen order IS the corpus order, so
    // the plan's own freq/prefix/starved frames are the frozen index
    // rows (ingest's freq covers every gram of base; the df cap is the
    // same greatest(n·0.1, 20) on both paths — EdgeWarehouseSpec's
    // refresh == one-shot pin covers the claim)
    val shh = charGrams(base).localCheckpoint() // shared by the Ed plan's freq and prefix stages
    val ed = EditDist.stages(base, d = D, grams = Some(shh), pinPrefix = true)
    val edges = Dedup.nearDupEdgesWith(base, ed.pairs.select(col("a_id"), col("b_id")))
      .localCheckpoint() // shared by the edge part and the labels' CC
    val nDocs = base.count()
    val capFreq = math.max(nDocs * MaxDfRatio, 20.0)
    CommitLog.transaction(spark, path) { t =>
      t.replace(edges.withColumn("gen", lit(0)), path, Seq("gen"))
      t.replace(Dedup.connectedComponents(base.select(col("doc_id")), edges),
        labelsPath(path))
      MinHashWarehouse.materializeIn(t, base, mhPath(path))
      t.replace(txtRows(base), txtPath(path))
      t.replace(ed.freq, freqPath(path))
      t.replace(spark.range(1).select(lit(capFreq).as("cap_freq"), lit(nDocs).as("n_docs")),
        metaPath(path))
      t.replace(ed.prefix.select(col("doc_id"), col("len"), col("hsh")), pfxPath(path))
      t.replace(ed.starved.select(col("doc_id"), col("len")), starvedPath(path))
    }
  }

  /** REFRESH: assemble the batch's delta edges from the probe
    * machinery (no corpus rescan, no generation re-run) and, in the
    * same transaction, append them as a new generation and fold the
    * batch into the standing indexes, so the NEXT batch matches this
    * one.
    *
    * The crawl contract — batch doc_ids must be NEW to the corpus — is
    * enforced: one O(batch) semi-join against `.txt` throws on any
    * re-crawled id before anything is written (a violated contract
    * would otherwise append duplicate index rows and emit self-pair
    * edges; EdgeWarehouseSpec drives it). */
  def refresh(spark: SparkSession, batch: DataFrame, path: String): Unit =
    refreshTxn(spark, batch, path, batchId = None)

  /** The refresh transaction, committing `batchId` (when given) in
    * the same atomic marker; false iff that id was already committed
    * and the batch was skipped. */
  private[graft] def refreshTxn(spark: SparkSession, batch0: DataFrame,
      path: String, batchId: Option[Long]): Boolean =
    StreamTwin.refreshTxnWith(spark, path, batchId) { t =>
      val snap = CommitLog.snapshot(spark, path)
      val batch = batch0.select(col("doc_id"), col("text"))
        .localCheckpoint() // shared by the guard, every channel and every index fold
      val bTxt = txtRows(batch).localCheckpoint() // shared by the exact, Ed and .txt legs
      val standingTxt = snap.read(txtPath(path))

      // Formatting goes through Row.get, not getLong: the guard must
      // report a wrongly-TYPED doc_id, not die on the cast
      val recrawled = batch.select(col("doc_id"))
        .join(standingTxt.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .limit(5).collect().map(r => String.valueOf(r.get(0)))
      if (recrawled.nonEmpty)
        throw new IllegalStateException(
          "EdgeWarehouse.refresh: batch contains doc_ids already in the corpus " +
            s"(sample: ${recrawled.mkString(", ")}) — the crawl contract requires " +
            "fresh ids; re-crawled content must arrive under a new id (or via a " +
            "retract-then-refresh cycle), not as a duplicate row")

      // J channel: banded probe against the index at rest (cross) +
      // banded-verified generation within the batch
      val jCross = MinHashWarehouse.probeWith(snap, batch, mhPath(path))
        .select(col("new_id").as("x"), col("base_id").as("y"))
      val jWithin = Dedup.minhashVerifiedOf(batch)
        .select(col("a_id"), col("b_id"))

      // exact channel: md5 equi-join against the at-rest hash column
      val exCross = bTxt.select(col("doc_id").as("x"), col("h"))
        .join(standingTxt.select(col("doc_id").as("y"), col("h")), Seq("h"))
        .select(col("x"), col("y"))
      val exWithin = bTxt.as("p")
        .join(bTxt.as("q"), col("p.h") === col("q.h") &&
          col("p.doc_id") < col("q.doc_id"))
        .select(col("p.doc_id").as("a_id"), col("q.doc_id").as("b_id"))

      // Ed channel: frozen-order prefix collision (cross) + the
      // length-band starved strata in BOTH directions + EditDist's
      // full staged plan within the batch
      val capFreq = snap.read(metaPath(path)).head().getDouble(0)
      val bShh = charGrams(batch).localCheckpoint() // shared by the frozen prefix and the within-batch Ed plan
      val (bPfx, bStarved) = edPrefixAndStarved(batch,
        snap.read(freqPath(path)), capFreq, bShh)
      val sPfx = snap.read(pfxPath(path))
      val pfxCross = bPfx.as("a")
        .join(sPfx.as("b"), col("a.hsh") === col("b.hsh") &&
          abs(col("a.len") - col("b.len")) <= D)
        .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      def bandProbes(starvedDocs: DataFrame): DataFrame =
        starvedDocs.select(col("doc_id"), col("len"),
          explode(array(floor(col("len") / BandW) - 1, floor(col("len") / BandW),
            floor(col("len") / BandW) + 1)).as("band"))
      val sStarved = snap.read(starvedPath(path))
      val starvedCross =
        bandProbes(bStarved).as("a")
          .join(standingTxt.as("b"), col("a.band") === col("b.band") &&
            abs(col("a.len") - col("b.len")) <= D)
          .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
        .union(
          bandProbes(sStarved).as("a")
            .join(bTxt.as("b"), col("a.band") === col("b.band") &&
              abs(col("a.len") - col("b.len")) <= D)
            .select(col("b.doc_id").as("x"), col("a.doc_id").as("y")))
      val edCross = pfxCross.union(starvedCross).distinct()
        .join(bTxt.select(col("doc_id").as("x"), col("text").as("x_text")), Seq("x"))
        .join(standingTxt.select(col("doc_id").as("y"), col("text").as("y_text")), Seq("y"))
        .filter(levenshtein(col("x_text"), col("y_text"), D) >= 0)
        .select(col("x"), col("y"))
      val edWithin = EditDist.stages(batch, d = D, grams = Some(bShh)).pairs
        .select(col("a_id"), col("b_id"))

      // the guard proved every standing endpoint is outside the batch;
      // a pair found by several channels is emitted once
      val cross = jCross.union(exCross).union(edCross)
        .select(least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"))
      val delta = cross.union(jWithin).union(exWithin).union(edWithin).distinct()
      t.append(delta.withColumn("gen", lit(t.gen.toInt)), path, Seq("gen"))
      MinHashWarehouse.refreshIn(t, batch, mhPath(path))
      t.append(bPfx, pfxPath(path))
      t.append(bStarved, starvedPath(path))
      t.append(bTxt, txtPath(path))
    }

  /** The standing labels and the delta generations at rest — what the
    * registered incremental fold reads (nothing else).  Each read pins
    * its own snapshot. */
  def standingLabels(spark: SparkSession, path: String): DataFrame =
    CommitLog.snapshot(spark, path).read(labelsPath(path))

  def deltaEdges(spark: SparkSession, path: String): DataFrame =
    deltasOf(CommitLog.snapshot(spark, path), path)

  def allEdges(spark: SparkSession, path: String): DataFrame =
    CommitLog.snapshot(spark, path).read(path).select(col("a_id"), col("b_id"))

  private def deltasOf(snap: CommitLog.Snapshot, path: String): DataFrame =
    snap.read(path).filter(col("gen") >= 1).select(col("a_id"), col("b_id"))

  /** The compacted state of `snap`: (labels, edges) with every delta
    * generation folded into the standing labels (the contracted CC +
    * broadcast relabel — foldIntoComponents' machinery) and every edge
    * row deduped into gen 0.  New standing nodes come from the `.txt`
    * store (every doc ever ingested or refreshed), never from the
    * source corpus. */
  private def compacted(snap: CommitLog.Snapshot, path: String): (DataFrame, DataFrame) = {
    val standing = snap.read(labelsPath(path))
    val newNodes = snap.read(txtPath(path)).select(col("doc_id"))
      .join(standing.select(col("doc_id")), Seq("doc_id"), "left_anti")
    (Dedup.foldIntoComponents(standing, newNodes, deltasOf(snap, path)),
      snap.read(path).select(col("a_id"), col("b_id")).distinct().withColumn("gen", lit(0)))
  }

  /** COMPACT: one transaction replacing the edges and the labels with
    * their compacted state, so a post-compact incremental read (labels
    * + zero deltas) serves the identical labels.  Single-writer
    * maintenance window assumed. */
  def compact(spark: SparkSession, path: String): Unit = {
    val snap = CommitLog.snapshot(spark, path)
    val (labels, edges) = compacted(snap, path)
    CommitLog.transaction(spark, path) { t =>
      t.replace(edges, path, Seq("gen"))
      t.replace(labels, labelsPath(path))
      StreamTwin.compactIds(snap, t, path)
    }
  }

  /** RETRACT — the delete verb on the GRAPH rung, where the derived
    * state is not a sum but CC labels.  Removing documents can SPLIT
    * components (a removed doc may be the bridge holding one together)
    * and can change a surviving component's canonical min-id label —
    * neither is expressible as a delta fold, so the contract is a
    * PRUNED RECOMPUTE: only components that CONTAIN a removed doc
    * re-run CC (over their surviving members and surviving edges);
    * every untouched component's labels pass through unread.  The
    * standing indexes drop the removed docs' rows (each row depends
    * only on its own doc), so later refreshes probe exactly the
    * survivor corpus.  Contract, spec-pinned: labels-after-retract ==
    * full CC recompute over corpus ∖ removed, row-for-row.
    *
    * One transaction over every part.  Cost class: COMPACT-class
    * maintenance (it starts from the compacted state, so outstanding
    * delta generations are folded), with the re-CC itself pruned to
    * O(affected components) — at production dup rates components are
    * tiny, so the re-CC is O(removed).  Single-writer maintenance
    * window assumed. */
  def retract(spark: SparkSession, removedIds: DataFrame, path: String): Unit = {
    val snap = CommitLog.snapshot(spark, path)
    val (compactLabels, compactEdges) = compacted(snap, path)
    val removed = removedIds.select(col("doc_id")).distinct()
      .localCheckpoint() // shared by every part's anti-join
    val labels = compactLabels.localCheckpoint() // shared by affected, survivors and the pass-through
    val affected = labels.join(removed, Seq("doc_id"), "left_semi")
      .select(col("group_id")).distinct()
      .localCheckpoint() // shared by the survivors, the affected edges and the pass-through
    val survivorsInAffected = labels
      .join(affected, Seq("group_id"), "left_semi")
      .join(removed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    // surviving edges of affected components: endpoints share a
    // component, so membership checks via a_id's standing label
    val edges = compactEdges
      .join(removed.select(col("doc_id").as("a_id")), Seq("a_id"), "left_anti")
      .join(removed.select(col("doc_id").as("b_id")), Seq("b_id"), "left_anti")
      .select(col("a_id"), col("b_id"), col("gen"))
      .localCheckpoint() // shared by the affected edges and the edge part
    val affectedEdges = edges
      .join(labels.select(col("doc_id").as("a_id"), col("group_id")), Seq("a_id"))
      .join(affected, Seq("group_id"), "left_semi")
      .select(col("a_id"), col("b_id"))
    val relabeled = Dedup.connectedComponents(survivorsInAffected, affectedEdges)
    CommitLog.transaction(spark, path) { t =>
      t.replace(edges, path, Seq("gen"))
      t.replace(labels.join(affected, Seq("group_id"), "left_anti")
        .select(col("doc_id"), col("group_id"))
        .union(relabeled.select(col("doc_id"), col("group_id"))), labelsPath(path))
      (Seq(txtPath(path), pfxPath(path), starvedPath(path)).map(_ -> Nil) ++
          MinHashWarehouse.parts(mhPath(path))).foreach { case (part, pcols) =>
        t.replace(snap.read(part).join(removed, Seq("doc_id"), "left_anti"), part, pcols)
      }
      StreamTwin.compactIds(snap, t, path)
    }
  }

  /** The retraction slice for the registered query — cross-cutting
    * (~8% of docs, hitting base and refreshed generations alike). */
  private[graft] def isRetractedDoc = pmod(col("doc_id"), lit(13)) === 0

  /** The registered `d_dedup_groups_retracted` build: the full
    * maintained loop (ingest base, refresh incoming, compact), then
    * retract the cross-cutting slice. */
  def builtRetractedPath(spark: SparkSession, dir: String): String =
    Materialized.pathFor("edge_warehouse_retracted", dir) { p =>
      val docs = Tables(spark, dir).documents
      ingest(spark, docs.filter(MinHashWarehouse.isBase), p)
      refresh(spark, docs.filter(!MinHashWarehouse.isBase), p)
      compact(spark, p)
      retract(spark, docs.filter(isRetractedDoc).select(col("doc_id")), p)
    }

  /** Registered `d_dedup_groups_retracted`: the survivor corpus's dup
    * groups read from the retracted labels at rest — ORACLED with
    * d_dedup_groups' recursive-CTE SQL VERBATIM over the survivor
    * predicate (rebuild-on-base∖removed; the pruned re-CC must be
    * indistinguishable from the full recompute). */
  def retractedGroups(spark: SparkSession, dir: String): DataFrame = {
    val labels = standingLabels(spark, builtRetractedPath(spark, dir))
    labels.select(col("doc_id"), col("group_id"),
      count(lit(1)).over(Window.partitionBy(col("group_id"))).as("group_size"))
  }

  /** The refresh's ONLINE twin — the crawl stream maintaining the
    * edge warehouse in flight: each arriving micro-batch of (doc_id,
    * text) docs runs the refresh transaction, which commits the engine
    * batch id with the data (`StreamTwin.exactlyOnce`), so a redelivered
    * committed batch folds nothing.  The batching-invariance argument:
    * a pair's edge is emitted exactly once — in the generation of its
    * LATER endpoint, whose probe sees the earlier endpoint already
    * folded in — so ANY split of the same docs into micro-batches
    * reaches the identical edge SET (EdgeWarehouseSpec drives a
    * MemoryStream in two batches and pins equality with the one-shot
    * nearDupEdges).  Labels fold at compact cadence, exactly like the
    * batch loop. */
  def streamingRefresh(docs: DataFrame, path: String): org.apache.spark.sql.streaming.StreamingQuery =
    StreamTwin.exactlyOnce(docs, path, checkpointEvery = 32)(
      (s, batch, id) => { refreshTxn(s, batch, path, batchId = Some(id)); () })

  /** The once-per-JVM two-generation build for the registered
    * incremental query: ingest the base split, refresh the incoming
    * split — after which standing labels cover the base and one delta
    * generation sits at rest. */
  def builtPath(spark: SparkSession, dir: String): String =
    Materialized.pathFor("edge_warehouse", dir) { p =>
      val docs = Tables(spark, dir).documents
      ingest(spark, docs.filter(MinHashWarehouse.isBase), p)
      refresh(spark, docs.filter(!MinHashWarehouse.isBase), p)
    }
}
