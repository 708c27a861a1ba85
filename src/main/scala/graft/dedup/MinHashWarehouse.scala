package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Exact.roundx
import graft.functions.TextFunctions.words
import graft.sources.{CommitLog, Tables, Tombstones}

/** MinHash-LSH index of the historical corpus AT REST — the
  * incremental half of near-duplicate deduplication: a production
  * pipeline does not re-dedup 100 TB from scratch per crawl, it
  * dedups each INCOMING batch against the standing corpus and only
  * then (separately, with the doc-level d_dedup_* family) within the
  * batch itself.  The warehouse makes the standing side a one-time
  * ingest cost: signatures, band buckets and the exact-verify shingle
  * sets are computed once when a document enters the corpus, and no
  * probe ever re-reads or re-signs historical TEXT.
  *
  * Layout (the IvfWarehouse/LshWarehouse pattern):
  *  - `<path>.docs`: (doc_id, bands, shs) — per historical doc, the
  *    32-wide band-hash array and the distinct 3-gram shingle hashes
  *    (8 B each) that exact verification intersects;
  *  - `<path>` (index): (doc_id, bands, bucket) partitioned by
  *    `band` — the banded rows the incoming batch equi-joins.
  * Ingest and refresh also come in an `…In` form that writes
  * inside a caller's transaction, and the probe in a form that reads
  * through a caller's snapshot, so another member can keep the index
  * as parts of its own base (EdgeWarehouse's J channel).
  *
  * Probe shape at scale: incoming docs sign once (native MinHashSig,
  * localCheckpoint — bands and shingle hashes are leaves, never
  * re-evaluated per band slot), then ONE equi-join on (band, bucket)
  * against the index (8 B keys, shuffle bounded by index row width ~
  * tens of bytes, never by text), exactly-once candidates via
  * FirstEqualIndex, one 8 B-array intersect per candidate against the
  * at-rest shingle sets.  An incoming batch is corpus-shaped, so the
  * join SHUFFLES — partition pruning is the single-doc serving story
  * (LshWarehouse), not the nightly-batch story; what the warehouse
  * buys here is that the historical side's scan is the narrow index,
  * not the corpus.
  *
  * The base/incoming split on the test tables is doc_id mod 10
  * (8:2) — deterministic, so the oracle mirrors it exactly.
  *
  * RETRACTION (the doc-keyed rung of the retraction ladder; fcd
  * analogue: the collector's remove-vanished-rows step,
  * reference: src/collector/gov/removeDeletedProposals.ts:22, and the
  * takedown/right-to-be-forgotten verb any corpus pipeline needs):
  * `retract` appends doc_ids to a TOMBSTONE set (O(removed), no
  * standing row touched); probes drop tombstoned candidates with one
  * PRUNED anti-join — applied to the candidate PAIR set, so its cost
  * is O(probe candidates), never O(index); `compact` physically
  * removes the tombstoned rows from `.docs` and the banded index and
  * clears the tombstones.  Contract: probe-after-retract ==
  * probe-against-rebuild-on-(corpus ∖ removed) ROW-FOR-ROW (every row
  * of a removed doc depends only on that doc — no corpus statistics —
  * so pruning it IS the rebuild; MinHashWarehouseSpec pins it, and
  * pins compact's physical removal probe-invariant).  This is one
  * rung below BalanceWarehouse's bit-equal state subtraction and
  * above the Bloom/HLL/MG/KLL rebuild-only rung.
  */
object MinHashWarehouse {

  private def docsPath(path: String): String = s"$path.docs"
  private val Tomb = Tombstones("doc_id")

  /** Historical side of the split: doc_id ≡ 0..7 (mod 10). */
  private[graft] def isBase = pmod(col("doc_id"), lit(10)) < 8

  private def signedCols(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.MinHashSig
        .bandHashes(words(col("text")), 3, Dedup.MinhashK, Dedup.Bands).as("bands"),
      graft.functions.GramHashes(words(col("text")), 3).as("shs"))

  private def signed(docs: DataFrame): DataFrame =
    // bands/shs are leaves before any explode — the measured
    // ×Bands re-evaluation trap (see minhashBandCandidates)
    signedCols(docs).localCheckpoint()

  private def banded(signedDocs: DataFrame): DataFrame =
    signedDocs.select(col("doc_id"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "bucket")))

  /** The index parts with their partition columns; every row of each
    * is keyed by `doc_id`. */
  private[dedup] def parts(path: String): Seq[(String, Seq[String])] =
    Seq((docsPath(path), Nil), (path, Seq("band")))

  /** Ingest: sign the historical corpus once, write the primary store
    * and the banded index. */
  def materialize(spark: SparkSession, dir: String, path: String): Unit =
    materializeFrom(Tables(spark, dir).documents, path)

  /** Frame-level ingest (docs = (doc_id, text, …)) — shared by the
    * registered query and the stress probe's replicated corpus. */
  def materializeFrom(docs: DataFrame, path: String): Unit =
    materializeRaw(docs.filter(isBase), path)

  private def materializeRaw(docs: DataFrame, path: String): Unit =
    CommitLog.transaction(docs.sparkSession, path)(materializeIn(_, docs, path))

  /** Ingest every row of `docs` inside the caller's transaction `t`:
    * sign once, replace the store and the banded index at `path`
    * (a part of `t`'s base). */
  private[dedup] def materializeIn(t: CommitLog.Txn, docs: DataFrame, path: String): Unit = {
    val base = signed(docs)
    t.replace(base, docsPath(path))
    t.replace(banded(base), path, Seq("band"))
  }

  /** REFRESH — the missing last step of the crawl loop: fold an
    * ACCEPTED batch into the index at rest.  The layout is append-safe
    * by construction: every row in `.docs` and every banded index row
    * depends ONLY on its own document (signatures carry no corpus
    * statistics), so folding a batch is two appends — no standing row
    * is read, rewritten, or invalidated, and a probe started before
    * the refresh commits still sees a consistent (older) index.  Batch
    * doc_ids must be new to the corpus (the crawl contract: survivors
    * get fresh ids), exactly as a production ingest keyed by content
    * hash would guarantee. */
  def refresh(batch: DataFrame, path: String): Unit =
    CommitLog.transaction(batch.sparkSession, path)(refreshIn(_, batch, path))

  /** The refresh body inside the caller's transaction `t`. */
  private[dedup] def refreshIn(t: CommitLog.Txn, batch: DataFrame, path: String): Unit = {
    val b = signed(batch)
    t.append(b, docsPath(path))
    t.append(banded(b), path, Seq("band"))
  }

  /** RETRACT — remove docs from the standing index: append their ids
    * to the tombstone part.  O(removed) and append-only; the physical
    * rows disappear at the next `compact`, the LOGICAL removal is
    * immediate (every probe drops tombstoned candidates). */
  def retract(removedIds: DataFrame, path: String): Unit =
    Tomb.retract(removedIds, path)

  /** Drop tombstoned candidates: one anti-join on the candidate PAIR
    * set's base side — O(candidates), pruned far below index size;
    * with no tombstones the plan is unchanged. */
  private def dropTombstoned(snap: CommitLog.Snapshot, cand: DataFrame,
      path: String): DataFrame =
    Tomb.live(snap, cand, path, rowKey = "base_id")

  /** COMPACT — physically remove tombstoned rows from `.docs` and the
    * banded index, then clear the tombstone part, all in one CommitLog
    * transaction (`Tombstones.compact`).  Probes are bit-identical
    * before/after (they already excluded those candidates); O(index),
    * amortizing the retract verb's O(removed) appends; physical
    * reclaim = CommitLog.vacuum at the retention cadence. */
  def compact(spark: SparkSession, path: String): Unit =
    Tomb.compact(spark, path, parts(path))

  /** The retraction build for the registered `d_dedup_retracted`
    * query: index the base split, then retract every base doc with
    * doc_id ≡ 7 (mod 10) — after which the incoming probe must behave
    * exactly as if the index had been built on mod 0..6 only. */
  private[graft] def isRetractedDoc = pmod(col("doc_id"), lit(10)) === 7

  def materializeRetracted(spark: SparkSession, dir: String, path: String): Unit = {
    materialize(spark, dir, path)
    retract(Tables(spark, dir).documents.filter(isRetractedDoc)
      .select(col("doc_id")), path)
  }

  /** Registered `d_dedup_retracted`: the incremental probe against
    * the RETRACTED index — ORACLED with d_dedup_incremental's SQL
    * verbatim under the shrunken base predicate (rebuild-on-
    * base∖removed), the retraction ladder's doc-keyed rung made an
    * oracle-checked demonstration. */
  def retractedDedup(spark: SparkSession, dir: String, path: String): DataFrame =
    incrementalDedupFrom(spark, Tables(spark, dir).documents, path)

  /** Two-generation crawl-loop builder for the registered
    * `d_dedup_refresh` query: index the base split (doc_id ≡ 0..7 mod
    * 10), dedup generation A (≡ 8) against it, fold A's SURVIVORS —
    * the accepted docs — into the index.  Generation B (≡ 9) then
    * probes the refreshed index; a B-doc can match a standing base doc
    * OR an accepted A-doc, which is exactly the property a
    * probe-without-refresh pipeline silently loses. */
  def materializeRefreshed(spark: SparkSession, dir: String, path: String): Unit = {
    materialize(spark, dir, path)
    val batchA = Tables(spark, dir).documents
      .filter(pmod(col("doc_id"), lit(10)) === 8)
    val dupsA = probeAgainst(spark, batchA, path)
      .select(col("new_id").as("doc_id")).distinct()
    refresh(batchA.join(dupsA, Seq("doc_id"), "left_anti"), path)
  }

  /** Registered `d_dedup_refresh`: generation B against the refreshed
    * index (see materializeRefreshed). */
  def refreshedDedup(spark: SparkSession, dir: String, path: String): DataFrame =
    probeAgainst(spark, Tables(spark, dir).documents
      .filter(pmod(col("doc_id"), lit(10)) === 9), path)

  /** Dedup an incoming batch against the corpus at rest: banded
    * candidates (exactly-once via FirstEqualIndex), exact Jaccard
    * verify at J ≥ 0.8 intersecting the warehouse's shingle sets.
    * Output: (new_id, base_id, jaccard) — every incoming doc that
    * near-duplicates a historical one.  In-batch duplicates are the
    * doc-level family's job, deliberately not emitted here.
    *
    * Recall is the minhashVerified argument: a true J = 0.8 pair
    * escapes all 32 bands with p ≈ 5·10⁻⁸, so on the fixed test data
    * the candidate set covers the exact answer and the operator holds
    * a bit-exact SQL oracle (the naive cross join restricted to the
    * same split). */
  def incrementalDedup(spark: SparkSession, dir: String, path: String): DataFrame =
    incrementalDedupFrom(spark, Tables(spark, dir).documents, path)

  /** Frame-level probe — shared by the registered query and the
    * stress probe. */
  def incrementalDedupFrom(spark: SparkSession, docs: DataFrame, path: String): DataFrame =
    probeAgainst(spark, docs.filter(!isBase), path)

  /** Dedup an arbitrary batch frame against the index at `path`. */
  private[graft] def probeAgainst(spark: SparkSession, batch: DataFrame, path: String): DataFrame =
    probeWith(CommitLog.snapshot(spark, path), batch, path)

  /** The probe through the caller's snapshot: ONE snapshot pins index
    * + docs + tombstones, so a refresh committing (or dying) mid-probe
    * cannot tear the view. */
  private[graft] def probeWith(snap: CommitLog.Snapshot, batch: DataFrame,
      path: String): DataFrame =
    probeCore(batch, snap.read(path),
      snap.read(docsPath(path)), dropTombstoned(snap, _, path))

  /** The probe body over EXPLICIT index/docs frames — shared by the
    * standing probe and the snapshot (as-of) probe, so the two read
    * paths cannot drift. */
  private def probeCore(batch: DataFrame, idx: DataFrame,
      docsStore: DataFrame, dropTomb: DataFrame => DataFrame): DataFrame = {
    val in = signed(batch)
    val cand = dropTomb(banded(in).as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.band") === graft.functions.FirstEqualIndex(col("a.bands"), col("b.bands")))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("base_id")))
    cand
      .join(in.select(col("doc_id").as("new_id"), col("shs").as("a_shs")), Seq("new_id"))
      .join(docsStore
        .select(col("doc_id").as("base_id"), col("shs").as("b_shs")), Seq("base_id"))
      .withColumn("inter", size(array_intersect(col("a_shs"), col("b_shs"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_shs")) + size(col("b_shs")) - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("new_id"), col("base_id"), roundx(col("jaccard"), 4).as("jaccard"))
  }

  // ------------------------------------------------------------------
  // AS-OF READS — the DOC-KEYED rung's bitemporal case (a retraction
  // is an appended tombstone, so time travel must time-filter THREE
  // stores: index rows, shingle sets, AND tombstones).  Every
  // maintenance verb above is one CommitLog transaction, so "the
  // corpus as of generation g" is the committed fold with an as-of
  // cut — the protocol's time-travel verb (the BalanceWarehouse
  // contract).  A takedown is itself a
  // generation-stamped transaction: asOf(g < takedown) re-serves
  // matches against the later-removed docs (the reproducibility
  // contract — "which corpus did this training run dedup against"),
  // asOf(g >= takedown) excludes them; erasing history too =
  // CommitLog.vacuum past a compact (retention applies to as-of
  // readers, vacuum-safely).
  // ------------------------------------------------------------------

  /** The as-of probe: dedup `batch` against the corpus AS OF
    * generation `g` — index and shingle stores fold committed gens
    * <= g, and tombstones apply only if their takedown txn gen <= g
    * (a cut before any takedown reads an EMPTY tombstone set). */
  def probeAsOf(spark: SparkSession, batch: DataFrame, path: String,
      g: Int): DataFrame = {
    val snap = CommitLog.snapshot(spark, path)
    probeCore(batch,
      snap.read(path, asOfGen = g.toLong),
      snap.read(docsPath(path), asOfGen = g.toLong),
      Tomb.live(snap, _, path, rowKey = "base_id", asOfGen = g.toLong))
  }

  /** The three-generation build: gen 0 = base ingest (doc_id mod 10
    * in 0..6), gen 1 = refresh (mod 7 — after which the standing set
    * is the FULL base split), gen 2 = takedown of the mod-7 docs —
    * three plain transactions of the MAIN verbs; the CommitLog
    * allocates 0, 1, 2.  asOf(1) therefore equals
    * d_dedup_incremental's standing answer (matches against the
    * later-removed docs included), and the head equals
    * d_dedup_retracted's. */
  def builtGenPath(spark: SparkSession, dir: String): String =
    graft.sources.Materialized.pathFor("minhash_gen", dir) { p =>
      val d = Tables(spark, dir).documents
      materializeRaw(d.filter(pmod(col("doc_id"), lit(10)) < 7), p)
      refresh(d.filter(pmod(col("doc_id"), lit(10)) === 7), p)
      retract(d.filter(isRetractedDoc).select(col("doc_id")), p)
    }

  /** Registered `d_dedup_asof`: the incoming split deduped against
    * the corpus as of gen 1 — BEFORE the gen-2 takedown — served from
    * the post-takedown log; ORACLED with d_dedup_incremental's SQL
    * VERBATIM (the full-base predicate). */
  def asOfDedup(spark: SparkSession, dir: String, g: Int): DataFrame =
    probeAsOf(spark, Tables(spark, dir).documents.filter(!isBase),
      builtGenPath(spark, dir), g)

  /** The crawl STREAM deduping against the warehouse in flight —
    * `incrementalDedup`'s online twin: each arriving doc signs once,
    * its banded rows stream-static-join the narrow index, survivors
    * exact-verify against the at-rest shingle sets.  Every operator
    * here is a STATELESS projection or stream-static equi-join — no
    * watermark, no state store, nothing grows with stream length; the
    * doc-level cross-batch dedup state problem stays with
    * streamingDedupWithinWatermark, by design.
    *
    * The repartition barrier after signing stands in for the batch
    * path's localCheckpoint (illegal on a streaming frame):
    * CollapseProject cannot cross the exchange, so the MinHash loop
    * runs once per doc, not once per band slot (the measured ×Bands
    * trap), and past it bands/shs are plain attributes.  One narrow
    * micro-batch-sized shuffle is the price.  (MinHashWarehouseSpec
    * drives it from a MemoryStream across multiple batches and
    * asserts exact agreement with the batch probe.) */
  def streamingDedup(spark: SparkSession, docs: DataFrame, path: String): DataFrame = {
    // the static index side pins ONE committed snapshot at plan
    // construction — the stream's whole lifetime reads that fold
    // (maintenance landing mid-stream serves the next stream start)
    val snap = CommitLog.snapshot(spark, path)
    val banded = signedCols(docs)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("bands"), col("shs"),
        posexplode(col("bands")).as(Seq("band", "bucket")))
    dropTombstoned(snap, banded.as("a")
      .join(snap.read(path).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.band") === graft.functions.FirstEqualIndex(col("a.bands"), col("b.bands")))
      .select(col("a.doc_id").as("new_id"), col("a.shs").as("a_shs"),
        col("b.doc_id").as("base_id")), path)
      .join(snap.read(docsPath(path))
        .select(col("doc_id").as("base_id"), col("shs").as("b_shs")), Seq("base_id"))
      .withColumn("inter", size(array_intersect(col("a_shs"), col("b_shs"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_shs")) + size(col("b_shs")) - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("new_id"), col("base_id"), roundx(col("jaccard"), 4).as("jaccard"))
  }
}
