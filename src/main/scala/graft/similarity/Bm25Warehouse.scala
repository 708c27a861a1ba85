package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.MinHashWarehouse.isBase
import graft.functions.Exact.{roundx, sumx}
import graft.functions.TextFunctions.words
import graft.sources.{CommitLog, CountPart, Tables, Tombstones}

/** The BM25 posting table AT REST — the lexical index the warehouse
  * family was missing (MinHashWarehouse: J-dedup; LshWarehouse:
  * cosine; Ivf/PqWarehouse: ANN; this: term scoring).  The production
  * shape is benchmark decontamination at the PB-vs-MB asymmetry: the
  * standing corpus tokenizes ONCE at ingest into (term, doc, tf) rows
  * with df and |d| denormalized on, and every later probe — an eval
  * set, a dedup audit, a more-like-this batch — scores against the
  * index without ever re-reading corpus text.
  *
  * Layout (APPEND-ONLY — every part either never rewrites standing
  * rows or is a driver-scalar replace, so `refresh` can fold an
  * accepted crawl batch into the index at rest without re-reading any
  * historical text; the LSM/segment-merge stance).  Every maintenance
  * verb is ONE CommitLog transaction — postings + df + stats (+ tomb)
  * land atomically behind a commit marker, and probes pin a committed
  * snapshot across all four parts (WarehouseCommitSpec kills a
  * refresh between every pair of part writes and pins pre-refresh
  * probes bit-for-bit):
  *  - `<path>`: posting rows (term, doc_id, tf, len) partitioned by
  *    tb = `CountPart.bucket(term)` — term-hash buckets, so a probe
  *    whose term set maps to few buckets PRUNES partitions (the
  *    single-eval-item serving path; spec-asserted via listFiles).
  *    len rides each row (per-doc, append-safe); df deliberately does
  *    NOT — a denormalized df would be invalidated on every standing
  *    row by any append (the build/probe-drift class).
  *  - `<path>.df`: the (term, dfd) `CountPart`, same tb partitioning
  *    — the probe sums deltas per term over the pruned buckets, so a
  *    refresh appends its batch's df contribution instead of
  *    rewriting the vocabulary.  The probe-side sum is vocabulary-bounded ON THE
  *    PROBED BUCKETS — metadata-scale.  (The alternative — one
  *    (term, df) row kept current — needs an atomic swap of the whole
  *    df table per refresh; delta rows trade a tiny probe agg for
  *    pure appends.)
  *  - `<path>.stats`: one row (n, sl) — corpus size and total token
  *    count, the two scalars BM25's length normalization needs;
  *    refresh rewrites it from driver scalars (read 1 row + add the
  *    batch's two counts).
  *
  * Probe: query term sets join the pruned index ON term (Catalyst
  * picks broadcast for serving-batch-sized query sides, shuffle for
  * corpus-shaped ones — both correct; the index side never exceeds
  * the probed buckets), per-(query, doc) scores through the DECIMAL
  * route, top-k via WindowGroupLimit.  Arithmetic is the Bm25.bm25
  * expression tree token-for-token, so the registered probe holds the
  * same DuckDB oracle pairing (base/incoming split mirrored in SQL).
  *
  * The base/incoming split is doc_id mod 10 (8:2), shared with
  * MinHashWarehouse; the registered probe batch is additionally
  * bounded (doc_id < 1000) — probes arrive in serving-batch units,
  * and an unbounded 20%-of-corpus probe would time the batch's size,
  * not the index's serving shape.
  */
object Bm25Warehouse {

  // scoring constants are OWNED by Bm25 — the warehouse probe must
  // never fork from the inline leg's arithmetic
  import Bm25.{K1, B, K1Plus1, OneMinusB}

  private val Df = CountPart(Seq("term"), "dfd", "tb", ".df")

  private def statsPath(path: String): String = s"$path.stats"
  private val Tomb = Tombstones("doc_id")

  private def withBucket(postings: DataFrame): DataFrame =
    postings.withColumn("tb", CountPart.bucket(col("term")))

  /** One batch's contribution: (postings(term, doc_id, tf, len),
    * dfDeltas(term, dfd), nDocs, sumLen). */
  private def contribution(docs: DataFrame):
      (DataFrame, DataFrame, Long, Long) = {
    val toks = docs.select(col("doc_id"), words(col("text")).as("toks"))
    // (n, sl) ride the lens checkpoint via observe(), so the two
    // scalars cost no aggregate job of their own
    val obs = new org.apache.spark.sql.Observation()
    val lens = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("len"))
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(col("len")), lit(0L)).as("sl"))
      .localCheckpoint()
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfd = tf.groupBy(col("term")).agg(count(lit(1)).as("dfd"))
    (tf.join(lens, Seq("doc_id")), dfd,
      obs.get("n").asInstanceOf[Long], obs.get("sl").asInstanceOf[Long])
  }

  private def statsFrame(spark: SparkSession, n: Long, sl: Long): DataFrame =
    spark.range(1).select(lit(n).as("n"), lit(sl).as("sl"))

  /** Ingest: tokenize the base corpus once, write the posting table,
    * df delta side and 1-row stats side. */
  def materialize(spark: SparkSession, dir: String, path: String): Unit =
    materializeFrom(spark,
      Tables(spark, dir).documents.filter(isBase), path)

  /** Frame-level ingest — also the refresh-equivalence spec's one-shot
    * reference builder.  ONE CommitLog transaction: all three parts
    * land atomically. */
  def materializeFrom(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    val (postings, dfd, n, sl) = contribution(docs)
    CommitLog.transaction(spark, path) { t =>
      t.replace(withBucket(postings), path, Seq("tb"))
      Df.replace(t, dfd, path)
      t.replace(statsFrame(spark, n, sl), statsPath(path))
    }
  }

  /** REFRESH — fold an accepted crawl batch into the index at rest:
    * append the batch's posting rows and df deltas, bump the two stats
    * scalars — one atomic transaction (a crash between any two part
    * writes is invisible to probes; WarehouseCommitSpec kills it in
    * every window).  Cost is O(batch) — tokenizes ONLY the batch,
    * reads only the 1-row stats side, touches no standing row.  Batch
    * doc_ids must be new to the corpus (the crawl contract). */
  def refresh(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val done = refreshTxn(spark, batch, path, batchId = None)
    assert(done, "unreachable: un-id'd refreshes never skip")
  }

  /** The refresh transaction body, optionally committing a STREAM
    * BATCH ID as one more part of the SAME transaction — the
    * exactly-once move the streaming twin rides (shared machinery in
    * StreamTwin): because the id commits atomically WITH the data,
    * an at-least-once redelivery whose external marker was lost (the
    * crash window between txn commit and marker write) still skips —
    * the committed `.stream` part is the ground truth.  Returns false
    * (and folds NOTHING) when `batchId` is already committed.  (Unlike the Ts/Quantile twins this member
    * needs the snapshot on the plain path too — the stats-scalar read
    * below — so it is taken unconditionally.) */
  private[graft] def refreshTxn(spark: SparkSession, batch: DataFrame,
      path: String, batchId: Option[Long]): Boolean = {
    val snap = CommitLog.snapshot(spark, path)
    val seen = batchId.exists(id =>
      graft.sources.StreamTwin.seenBatch(snap, path, id))
    if (seen) return false
    val (postings, dfd, n, sl) = contribution(batch)
    // the (n, sl) bump as a 1-row plan over the pinned stats snapshot
    CommitLog.transaction(spark, path) { t =>
      t.append(withBucket(postings), path, Seq("tb"))
      Df.append(t, dfd, path, 1L)
      t.replace(snap.read(statsPath(path))
        .select((col("n") + lit(n)).as("n"), (col("sl") + lit(sl)).as("sl")),
        statsPath(path))
      batchId.foreach(id => graft.sources.StreamTwin.commitBatchId(t, path, id))
    }
    true
  }

  /** RETRACT — the delete verb, with the STATS DECREMENT this member
    * adds over MinHashWarehouse's plain tombstoning: a takedown
    * arrives as the removed docs' (doc_id, text) rows — the content
    * ingest saw (the crawl contract mirrored; tokenization is
    * deterministic, so the decrement recomputes the ingest-side
    * contribution EXACTLY).  One sub-verb
    * per state class, each on its honest ladder rung:
    *  - postings (per-doc facts): TOMBSTONE — doc_ids append to
    *    `.tomb`, probes drop tombstoned docs with one pruned
    *    anti-join on the already-bucket-pruned, term-restricted hit
    *    set (O(hits), never O(index));
    *  - df deltas (additive integers): NEGATIVE DELTAS — append
    *    (term, −dfd) through `CountPart.append`; per-term sums are then
    *    LITERALLY the rebuild-on-survivors integers, and a term whose
    *    df sums to zero reads as absent;
    *  - stats (2 scalars): decrement n and sl.
    * Probe-after-retract == probe-against-rebuild-on-survivors
    * BIT-FOR-BIT (Bm25WarehouseSpec pins it); `compact` afterwards
    * physically removes tombstoned postings and folds the negative df
    * rows out.  O(removed) + a 1-row read; no standing row touched. */
  def retract(spark: SparkSession, removed: DataFrame, path: String): Unit = {
    val (_, dfd, n, sl) = contribution(removed)
    // the (n, sl) decrement as a 1-row plan over the pinned snapshot
    val snap = CommitLog.snapshot(spark, path)
    CommitLog.transaction(spark, path) { t =>
      Df.append(t, dfd, path, -1L)
      Tomb.append(t, removed, path)
      t.replace(snap.read(statsPath(path))
        .select((col("n") - lit(n)).as("n"), (col("sl") - lit(sl)).as("sl")),
        statsPath(path))
    }
  }

  /** COMPACT — the segment-merge maintenance pass a refresh cadence
    * needs: every refresh appends one (term, dfd) delta row per batch
    * term, so the probe-side per-term delta sum (and the df table's
    * file count) grows linearly with refreshes.  Compaction merges the
    * deltas back to ONE row per term in the same bucket layout;
    * fully-retracted terms drop.  Probe results are BIT-identical
    * before/after (integer sums are order-free; WarehouseCompactSpec
    * pins it).
    *
    * The posting side needs no logical compaction — posting rows are
    * per-(doc, term) facts that never supersede each other — except
    * for tombstoned docs, which it physically removes before clearing
    * the tombstones (`Tombstones.purge`, which also folds the streaming
    * twin's id part).  Everything lands as ONE transaction that writes
    * new generations, so a probe pinned before it keeps reading; the
    * dead generations are reclaimed by CommitLog.vacuum on the
    * caller's retention cadence. */
  def compact(spark: SparkSession, path: String): Unit = {
    val snap = CommitLog.snapshot(spark, path)
    CommitLog.transaction(spark, path) { t =>
      Df.compact(t, snap, path)
      Tomb.purge(t, snap, path, Seq(path -> Seq("tb")))
    }
  }

  /** Score `queries` = (query_id, term) rows against the index: top-`k`
    * base docs per query.  The bucket list of the query terms is ≤64
    * driver values (the IvfWarehouse.probeBatch unionCids pattern) and
    * becomes the literal partition-pruning predicate. */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 10): DataFrame = {
    // ONE snapshot pins every part — a refresh committing (or dying)
    // mid-probe cannot tear the view across postings/df/stats/tomb
    val snap = CommitLog.snapshot(spark, path)
    // the query term sets are pinned once per probe: the frame feeds
    // both the bucket list and the hits join's build side
    val q = queries.localCheckpoint()
    val buckets = Df.buckets(q)
    // df = sum of delta rows per term over the SAME pruned buckets —
    // vocabulary-bounded on the probed slice, merged at probe time so
    // refreshes stay append-only (see layout Scaladoc)
    val dfSide = Df.sums(snap, path, buckets)
    // JOIN ORDER is the probe's cost model: restrict the posting scan
    // to the query term sets FIRST (the posting-list-hits reduction),
    // then attach df to the already-restricted hits (the delta agg is
    // vocabulary-bounded and broadcasts; df-before-queries doubled the
    // probe by dragging the full posting slice through the df join)
    val hits = Tomb.live(snap,
      snap.read(path).filter(CountPart.inBuckets(col("tb"), buckets))
        .join(q, Seq("term")), path)
    // the (n, sl) stats scalars ride the plan as a broadcast 1-row
    // relation; len/(sl/n) divides by the same IEEE double as
    // Bm25.bm25's avgdl
    val stats = broadcast(snap.read(statsPath(path))
      .select(col("n").as("__n"), col("sl").as("__sl")))
    val avgdl = col("__sl").cast("double") / col("__n").cast("double")
    val idf = log(((col("__n") - col("dfd")).cast("double") + lit(0.5)) /
      (col("dfd") + lit(0.5)) + lit(1.0))
    val term = idf * ((col("tf") * lit(K1Plus1)) /
      (col("tf") + lit(K1) * (lit(OneMinusB) + lit(B) * (col("len") / avgdl))))
    val byQ = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    hits.join(dfSide, Seq("term"))
      .crossJoin(stats)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sumx(roundx(term, 9)).as("score"))
      .withColumn("bm25", roundx(col("score"), 4))
      .withColumn("rnk", row_number().over(byQ))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("bm25"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Registered probe: the bounded incoming batch's term sets against
    * the index at rest. */
  def probeIncoming(spark: SparkSession, dir: String, path: String): DataFrame =
    probe(spark, path, incomingTerms(spark, dir))

  /** The retraction build for the registered `s_bm25_probe_retracted`
    * query: ingest the base split, then retract the mod-7 base docs
    * (the MinHashWarehouse retraction slice) — after which the
    * incoming probe must score exactly as if the index had been built
    * on mod 0..6 (df integers, n/avgdl scalars and all). */
  def materializeRetracted(spark: SparkSession, dir: String, path: String): Unit = {
    materialize(spark, dir, path)
    retract(spark, Tables(spark, dir).documents
      .filter(pmod(col("doc_id"), lit(10)) === 7), path)
  }

  /** (query_id, term) rows of the bounded incoming batch — tokenizes
    * ONLY the probe side. */
  private[graft] def incomingTerms(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .filter(!isBase && col("doc_id") < 1000)
      .select(col("doc_id").as("query_id"),
        explode(words(col("text"))).as("term"))
      .distinct()

  /** The REFRESH's online twin — the crawl stream maintaining the
    * index at rest.  Each micro-batch folds
    * through `refreshTxn` with its engine batch id committed as one
    * more part of the same transaction, so the fold is EXACTLY-ONCE
    * under foreachBatch's at-least-once delivery — in layers:
    *  - the BatchMarkers fast-skip (one driver FS listing, zero Spark
    *    actions) absorbs the common replay;
    *  - the txn-embedded id closes the residual window (crash between
    *    the commit marker and the external batchid record): on
    *    redelivery the committed `.stream` part shows the id and the
    *    verb folds nothing, because the id and the data commit in
    *    the same atomic marker;
    *  - the lineage guard fails the STREAM START loudly when the
    *    checkpoint and the markers diverge.
    * Register-free contract: any batching folds to the same index a
    * one-shot refresh of the union reaches (append-only postings/df,
    * scalar stats adds commute — Bm25WarehouseSpec pins probe
    * equality and drives a replayed batch).
    *
    * LOG MAINTENANCE AT CADENCE: whenever the marker-file count
    * exceeds `checkpointEvery` the commit log checkpoints
    * (fold-and-truncate) — exactly the streaming-cadence growth
    * CommitLog.checkpoint exists for, run from inside foreachBatch
    * where the single-writer window is the engine's own
    * serialization; concurrent PROBES stay safe because snapshot()
    * retries a listing raced by the checkpoint's deletes.  Triggering
    * on the COUNT (one driver listing) rather than id divisibility is
    * self-healing: a skipped/empty/replayed batch or a crash between
    * record and checkpoint just defers one trigger, never a whole
    * cycle — marker files stay <= checkpointEvery + 1 at ANY stream
    * length (spec-pinned). */
  def streamingRefresh(docs: DataFrame, path: String,
      checkpointEvery: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.StreamTwin.exactlyOnce(docs, path, checkpointEvery)(
      (s, batch, id) => { refreshTxn(s, batch, path, batchId = Some(id)); () })

  /** The probe's ONLINE twin — decontamination in flight: each arriving
    * micro-batch of docs scores against the index inside foreachBatch.
    * A doc's score depends ONLY on its own terms and the index at
    * rest, so the per-(query, doc) aggregation is batch-LOCAL — no
    * watermark, no state store, nothing grows with stream length (the
    * streamingDedup stance; here even the stream-static join lives in
    * foreachBatch because the score SUM would otherwise be cross-batch
    * state Spark cannot know is already complete when the doc's row
    * closes).  `sink` receives each micro-batch's scored top-k frame —
    * the foreachBatch contract parquetUpsertSink uses.
    * (Bm25WarehouseSpec drives a MemoryStream across batches and
    * asserts exact agreement with the batch probe.) */
  def streamingProbe(docs: DataFrame, path: String, k: Int = 10)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val q = batch.select(col("doc_id").as("query_id"),
          explode(words(col("text"))).as("term")).distinct()
        sink(probe(batch.sparkSession, path, q, k))
      }
      .start()
}
