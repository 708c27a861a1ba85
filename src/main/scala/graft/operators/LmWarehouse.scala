package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.MinHashWarehouse.isBase
import graft.functions.Exact.{roundx, sumx}
import graft.functions.TextFunctions.words
import graft.sources.{CommitLog, CountPart, Tables}

/** The unigram LM AT REST — quality scoring's member of the warehouse
  * family (MinHashWarehouse: J-dedup, LshWarehouse: cosine,
  * Ivf/PqWarehouse: ANN, Bm25Warehouse: term scoring, this: LM
  * perplexity).  The production shape is CCNet-style crawl triage at
  * the PB-vs-MB asymmetry: the LM is trained ONCE over the standing
  * corpus, and every later probe — a crawl batch, a vendor drop, an
  * ingest stream — is scored against the frozen model without ever
  * re-reading corpus text.
  *
  * Layout (append-only for refresh and retract):
  *  - `<path>`: the (term, cnt) `CountPart`, delta rows partitioned by
  *    tb = `CountPart.bucket(term)`.  A probe's term set maps to a
  *    driver bucket list that prunes partitions (spec-asserted via
  *    listFiles) and sums deltas per term over the pruned slice, so
  *    `refresh` appends the batch's term counts instead of rewriting
  *    the model.  Counts at rest are integers; floats exist only in
  *    the probe.
  *  - `<path>.stats`: one row (nb, v) — corpus token count and
  *    vocabulary size, folded by `fold` from driver scalars and the
  *    pruned standing sums — O(batch).
  *
  * Model: OPEN-vocabulary Laplace smoothing over v+1 classes (the v
  * base terms + one UNK bucket every unseen term shares):
  * p(t) = (cnt+1)/(nb+v+1), OOV ⇒ 1/(nb+v+1).  This differs
  * deliberately from t_perplexity's closed full-corpus vocabulary —
  * an index at rest cannot know future probes' vocabularies, so the
  * UNK convention is the only one that serves unseen text (the
  * registered probe and its oracle mirror it exactly).
  *
  * Probe: tokenize ONLY the probe batch (plan-asserted: no documents
  * scan), LEFT-join the pruned LM on term, one doc-keyed partial agg;
  * nll per token through the s_bm25 9-dp + DECIMAL ln license —
  * oracled.  Scores are per-doc and batch-local, so the streaming
  * twin runs stateless inside foreachBatch (no watermark, no state
  * store — the Bm25Warehouse.streamingProbe stance).
  */
object LmWarehouse {

  private val Terms = CountPart(Seq("term"), "cnt", "tb", "")

  private def statsPath(path: String): String = s"$path.stats"

  private def counts(docs: DataFrame): DataFrame =
    docs.select(explode(words(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))

  /** Train once: write the bucket-partitioned (term, cnt) table and
    * the 1-row (nb, v) stats side from the base split. */
  def materialize(spark: SparkSession, dir: String, path: String): Unit =
    materializeFrom(Tables(spark, dir).documents.filter(isBase), path)

  /** Frame-level ingest — also the refresh-equivalence spec's one-shot
    * reference builder. */
  def materializeFrom(docs: DataFrame, path: String): Unit =
    build(path, Seq(Terms -> counts(docs)))

  /** REFRESH — fold an accepted crawl batch into the LM at rest in one
    * transaction: append the batch's (term, cnt) deltas and bump
    * (nb, v).  O(batch): only the batch is tokenized, the new-term
    * count reads the standing model on the batch's own term buckets,
    * and no standing row is rewritten.  Batch doc_ids and terms need
    * no uniqueness — reads sum deltas per term. */
  def refresh(spark: SparkSession, batch: DataFrame, path: String): Unit =
    fold(spark, path, 1L, Seq(Terms -> counts(batch)))

  /** RETRACT — remove docs by appending their term counts negated, so
    * every per-term sum is the rebuild-on-survivors integer; nb loses
    * the removed tokens and v the terms whose whole standing count
    * the removal erases.  A vanished term reads as absent and scores
    * the Laplace UNK mass, so probe-after-retract == probe-on-rebuild
    * bit-for-bit before and after compact (LmWarehouseSpec pins it).
    * Precondition: the removed docs were ingested with this exact
    * text. */
  def retract(spark: SparkSession, removed: DataFrame, path: String): Unit =
    fold(spark, path, -1L, Seq(Terms -> counts(removed)))

  /** One LM build, shared with BigramLmWarehouse: replace every count
    * part and the (nb, v) stats in one transaction.  The first part is
    * the unigram part: nb is its count total, v its key count. */
  private[operators] def build(path: String,
      parts: Seq[(CountPart, DataFrame)]): Unit = {
    val (part, rows) = parts.head
    val pinned = rows.localCheckpoint() // feeds the part and (nb, v)
    CommitLog.transaction(pinned.sparkSession, path) { t =>
      part.replace(t, pinned, path)
      parts.tail.foreach { case (p, r) => p.replace(t, r, path) }
      t.replace(pinned.agg(sum(col(part.count)).as("nb"), count(lit(1)).as("v")),
        statsPath(path))
    }
  }

  /** The signed fold behind both LMs' refresh (sign +1) and retract
    * (sign −1), in one transaction: append sign × counts to every
    * count part, add sign × tokens to nb, and add to v the first
    * (unigram) part's `CountPart.shift` — the new terms of a refresh,
    * minus the vanished terms of a retract.  An empty batch is a
    * no-op.  A reader never sees the counts without the matching
    * stats. */
  private[operators] def fold(spark: SparkSession, path: String, sign: Long,
      parts: Seq[(CountPart, DataFrame)]): Unit = {
    val (part, rows) = parts.head
    val obs = new org.apache.spark.sql.Observation()
    val delta = rows.observe(obs, coalesce(sum(col(part.count)), lit(0L)).as("tokens"),
      count(lit(1)).as("keys")).localCheckpoint()
    if (obs.get("keys").asInstanceOf[Long] == 0L) return
    val tokens = obs.get("tokens").asInstanceOf[Long]
    val snap = CommitLog.snapshot(spark, path)
    val shift = part.shift(snap, path, delta, sign)
    CommitLog.transaction(spark, path) { t =>
      part.append(t, delta, path, sign)
      parts.tail.foreach { case (p, r) => p.append(t, r, path, sign) }
      t.replace(snap.read(statsPath(path)).crossJoin(shift)
        .select((col("nb") + lit(sign * tokens)).as("nb"),
          (col("v") + col("shift")).as("v")), statsPath(path))
    }
  }

  /** COMPACT — merge the (term, cnt) deltas to one row per term in the
    * same bucket layout.  Stats are untouched (refresh and retract keep
    * them exact), probes are bit-identical (integer sums are
    * order-free; WarehouseCompactSpec pins it), and fully-retracted
    * terms drop, leaving the rebuild-on-survivors table.  The merge
    * writes a new generation, so probes pinned before it keep reading;
    * CommitLog.vacuum reclaims the old generations. */
  def compact(spark: SparkSession, path: String): Unit = {
    val snap = CommitLog.snapshot(spark, path)
    CommitLog.transaction(spark, path)(Terms.compact(_, snap, path))
  }

  /** Score `docs` = (doc_id, text) against the LM at rest: per-doc avg
    * negative log-likelihood per token.  The probe's term buckets are
    * ≤64 driver values and become the literal partition-pruning
    * predicate (the Bm25Warehouse.probe pattern). */
  def probe(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    // one snapshot pins model + stats together (no torn denominator)
    val snap = CommitLog.snapshot(spark, path)
    // the tokens feed both the bucket list and the scoring join
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .localCheckpoint()
    val lm = Terms.sums(snap, path, Terms.buckets(toks))
    val stats = broadcast(snap.read(statsPath(path))
      .select((col("nb") + col("v") + lit(1L)).cast("double").as("__denom")))
    val nll = roundx(-log(
      (coalesce(col("cnt"), lit(0L)) + lit(1.0)) / col("__denom")), 9)
    toks.join(lm, Seq("term"), "left")
      .crossJoin(stats)
      .groupBy(col("doc_id"))
      .agg(sumx(nll).as("nll_sum"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        roundx(col("nll_sum") / col("n_tokens"), 6).as("nll"))
  }

  /** Registered probe: the bounded incoming batch against the LM at
    * rest (base/incoming split + batch bound shared with
    * Bm25Warehouse.probeIncoming). */
  def probeIncoming(spark: SparkSession, dir: String, path: String): DataFrame =
    probe(spark, path, Tables(spark, dir).documents
      .filter(!isBase && col("doc_id") < 1000)
      .select(col("doc_id"), col("text")))

  /** The retraction build for the registered
    * `t_perplexity_probe_retracted` query: train on the base split,
    * retract the mod-7 base docs (the shared retraction slice) — the
    * incoming probe must then score exactly as an LM trained on
    * mod 0..6 (counts, nb, v and all). */
  def materializeRetracted(spark: SparkSession, dir: String, path: String): Unit = {
    materialize(spark, dir, path)
    retract(spark, Tables(spark, dir).documents
      .filter(pmod(col("doc_id"), lit(10)) === 7), path)
  }

  /** The probe's ONLINE twin — crawl triage in flight: each arriving
    * micro-batch scores against the frozen LM inside foreachBatch.
    * Per-doc nll depends only on the doc's own tokens and the index
    * at rest, so nothing is cross-batch state.  (LmWarehouseSpec
    * drives a MemoryStream and asserts exact agreement with the batch
    * probe.) */
  def streamingProbe(docs: DataFrame, path: String)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(probe(batch.sparkSession, path, batch))
      }
      .start()
}
