package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.MinHashWarehouse.isBase
import graft.functions.Exact.{roundx, sumx}
import graft.functions.TextFunctions.words
import graft.sources.{CommitLog, CountPart, Tables}

/** The BIGRAM LM AT REST — the context-aware member of the warehouse
  * family, extending LmWarehouse's CCNet triage with
  * t_perplexity_bigram's stupid-backoff scoring: the model trains
  * ONCE over the standing corpus, and every later probe scores
  * against the frozen context model without re-reading corpus text.
  *
  * Layout (the LmWarehouse conventions, append-only), two `CountPart`s:
  *  - `<path>.c1`: (w, cnt) unigram delta rows partitioned by
  *    wb = `CountPart.bucket(w)`;
  *  - `<path>.c2`: (pw, w, cnt) bigram delta rows partitioned by
  *    pwb = `CountPart.bucket(pw)` — keyed on the PRECEDING word,
  *    because that is what a probe knows: its own token stream's
  *    left-contexts prune the partition list;
  *  - `<path>.stats`: one (nb, v) row.
  * Probes sum deltas per key over the pruned slices (both tables are
  * Zipf-bounded — vocabulary / observed-bigram scale, not corpus
  * scale), which is what lets `refresh` fold a crawl batch in by
  * appending its counts; `compact` merges delta rows back (probes
  * bit-identical — integer sums).
  *
  * Model: stupid backoff (Brants et al. 2007) over the OPEN-vocab
  * Laplace unigram (the LmWarehouse v+1-classes convention — an
  * index cannot know future probes' vocabularies):
  *   S(w | pw) = c2(pw, w)/c1(pw)          when the bigram was seen,
  *             = α · (c1(w)+1)/(nb+v+1)    otherwise (α = 0.4);
  * a doc's first token scores the unigram.  This deliberately
  * differs from t_perplexity_bigram's closed full-corpus vocabulary
  * exactly as t_perplexity_probe differs from t_perplexity — the
  * registered probe and its oracle mirror the open convention.
  *
  * Probe plan: tokenize ONLY the batch, once (a localCheckpoint pin —
  * the token frame feeds the scored side, the context side and the
  * bucket list); both parts prune to the batch's word buckets; one
  * doc-keyed partial agg.  Scores are batch-local → the streaming
  * twin is stateless foreachBatch.
  */
object BigramLmWarehouse {

  private val Alpha = 0.4

  private val C1 = CountPart(Seq("w"), "cnt", "wb", ".c1")
  private val C2 = CountPart(Seq("pw", "w"), "cnt", "pwb", ".c2")

  private def statsPath(path: String) = s"$path.stats"

  /** (doc_id, pos, w, pw) tokens of a doc frame, pinned: the previous
    * token rides each row as pw = element_at(toks, pos) (1-based
    * element_at at 0-based pos = previous; pos 0 → null), so neither
    * the bigram counts nor the probe's scoring pays a
    * (doc_id, pos)-keyed self-join. */
  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("toks")).localCheckpoint()
      .select(col("doc_id"), col("toks"), posexplode(col("toks")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), col("w"),
        when(col("pos") > 0, element_at(col("toks"), col("pos"))).as("pw"))
      .localCheckpoint()

  /** The unigram and bigram count parts with a doc frame's rows, the
    * unigram part first. */
  private def counts(docs: DataFrame): Seq[(CountPart, DataFrame)] = {
    val tk = toks(docs)
    Seq(C1 -> tk.groupBy(col("w")).agg(count(lit(1)).as("cnt")),
      C2 -> tk.filter(col("pw").isNotNull)
        .groupBy(col("pw"), col("w"))
        .agg(count(lit(1)).as("cnt")))
  }

  /** Train once over the base split. */
  def materialize(spark: SparkSession, dir: String, path: String): Unit =
    materializeFrom(Tables(spark, dir).documents.filter(isBase), path)

  def materializeFrom(docs: DataFrame, path: String): Unit =
    LmWarehouse.build(path, counts(docs))

  /** REFRESH — append the batch's unigram and bigram deltas and bump
    * (nb, v), O(batch), through `LmWarehouse.fold`.  All three parts
    * land as one transaction: a crash in any window leaves probes on
    * the pre-refresh state bit-for-bit, a probe's pinned snapshot
    * never sees the counts without the matching denominator, and the
    * retried verb converges with a clean run (WarehouseCommitSpec
    * drives this member's windows). */
  def refresh(spark: SparkSession, batch: DataFrame, path: String): Unit =
    LmWarehouse.fold(spark, path, 1L, counts(batch))

  /** RETRACT — append the removed docs' unigram and bigram counts
    * negated, so every per-key sum is the rebuild-on-survivors integer;
    * nb and v fold exactly as in LmWarehouse.retract.  A
    * fully-retracted unigram reads as absent and scores the Laplace
    * UNK; a fully-retracted bigram reads as absent and falls through
    * to backoff, as in the rebuild.  Precondition: the removed docs
    * were ingested with this exact text. */
  def retract(spark: SparkSession, removed: DataFrame, path: String): Unit =
    LmWarehouse.fold(spark, path, -1L, counts(removed))

  /** COMPACT — merge both delta tables to one row per key; stats are
    * already exact.  Probes bit-identical (integer delta sums);
    * fully-retracted keys drop, leaving the rebuild-on-survivors
    * tables. */
  def compact(spark: SparkSession, path: String): Unit = {
    val snap = CommitLog.snapshot(spark, path)
    CommitLog.transaction(spark, path) { t =>
      C1.compact(t, snap, path)
      C2.compact(t, snap, path)
    }
  }

  /** Score `docs` = (doc_id, text) against the bigram LM at rest.
    * Columns (doc_id, n_tokens, bigram_hits, nll). */
  def probe(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    // one snapshot pins c1 + c2 + stats together (no torn denominator)
    val snap = CommitLog.snapshot(spark, path)
    // the stats ride the plan as a broadcast 1-row relation
    val stats = broadcast(snap.read(statsPath(path))
      .select((col("nb") + col("v") + lit(1L)).cast("double").as("__denom")))
    val tk = toks(docs)
    // context words are token words, so the word buckets prune both sides
    val wBuckets = C1.buckets(tk)
    val c1 = C1.sums(snap, path, wBuckets)
    val c2 = C2.sums(snap, path, wBuckets).withColumnRenamed("cnt", "cnt2")
    val scored = tk
      .join(c1.select(col("w"), col("cnt").as("cw")), Seq("w"), "left")
      .join(c1.select(col("w").as("pw"), col("cnt").as("cpw")), Seq("pw"), "left")
      .join(c2.select(col("pw"), col("w"), col("cnt2")), Seq("pw", "w"), "left")
      .crossJoin(stats)
    val laplace = (coalesce(col("cw"), lit(0L)) + lit(1.0)) / col("__denom")
    val nllTok = roundx(-log(
      when(col("pw").isNull, laplace)
        .when(col("cnt2").isNotNull,
          col("cnt2").cast("double") / col("cpw").cast("double"))
        .otherwise(lit(Alpha) * laplace)), 9)
    scored.groupBy(col("doc_id"))
      .agg(sumx(nllTok).as("nll_sum"), count(lit(1)).as("n_tokens"),
        sum(when(col("cnt2").isNotNull, 1L).otherwise(0L)).as("bigram_hits"))
      .select(col("doc_id"), col("n_tokens"), col("bigram_hits"),
        roundx(col("nll_sum") / col("n_tokens"), 6).as("nll"))
  }

  /** Registered probe: the bounded incoming batch (the LmWarehouse
    * probeIncoming split + bound). */
  def probeIncoming(spark: SparkSession, dir: String, path: String): DataFrame =
    probe(spark, path, Tables(spark, dir).documents
      .filter(!isBase && col("doc_id") < 1000)
      .select(col("doc_id"), col("text")))

  /** Stateless streaming twin (scores are per-doc and batch-local). */
  def streamingProbe(docs: DataFrame, path: String)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(probe(batch.sparkSession, path, batch))
      }
      .start()
}
