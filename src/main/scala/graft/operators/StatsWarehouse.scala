package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.TextFunctions.words
import graft.sources.{AdditiveRollup, Tables}

/** The per-language corpus-profile HISTOGRAM at rest — the profiling
  * leg's warehouse member, and the answer to d_corpus_stats' own
  * scale caveat that is STRONGER than the documented
  * percentile_approx swap: instead of a mergeable-but-approximate GK
  * sketch, the index stores the exact token-length DISTRIBUTION as
  * (lang, nw) → (cnt, ncs) integer rows.  Integer sums are
  * ASSOCIATIVE, so refresh-by-append is BIT-EQUAL to a one-shot
  * rebuild (StatsWarehouseSpec pins it), and every d_corpus_stats
  * output — counts, totals, min/max, the fixed-point bracketing-rank
  * percentiles, the rounded mean — reconstructs EXACTLY from the
  * histogram, because all of them are functions of the multiset of
  * lengths, which the histogram preserves losslessly.
  *
  * Scale: the index is bounded by langs × distinct lengths (metadata
  * at ANY corpus size — a 100k-token ceiling bounds it at ~100k rows
  * per language), where the inline query's sorted collect_list buffer
  * grows with the CORPUS.  So at 100 TB the at-rest path is both
  * cheaper than the inline exact query AND exact where the GK swap is
  * approximate: O(batch) appends at ingest, probe reads KBs.
  *
  * Layout: a single append-only parquet of delta rows; readers sum
  * per key, `compact` merges (probe-bit-identical — integer sums are
  * order-free).
  */
object StatsWarehouse extends AdditiveRollup("stats_warehouse", "doc_id",
    Seq("lang", "nw"), "cnt") {

  protected def source(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents

  /** Per-key integer partial sums of a batch — the delta rows:
    * (lang, nw) → docs at that length, chars at that length. */
  private[graft] def deltas(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        size(words(col("text"))).cast("long").as("nw"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("lang"), col("nw"))
      .agg(count(lit(1)).as("cnt"), sum(col("nc")).as("ncs"))

  /** Registered `d_corpus_stats_probe`: the full profile served from
    * the index at rest.  base ∪ incoming = all documents and the
    * histogram preserves the length multiset, so the result equals
    * d_corpus_stats row for row and shares its oracle VERBATIM. */
  def statsProbe(spark: SparkSession, path: String): DataFrame =
    statsOfHist(merged(spark, path))

  /** d_corpus_stats' exact output reconstructed from a (lang, nw,
    * cnt, ncs) histogram.  The bracketing-rank percentile numerators
    * (CorpusStats.corpusStats' pctx — all-integer, the engine-stable
    * form) read off cumulative counts instead of a sorted array:
    * value-at-rank r = the nw of the histogram row whose cumulative
    * range (cum − cnt, cum] contains r — identical to element_at on
    * the sorted-with-repeats array, without materializing it.  Every
    * frame below the merge is langs × distinct-lengths metadata. */
  private[graft] def statsOfHist(hist0: DataFrame): DataFrame = {
    val hist = hist0
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("lang")).orderBy(col("nw"))))
      .localCheckpoint() // metadata-scale; feeds the agg + two rank joins
    val agg = hist.groupBy(col("lang")).agg(
      sum(col("cnt")).as("n_docs"),
      sum(col("nw") * col("cnt")).as("n_tokens"),
      min(col("nw")).as("min_tokens"),
      max(col("nw")).as("max_tokens"),
      sum(col("ncs")).as("n_chars"))
    // 3 target ranks per lang: idx = p·(n−1), lo/rem = div/mod 100 —
    // the pctx arithmetic verbatim (the one double division inside
    // floor is exact below 2^53)
    val targets = agg.select(col("lang"), col("n_docs"),
        explode(array(lit(50L), lit(90L), lit(99L))).as("p"))
      .withColumn("idx", col("p") * (col("n_docs") - lit(1L)))
      .withColumn("lo", floor(col("idx") / lit(100L)).cast("long"))
      .withColumn("rem", col("idx") - col("lo") * lit(100L))
      .withColumn("rank_lo", col("lo") + lit(1L))
      .withColumn("rank_hi", least(col("lo") + lit(2L), col("n_docs")))
    def valueAt(rankCol: String, out: String): DataFrame =
      targets.join(hist,
          targets("lang") === hist("lang") &&
            targets(rankCol) > hist("cum") - hist("cnt") &&
            targets(rankCol) <= hist("cum"))
        .select(targets("lang"), col("p"), col("rem"), col("nw").as(out))
    val nums = valueAt("rank_lo", "v_lo")
      .join(valueAt("rank_hi", "v_hi").select(col("lang"), col("p"), col("v_hi")),
        Seq("lang", "p"))
      .withColumn("num", col("v_lo") * lit(100L) +
        (col("v_hi") - col("v_lo")) * col("rem"))
    val pcts = nums.groupBy(col("lang")).agg(
      max(when(col("p") === 50, col("num"))).as("p50_x100"),
      max(when(col("p") === 90, col("num"))).as("p90_x100"),
      max(when(col("p") === 99, col("num"))).as("p99_x100"))
    agg.join(pcts, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("min_tokens"), col("max_tokens"),
        col("p50_x100"), col("p90_x100"), col("p99_x100"),
        expr("(n_chars * 20000L + n_docs) DIV (2L * n_docs)").as("avg_chars_x10000"))
  }
}
