package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.TextFunctions.words
import graft.functions.{MisraGries, MisraGriesMerge}
import graft.sources.{SketchRollup, Tables}

/** Corpus heavy-hitter summaries at rest — the FREQUENCY family's
  * warehouse member, completing the mergeable-summary matrix:
  * additive rollups (TsWarehouse), histograms (Stats/Balance/
  * Quantile), distincts (HllWarehouse), membership (BloomWarehouse),
  * quantile sketches (the KLL lane) — and now heavy hitters, the one
  * remaining classical mergeable-summary class.
  *
  * State is one Misra–Gries summary row per generation (array of
  * (token, est) counters, ≤ k entries — KB-scale regardless of corpus
  * or vocabulary).  The theorem that licenses append-only refresh is
  * Agarwal et al. 2012's mergeability: merging per-batch MG summaries
  * through the (k+1)-th-largest-subtraction merge yields a VALID
  * summary of the union with the same n/(k+1) error bound.  So:
  * refresh appends the batch's summary (O(batch), standing rows
  * untouched), the probe folds stored rows through MisraGriesMerge,
  * and `compact` merges generations to one row (probe reads the same
  * class of summary either way).
  *
  * Contract rung: GUARANTEE level (with HLL-probe-equal above it and
  * KLL below it in spirit — the reported set BELOW the guarantee line
  * is merge-order-dependent, so neither bit- nor probe-equality can
  * be pinned; what every fold order shares is the contract
  * HeavyHittersSpec pins inline and MgWarehouseSpec pins at rest:
  * every token with true frequency > n/(k+1) is present, and every
  * estimate is a lower bound short by at most n/(k+1)).  NO oracle —
  * the t_heavy_hitters stance.
  *
  * Production story: the inline t_heavy_hitters re-scans the corpus
  * per report; at 100 TB the corpus scan is the whole cost, and the
  * vocabulary (URLs, code identifiers, n-grams) is exactly what made
  * the exact word-count shuffle intractable in the first place.  The
  * warehouse pays one map-side-collapsed scan per BATCH at ingest and
  * serves every subsequent report from ≤ generations × k counters.
  *
  * RETRACTION CONTRACT: rebuild-only.  MG counter decay already
  * destroyed the information a subtraction would need (a counter is a
  * lower bound, not a count — removing a doc's tokens from it would
  * double-subtract whatever decay already took), so deleting docs
  * from a generation means rebuilding that generation's summary from
  * its surviving docs.  The honest bottom rung of the retraction
  * ladder (see BalanceWarehouse's Scaladoc for the full ladder).
  */
object MgWarehouse extends SketchRollup("mg_warehouse", "doc_id", Nil, "hh") {

  private[graft] val K = 32

  protected def source(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents

  /** One summary row for a batch — the delta. */
  private[graft] def deltas(docs: DataFrame): DataFrame =
    docs.agg(MisraGries(words(col("text")), K).as("hh"))

  /** The (k+1)-th-largest-subtraction merge: the merged row is a valid
    * summary of the union (mergeability), so probes serve the same
    * contract before and after `compact` — the guarantee-level
    * analogue of the bit-invariance the integer warehouses pin. */
  protected def union(hh: Column): Column = MisraGriesMerge(hh, K)

  /** Registered `t_heavy_hitters_probe`: the corpus heavy-hitter
    * report off the summaries at rest — merge the ≤ generations
    * stored rows, explode to (token, est_count).  Never scans
    * documents (plan-asserted). */
  def probe(spark: SparkSession, path: String): DataFrame =
    merged(spark, path)
      .select(explode(col("hh")).as("h"))
      .select(col("h.token").as("token"), col("h.est").as("est_count"))
}
