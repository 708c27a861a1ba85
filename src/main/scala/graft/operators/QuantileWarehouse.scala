package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.Exact.roundx
import graft.sources.{AdditiveRollup, CommitLog, SketchRollup, Tables}

/** Per-day gas-price VALUE HISTOGRAMS at rest — the warehouse member
  * for the statistic the daily rollup family can't serve EXACTLY over
  * ad-hoc windows: quantiles.  Like distinct counts (HllWarehouse),
  * quantiles don't compose from per-day summaries — the p99 of a week
  * is not any function of seven daily p99s — so a rollup that stores
  * DAILY QUANTILES can never answer "the p99 gas price over any date
  * window".  Storing the daily (denom, quantized-value) COUNT
  * histogram solves it exactly: histograms are additive (integer-sum
  * associativity — the StatsWarehouse/BalanceWarehouse state class),
  * so any window's histogram is the sum of its days', and any
  * quantile reads off the cumulative counts.
  *
  * Where HllWarehouse's windowed distinct is GUARANTEE-LEVEL (sketch
  * class, no oracle), the windowed quantile here is EXACT and
  * ORACLED: the declared semantics is quantiles of 4-dp-QUANTIZED
  * prices (quantization `floor(v·10⁴ + 0.5)` is one identical IEEE
  * step in both engines — the BalanceWarehouse cents discipline, at
  * the reference's 4-dp gas-price resolution), interpolation is the
  * ALL-INTEGER blend q_lo·100 + (q_hi−q_lo)·rem (rank arithmetic in
  * integer hundredths, the rem ∈ [0,100) of idx = p·(n−1)/100), and
  * the single division to a price happens once at the end + 6-dp
  * roundx — so the probe is hash-identical to DuckDB's row_number
  * formulation over raw events.
  *
  * Scale: the histogram is DOMAIN-bounded, not corpus-bounded — per
  * (day, denom) at most (price range)·10⁴ distinct keys regardless of
  * row count, so state grows with days × denoms × price resolution
  * while the corpus grows without bound; the inline equivalent is a
  * corpus-scale sort (DuckDB's row_number) or a corpus-buffering
  * percentile aggregate.  Ingest pays ONE uniform (date, denom, q)
  * shuffle per batch (no skew: the quantized key fans a hot denom's
  * rows across its value range); refresh appends delta rows
  * (BIT-EQUAL to a rebuild by integer-sum associativity — the
  * strongest rung of the refresh-contract ladder, where a randomized
  * mergeable sketch like KLL could only offer guarantee-level);
  * `compact` merges to one row per key (probe-bit-invariant).  The
  * layout is PARTITIONED BY date, so an ad-hoc window probe
  * list-prunes to exactly its days (spec-asserted) and never rescans
  * events at any corpus size.
  *
  * For a value domain too wide/continuous to quantize (unbounded
  * user-supplied doubles), the honest fallback is a mergeable
  * quantile sketch at the HLL stance — guarantee-level accuracy, no
  * oracle; this member deliberately takes the exact lane the bounded
  * gas-price domain admits (reference gas stats round to 4 dp —
  * src/service/treasury and dashboard gas payloads).
  */
object QuantileWarehouse extends AdditiveRollup("quantile_warehouse",
    "event_id", Seq("date", "denom", "q"), "c") {

  protected def source(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events

  /** Per-(day, denom, quantized-value) integer counts of a batch —
    * the delta rows.  Quantization happens HERE, once, so every
    * generation agrees on the key space. */
  private[graft] def deltas(events: DataFrame): DataFrame =
    events.select(to_date(col("ts")).as("date"),
        col("event_type").as("denom"),
        floor(col("value") * 10000 + 0.5).cast("long").as("q"))
      .groupBy(col("date"), col("denom"), col("q")).agg(count(lit(1)).as("c"))

  /** Every verb records exact per-generation min/max(date) stats in
    * its commit entry (round 12): the window probes then skip whole
    * generations at the LOG (readWhere) before the per-day partition
    * pruning even lists the surviving roots — at ingest cadence a
    * window probe's scan set is bounded by the window, not history. */
  override protected def statsCols: Seq[String] = Seq("date")

  /** Partitioned by date: the window probe's pruning story. */
  override protected def partitionCols: Seq[String] = Seq("date")

  /** The raw delta read — exposed un-collapsed so specs can assert
    * scan roots and partition pruning on exactly what probes read. */
  private[graft] def histRead(spark: SparkSession, path: String): DataFrame =
    CommitLog.snapshot(spark, path).read(path)
      .select(col("date").cast("date").as("date"), col("denom"), col("q"), col("c"))

  /** The window read: generations whose recorded date range misses
    * [start, end] drop AT THE LOG (before any file listing); the
    * per-day partition pruning then thins the surviving roots.  The
    * caller still applies the real date filter (readWhere's
    * contract).  None of the generations intersecting ⇒ an empty
    * frame of the delta schema, not an error. */
  private[graft] def histReadWindow(spark: SparkSession, path: String,
      start: String, end: String): DataFrame =
    CommitLog.snapshot(spark, path)
      .readWhere(path, "date", Some(start), Some(end))
      .map(_.select(col("date").cast("date").as("date"), col("denom"),
        col("q"), col("c")))
      // every generation pruned: empty result of the ONE delta schema
      // (histRead defines it; generations exist whenever pruning
      // emptied the kept set, so the limit(0) read cannot throw)
      .getOrElse(histRead(spark, path).limit(0))

  /** The shared quantile tail: delta rows (already date-filtered by
    * the caller) → per-denom p50/p90/p99 of the quantized prices.
    * All rank arithmetic is LONG (idx in integer hundredths: lo =
    * p·(n−1) DIV 100, rem = p·(n−1) MOD 100); value-at-rank is a
    * range join of the 15-row rank frame (broadcast) against the
    * cumulative histogram — rank r's value is the q of the unique row
    * with cum−c ≤ r < cum; the blend q_lo·100 + (q_hi−q_lo)·rem stays
    * integer until ONE division + 6-dp roundx at the end.  The
    * per-denom cumulative window runs over histogram rows — bounded
    * by the quantized value domain, the whitelisted metadata class
    * (the BalanceWarehouse gini cumsum precedent). */
  private[graft] def quantilesOfHist(hist0: DataFrame): DataFrame = {
    val hist = hist0.groupBy(col("denom"), col("q")).agg(sum(col("c")).as("c"))
      .localCheckpoint() // feeds the cumsum AND the n-per-denom frame
      // (r15 note: tried un-pinning for exchange reuse — no ReusedExchange
      // in the plan and no measured win; the pin also bounds the re-scan
      // risk at scale, so it stays)
    val byQ = Window.partitionBy(col("denom")).orderBy(col("q"))
    val cum = hist.withColumn("cum", sum(col("c")).over(byQ))
      .select(col("denom").as("h_denom"), col("q"), col("c"), col("cum"))
    val ranks = hist.groupBy(col("denom")).agg(sum(col("c")).as("n_obs"))
      .select(col("denom"), col("n_obs"),
        explode(array(lit(50L), lit(90L), lit(99L))).as("p"))
      .withColumn("lo", expr("(p * (n_obs - 1)) DIV 100"))
      .withColumn("rem", (col("p") * (col("n_obs") - 1)) % 100)
      .withColumn("hi", least(col("lo") + 1, col("n_obs") - 1))
    val atLo = broadcast(ranks).join(cum,
        col("denom") === col("h_denom") &&
        col("lo") >= col("cum") - col("c") && col("lo") < col("cum"))
      .select(col("denom"), col("n_obs"), col("p"), col("rem"), col("hi"),
        col("q").as("q_lo"))
    val blend = broadcast(atLo).join(cum,
        col("denom") === col("h_denom") &&
        col("hi") >= col("cum") - col("c") && col("hi") < col("cum"))
      .select(col("denom"), col("n_obs"), col("p"),
        (col("q_lo") * 100 + (col("q") - col("q_lo")) * col("rem")).as("b"))
      .withColumn("price", roundx(col("b").cast("double") / lit(1000000.0), 6))
    blend.groupBy(col("denom"), col("n_obs"))
      .agg(max(when(col("p") === 50, col("price"))).as("p50"),
        max(when(col("p") === 90, col("price"))).as("p90"),
        max(when(col("p") === 99, col("price"))).as("p99"))
  }

  /** Registered `q_gas_quantiles_probe`: all-time per-denom
    * p50/p90/p99 gas prices off the histogram at rest.  base ∪
    * incoming = all events and the histogram preserves the per-denom
    * quantized-value multiset, so the result is hash-identical to the
    * DuckDB row_number formulation over raw events — ORACLED. */
  def probe(spark: SparkSession, path: String): DataFrame =
    quantilesOfHist(histRead(spark, path))

  /** Registered `q_gas_quantiles_window`: the capability the daily
    * layout exists for — ANY ad-hoc date window's EXACT quantiles by
    * summing that window's daily histograms.  Parameterized by
    * [start, end], registered at fixed test constants (the
    * q_ts_window_search stance); the date filter list-prunes the
    * partitioned layout to exactly the window's days
    * (spec-asserted).  ORACLED with the probe's SQL over the
    * date-filtered events. */
  def windowProbe(spark: SparkSession, path: String,
      start: String = "2024-01-08", end: String = "2024-01-21"): DataFrame =
    quantilesOfHist(histReadWindow(spark, path, start, end)
      .filter(col("date").between(lit(start).cast("date"), lit(end).cast("date"))))

  // ---- the SKETCH lane: per-day KLL states (the unbounded-domain
  // fallback the histogram Scaladoc names).  Same layout and
  // maintenance verbs over (date, denom, sk BINARY) rows; the
  // contract drops to GUARANTEE level (KLL compaction is randomized —
  // see KllSketchAgg's Scaladoc), which is exactly why the bounded
  // gas domain runs the exact lane and this one exists as the
  // documented alternative, spec-pinned to its rank-error bound.
  object Kll extends SketchRollup("quantile_kll_warehouse", "event_id",
      Seq("date", "denom"), "sk") {

    import graft.functions.KllFunctions.{kllMerge, kllQuantile, kllSketch}

    protected def source(spark: SparkSession, dir: String): DataFrame =
      Tables(spark, dir).events

    override protected def statsCols: Seq[String] = Seq("date")
    override protected def partitionCols: Seq[String] = Seq("date")

    /** Per-(day, denom) KLL sketch states of a batch. */
    private[graft] def deltas(events: DataFrame): DataFrame =
      events.select(to_date(col("ts")).as("date"),
          col("event_type").as("denom"), col("value"))
        .groupBy(col("date"), col("denom")).agg(kllSketch(col("value")).as("sk"))

    protected def union(sk: Column): Column = kllMerge(sk)

    /** Registered `q_gas_quantiles_window_sketch`: the window quantiles
      * off merged per-day sketch states — fixed test constants, same
      * window as the exact probe so the two lanes are directly
      * comparable.  NO oracle (randomized sketch class — the HLL
      * stance); QuantileWarehouseSpec pins each reported quantile's
      * EXACT rank within the KLL bound of its target. */
    def windowProbe(spark: SparkSession, path: String,
        start: String = "2024-01-08", end: String = "2024-01-21"): DataFrame = {
      val snap = CommitLog.snapshot(spark, path)
      snap.readWhere(path, "date", Some(start), Some(end))
        .getOrElse(snap.read(path).limit(0))
        .select(col("date").cast("date").as("date"), col("denom"), col("sk"))
        .filter(col("date").between(lit(start).cast("date"), lit(end).cast("date")))
        .groupBy(col("denom")).agg(kllMerge(col("sk")).as("wsk"))
        .select(col("denom"),
          roundx(kllQuantile(col("wsk"), lit(0.5)), 6).as("p50"),
          roundx(kllQuantile(col("wsk"), lit(0.9)), 6).as("p90"),
          roundx(kllQuantile(col("wsk"), lit(0.99)), 6).as("p99"))
    }
  }
}
