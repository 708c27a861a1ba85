package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.{BalanceWarehouse, Staking}
import graft.sources.Tables

/** The snapshot log's as-of contract: asOf(g) re-serves the state at
  * the moment generation g was the head, BIT-FOR-BIT, from a log whose
  * head has since refreshed AND retracted — including the strongest
  * claim, asOf(pre-retraction) == the full-corpus rebuild.  The as-of
  * read must PRUNE later generations at file listing (gen is a
  * directory partition), and horizon compaction must leave every
  * asOf(g >= h) bit-invariant while making asOf(g < h) empty — the
  * retention boundary made visible.
  */
class SnapshotLogSpec extends GraftSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-snap-$tag").resolve("idx").toString

  private def balances = Tables(spark, Dir).customer
    .join(broadcast(Tables(spark, Dir).nation),
      col("c_nationkey") === col("n_nationkey"))
    .select(col("c_custkey"), col("n_name").as("denom"),
      col("c_acctbal").as("bal"))

  private def histAsOf(path: String, g: Int): Set[(String, Long, Long)] =
    BalanceWarehouse.mergedHistAsOf(spark, path, g).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def flatHist(path: String): Set[(String, Long, Long)] =
    BalanceWarehouse.merged(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** A fresh three-generation log (base / incoming / retraction) the
    * destructive tests can own — the shared builtGenPath is read-only
    * for the registered query. */
  private def freshGenLog(): String = {
    val p = tmp("log")
    val b = balances
    BalanceWarehouse.refresh(spark, b.filter(BalanceWarehouse.isBase), p)
    BalanceWarehouse.refresh(spark, b.filter(!BalanceWarehouse.isBase), p)
    BalanceWarehouse.retract(spark, b.filter(BalanceWarehouse.isRetractedCust), p)
    p
  }

  test("asOf(g) equals the rebuild at each generation head, bit-for-bit") {
    val p = BalanceWarehouse.builtGenPath(spark, Dir)
    val b = balances
    val baseOnly = tmp("base")
    BalanceWarehouse.materializeFrom(b.filter(BalanceWarehouse.isBase), baseOnly)
    assert(histAsOf(p, 0) == flatHist(baseOnly),
      "asOf(0) diverges from the base-only rebuild")
    val full = tmp("full")
    BalanceWarehouse.materializeFrom(b, full)
    assert(histAsOf(p, 1) == flatHist(full),
      "asOf(1) diverges from the full rebuild — the pre-retraction snapshot is broken")
    // head state == the flat retracted log's merged state
    assert(histAsOf(p, 2) == flatHist(BalanceWarehouse.builtRetractedPath(spark, Dir)),
      "asOf(head) diverges from the flat retracted log")
  }

  test("giniAsOf(1) equals the inline full-corpus query — the verbatim-oracle claim") {
    val p = BalanceWarehouse.builtGenPath(spark, Dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val probe = rows(BalanceWarehouse.giniAsOf(spark, p, 1))
    assert(probe == rows(Staking.richlistGini(spark, Dir)),
      "as-of gini diverges from the inline full-corpus query")
    assert(probe.nonEmpty)
  }

  test("the as-of read never even lists later generations (CommitLog fold)") {
    val p = BalanceWarehouse.builtGenPath(spark, Dir)
    val roots = BalanceWarehouse.mergedHistAsOf(spark, p, 1)
      .queryExecution.sparkPlan.collectLeaves()
      .collect { case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString) }
      .flatten
    assert(roots.nonEmpty, "no FileSourceScanExec in as-of plan")
    // stronger than partition pruning: the retraction generation's
    // directory is absent from the scan ROOTS — not pruned after
    // listing, never listed at all
    assert(roots.exists(_.endsWith("gen-0")) && roots.exists(_.endsWith("gen-1")),
      s"asOf(1) must read gens 0 and 1: $roots")
    assert(!roots.exists(_.endsWith("gen-2")),
      s"asOf(1) listed the later generation: $roots")
  }

  test("horizon compaction: asOf(g >= h) bit-invariant, asOf(g < h) empty") {
    val p = freshGenLog()
    val at1 = histAsOf(p, 1)
    val at2 = histAsOf(p, 2)
    assert(histAsOf(p, 0).nonEmpty && at1.nonEmpty && at2.nonEmpty)
    BalanceWarehouse.compactHorizon(spark, p, 1)
    assert(histAsOf(p, 1) == at1, "horizon compaction changed asOf(horizon)")
    assert(histAsOf(p, 2) == at2, "horizon compaction changed asOf(head)")
    assert(histAsOf(p, 0).isEmpty,
      "asOf before the horizon should be empty — the retention boundary")
    // the horizon base is physically one row per key (the rebase dir
    // read raw through the committed fold, no merge on top)
    assert(sources.CommitLog.snapshot(spark, p).read(p, asOfGen = 1L).count()
      == at1.size)
  }
}
