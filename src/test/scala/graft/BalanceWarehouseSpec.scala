package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{BalanceWarehouse, Staking}
import graft.sources.Tables

/** The balance-histogram warehouse contract: refresh == one-shot
  * rebuild bit-for-bit (integer-count associativity), the
  * histogram-served Gini probe equals the inline query row-for-row
  * (what backs the verbatim oracle share), the probe plan never
  * rescans the accounts table, compaction is probe-invariant, and the
  * streaming twin folds micro-batches to the same histogram.
  */
class BalanceWarehouseSpec extends RollupLawRows {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-balw-$tag").resolve("idx").toString

  private def histOf(path: String): Set[(String, Long, Long)] =
    BalanceWarehouse.merged(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  // lifecycle laws — defined once in RollupLawsSpec
  lawRow("refresh equals the one-shot rebuild bit-for-bit",
    RollupLaws.Refresh, "balance")
  lawRow("the probe-side merge scans ONLY the warehouse — zero customer scans",
    RollupLaws.Scan, "balance")
  lawRow("compaction is probe-bit-invariant and leaves one row per key",
    RollupLaws.Compact, "balance")
  lawRow("retract ∘ refresh == rebuild-on-(base ∖ removed), BIT-FOR-BIT on the merged state",
    RollupLaws.Retract, "balance")
  lawRow("streaming refresh across micro-batches equals the one-shot fold",
    RollupLaws.Stream, "balance")

  test("histogram-served Gini probe equals the inline query row-for-row") {
    val path = BalanceWarehouse.builtPath(spark, Dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val probe = rows(BalanceWarehouse.giniProbe(spark, path))
    assert(probe == rows(Staking.richlistGini(spark, Dir)),
      "gini probe diverges from inline")
    assert(probe.nonEmpty)
  }

  test("retracted Gini probe equals the inline query over the surviving accounts") {
    val path = BalanceWarehouse.builtRetractedPath(spark, Dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val probe = rows(BalanceWarehouse.giniProbe(spark, path))
    val survivors = Tables(spark, Dir).customer
      .filter(pmod(col("c_custkey"), lit(3L)) =!= 0)
      .join(broadcast(Tables(spark, Dir).nation),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("denom"), col("c_acctbal").as("bal"))
    assert(probe == rows(graft.operators.Staking.giniOf(survivors)),
      "retracted gini probe diverges from the inline survivors query")
    assert(probe.nonEmpty)
  }

  test("band-split generations prune at the log for value-band reads (statsCols, r13)") {
    val s = spark
    import s.implicits._
    def bal(v: Double*) = v.map(x => ("A", x)).toDF("denom", "bal")
    val p = tmp("band")
    // two ingest windows with disjoint value bands: q ∈ [100, 200]
    // then q ∈ [10000, 15000] — the recorded q stats must prove the
    // low band empty for a high-band read before any file listing
    BalanceWarehouse.materializeFrom(bal(1.00, 2.00), p)
    BalanceWarehouse.refresh(spark, bal(100.00, 150.00), p)
    val snap = sources.CommitLog.snapshot(spark, p)
    val (kept, pruned) = snap.partitionGens(p, "q", Some("9000"), None)
    assert(pruned == Seq(0L) && kept == Seq(1L),
      s"low-band generation must prune at the log: kept=$kept pruned=$pruned")
    // the pruned read equals the full merge under the same band filter
    val got = snap.readWhere(p, "q", Some("9000"), None).get
      .filter(col("q") >= 9000L)
      .groupBy(col("denom"), col("q")).agg(sum(col("c")).as("c"))
      .collect().map(_.toString).toSet
    val want = BalanceWarehouse.merged(spark, p)
      .filter(col("q") >= 9000L).collect().map(_.toString).toSet
    assert(got == want && got.nonEmpty, "band read diverges from the full fold")
    // compact re-records q stats from the folded survivors
    BalanceWarehouse.compact(spark, p)
    assert(sources.CommitLog.snapshot(spark, p).statsMax(p, "q")
      .contains("15000"), "compact must re-record q stats")
  }

  test("CDC twin: an insert/update/delete change stream folds to the final-state histogram") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // three accounts; B updates (the documented -old/+new pair), C deletes
    val changes: Seq[(String, Double, Int)] = Seq(
      ("US", 10.00, 1), ("US", 25.50, 1), ("EU", 7.25, 1),   // inserts A,B,C
      ("US", 25.50, -1), ("US", 31.00, 1),                    // update B
      ("EU", 7.25, -1))                                       // delete C
    val p = tmp("cdc")
    val mem = MemoryStream[(String, Double, Int)]
    val q = graft.operators.BalanceWarehouse.streamingChanges(
      mem.toDF().toDF("denom", "bal", "op"), p)
    try {
      // split ACROSS an update's two halves — the hardest batching
      val (b1, b2) = changes.splitAt(4)
      mem.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val finalState = Seq(("US", 10.00), ("US", 31.00))
      .toDF("denom", "bal")
    val oneShot = tmp("cdc-ref")
    graft.operators.BalanceWarehouse.materializeFrom(finalState, oneShot)
    assert(histOf(p) == histOf(oneShot),
      "CDC fold diverges from the final-state rebuild")
  }
}
