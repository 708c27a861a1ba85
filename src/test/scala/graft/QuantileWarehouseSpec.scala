package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.QuantileWarehouse
import graft.sources.Tables

/** The gas-quantile histogram warehouse contract: refresh == one-shot
  * rebuild bit-for-bit (integer-count associativity), the quantile
  * tail reproduces hand-computed interpolated quantiles on planted
  * histograms, the window probe list-prunes the date-partitioned
  * layout to exactly its days and equals the quantiles of the
  * date-filtered events, probes never rescan events, compaction is
  * probe-invariant, and the streaming twin folds micro-batches to the
  * same histogram.  (The DuckDB row_number oracle is the driver-side
  * gate; these pins cover the warehouse mechanics it can't see.)
  */
class QuantileWarehouseSpec extends RollupLawRows {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-quantw-$tag").resolve("idx").toString

  // lifecycle laws — defined once in RollupLawsSpec
  lawRow("refresh equals the one-shot rebuild bit-for-bit",
    RollupLaws.Refresh, "quantile")
  lawRow("the probe scans ONLY the warehouse — zero events scans",
    RollupLaws.Scan, "quantile")
  lawRow("compaction is probe-bit-invariant and leaves one row per key",
    RollupLaws.Compact, "quantile")
  lawRow("streaming refresh across micro-batches equals the one-shot fold",
    RollupLaws.Stream, "quantile")
  lawRow("streaming exactly-once: a redelivered committed batch folds nothing, even after compact",
    RollupLaws.Replay, "quantile")
  lawRow("RETRACT: negative deltas + compact == rebuild-on-survivors, bit-for-bit",
    RollupLaws.Retract, "quantile")

  test("quantile tail: hand-computed interpolation on a planted histogram") {
    import spark.implicits._
    // denom "x": values 1,2,3,10 (quantized 1e4×) — n=4:
    //   p50: idx100=150 -> lo=1 rem=50 -> 2 + (3-2)*0.5  = 2.5
    //   p90: idx100=270 -> lo=2 rem=70 -> 3 + (10-3)*0.7 = 7.9
    //   p99: idx100=297 -> lo=2 rem=97 -> 3 + (10-3)*0.97 = 9.79
    // denom "y": single value 42 — all quantiles 42
    val hist = Seq(
      ("x", 10000L, 1L), ("x", 20000L, 1L), ("x", 30000L, 1L), ("x", 100000L, 1L),
      ("y", 420000L, 1L)).toDF("denom", "q", "c")
    val r = QuantileWarehouse.quantilesOfHist(hist).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))
      .toSet
    assert(r == Set(("x", 4L, 2.5, 7.9, 9.79), ("y", 1L, 42.0, 42.0, 42.0)),
      s"planted quantiles wrong: $r")
  }

  test("window probe equals quantiles of the date-filtered events and prunes to its days") {
    val path = QuantileWarehouse.builtPath(spark, Dir)
    val (start, end) = ("2024-01-08", "2024-01-21")
    val probe = QuantileWarehouse.windowProbe(spark, path, start, end)
    val filtered = Tables(spark, Dir).events
      .filter(to_date(col("ts")).between(lit(start).cast("date"), lit(end).cast("date")))
    val direct = QuantileWarehouse.quantilesOfHist(
      QuantileWarehouse.deltas(filtered))
    assert(probe.collect().map(_.toString).toSet ==
      direct.collect().map(_.toString).toSet,
      "window probe diverges from direct quantiles of the window's events")
    // the probe's input read (pre-localCheckpoint plan cut): the date
    // filter must land in partitionFilters of the partitioned layout
    val windowRead = QuantileWarehouse.histRead(spark, path)
      .filter(col("date").between(lit(start).cast("date"), lit(end).cast("date")))
    // committed generation roots (CommitLog, r11): one scan per live
    // generation, each date-pruning its own partitions
    val scans = windowRead.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(path)) => f
      }
    assert(scans.nonEmpty, "no warehouse FileSourceScanExec in plan")
    val allParts = scans.map(_.relation.location.listFiles(Nil, Nil).length).sum
    val pruned = scans.map(s =>
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters).length).sum
    assert(allParts >= 28, s"expected ~30 date partitions at rest, got $allParts")
    assert(pruned <= 14 * scans.length,
      s"14-day window probed $pruned of $allParts partitions")
  }

  test("window probe skips whole generations at the log under an ingest-cadence build (r12)") {
    val e = Tables(spark, Dir).events
    val week = floor((dayofmonth(col("ts")) - 1) / 7).cast("int")
    val p = tmp("skip")
    QuantileWarehouse.materializeFrom(e.filter(week === 0), p)
    (1 to 4).foreach(w => QuantileWarehouse.refresh(spark, e.filter(week === w), p))
    val (start, end) = ("2024-01-08", "2024-01-21")
    // the log proves weeks 0 (Jan 1-7), 3 (22-28), 4 (29-30) empty for
    // the window — dropped BEFORE any file listing; weeks 1-2 survive
    val (kept, pruned) = sources.CommitLog.snapshot(spark, p)
      .partitionGens(p, "date", Some(start), Some(end))
    assert(kept == Seq(1L, 2L) && pruned == Seq(0L, 3L, 4L),
      s"expected log-level skip of weeks 0,3,4: kept=$kept pruned=$pruned")
    val probe = QuantileWarehouse.windowProbe(spark, p, start, end)
    // rows: identical to the mod-10 build's window probe (same events)
    val want = QuantileWarehouse.windowProbe(spark,
      QuantileWarehouse.builtPath(spark, Dir), start, end)
    assert(probe.collect().map(_.toString).toSet ==
      want.collect().map(_.toString).toSet,
      "log-skipped window probe diverges from the unskipped build's")
    // the skipped generations never reach the plan
    val files = QuantileWarehouse.histReadWindow(spark, p, start, end).inputFiles
    assert(files.nonEmpty &&
      files.forall(f => f.contains("/gen-1/") || f.contains("/gen-2/")),
      s"pruned generations leaked into the window read: ${files.toSeq}")
  }

  test("sketch lane: window quantiles land within the KLL rank bound of exact") {
    val path = QuantileWarehouse.Kll.builtPath(spark, Dir)
    val (start, end) = ("2024-01-08", "2024-01-21")
    val got = QuantileWarehouse.Kll.windowProbe(spark, path, start, end)
      .collect().map(r => r.getString(0) ->
        Seq(0.5 -> r.getDouble(1), 0.9 -> r.getDouble(2), 0.99 -> r.getDouble(3)))
      .toMap
    assert(got.nonEmpty, "sketch window probe returned no denoms")
    val exact = Tables(spark, Dir).events
      .filter(to_date(col("ts")).between(lit(start).cast("date"), lit(end).cast("date")))
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (d, rs) => d -> rs.map(_.getDouble(1)).sorted }
    got.foreach { case (denom, quants) =>
      val vals = exact(denom)
      val n = vals.length.toDouble
      quants.foreach { case (p, v) =>
        // exact normalized rank of the reported value, vs the KLL
        // k=200 two-sided bound (~1.3%) + 1/n small-sample slack
        val rank = vals.count(_ <= v) / n
        assert(math.abs(rank - p) <= 0.02 + 1.0 / n,
          s"$denom p$p: reported $v has exact rank $rank (n=${n.toInt})")
      }
    }
  }

  test("sketch lane streaming refresh keeps the rank bound across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val all = Tables(spark, Dir).events
      .select(col("ts").cast("string"), col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val p = tmp("skstream")
    val mem = MemoryStream[(String, String, Double)]
    val q = QuantileWarehouse.Kll.streamingRefresh(
      mem.toDF().toDF("ts", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp")), p)
    try {
      val (b1, b2) = all.splitAt(all.length / 3)
      mem.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // all-days window covers the full corpus: bound vs exact ranks
    val got = QuantileWarehouse.Kll.windowProbe(spark, p,
        "2024-01-01", "2024-12-31")
      .collect().map(r => r.getString(0) ->
        Seq(0.5 -> r.getDouble(1), 0.9 -> r.getDouble(2), 0.99 -> r.getDouble(3)))
      .toMap
    val exact = all.groupBy(_._2).map { case (d, rs) => d -> rs.map(_._3).sorted }
    got.foreach { case (denom, quants) =>
      val vals = exact(denom); val n = vals.length.toDouble
      quants.foreach { case (pq, v) =>
        val rank = vals.count(_ <= v) / n
        assert(math.abs(rank - pq) <= 0.02 + 1.0 / n,
          s"streamed $denom p$pq: $v has exact rank $rank") }
    }
  }

}
