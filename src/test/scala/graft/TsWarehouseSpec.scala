package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{TimeSeries, TsWarehouse}
import graft.sources.Tables

/** The daily-rollup warehouse contract: refresh == one-shot rebuild
  * bit-for-bit (DECIMAL-sum associativity), the rollup-served anomaly
  * probe equals the inline query row-for-row (what backs the verbatim
  * oracle share), the probe plan never rescans events, compaction is
  * probe-invariant, and the streaming twin folds micro-batches to the
  * same grid.
  */
class TsWarehouseSpec extends RollupLawRows {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-tsw-$tag").resolve("idx").toString

  // lifecycle laws — defined once in RollupLawsSpec
  lawRow("refresh equals the one-shot rebuild bit-for-bit",
    RollupLaws.Refresh, "ts")
  lawRow("the probe-side merge scans ONLY the warehouse — zero events scans",
    RollupLaws.Scan, "ts")
  lawRow("compaction is probe-bit-invariant and leaves one row per key",
    RollupLaws.Compact, "ts")
  lawRow("retract ∘ refresh equals rebuild-on-survivors bit-for-bit — the (vsum, n) cure",
    RollupLaws.Retract, "ts")
  lawRow("streaming exactly-once: a redelivered committed batch folds nothing, even after compact",
    RollupLaws.Replay, "ts")
  lawRow("streaming refresh across micro-batches equals the one-shot fold",
    RollupLaws.Stream, "ts")

  test("rollup-served anomaly probe equals the inline query row-for-row") {
    val path = TsWarehouse.builtPath(spark, Dir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4))
    val probe = TsWarehouse.anomalyProbe(spark, path).collect().map(key).toSeq
    val inline = TimeSeries.tsAnomaly(spark, Dir).collect().map(key).toSeq
    assert(probe == inline, s"probe=$probe inline=$inline")
    assert(probe.nonEmpty)
  }

  test("corr and seasonal probes equal their inline queries row-for-row") {
    val path = TsWarehouse.builtPath(spark, Dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(TsWarehouse.corrProbe(spark, path)) ==
      rows(TimeSeries.tsCorr(spark, Dir)), "corr probe diverges")
    assert(rows(TsWarehouse.seasonalProbe(spark, path)) ==
      rows(TimeSeries.tsSeasonal(spark, Dir)), "seasonal probe diverges")
    assert(TsWarehouse.corrProbe(spark, path).count() > 0)
  }

  test("decompose probe equals the inline query row-for-row — the fourth grid consumer") {
    val path = TsWarehouse.builtPath(spark, Dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val probe = rows(TsWarehouse.decomposeProbe(spark, path))
    assert(probe == rows(TimeSeries.tsDecompose(spark, Dir)),
      "decompose probe diverges from inline")
    assert(probe.nonEmpty)
  }

  test("backtest probe equals the inline query row-for-row — the seventh grid consumer") {
    val path = TsWarehouse.builtPath(spark, Dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val probe = rows(TsWarehouse.backtestProbe(spark, path))
    assert(probe == rows(TimeSeries.tsForecastBacktest(spark, Dir)),
      "backtest probe diverges from inline")
    assert(probe.nonEmpty)
  }

  test("seasonal-anomaly probe equals the inline query row-for-row — the sixth grid consumer") {
    val path = TsWarehouse.builtPath(spark, Dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val probe = rows(TsWarehouse.anomalySeasonalProbe(spark, path))
    assert(probe == rows(TimeSeries.tsAnomalySeasonal(spark, Dir)),
      "seasonal-anomaly probe diverges from inline")
    assert(probe.nonEmpty)
  }

  test("forecast probe equals the inline query row-for-row — the fifth grid consumer") {
    val path = TsWarehouse.builtPath(spark, Dir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val probe = rows(TsWarehouse.forecastProbe(spark, path))
    assert(probe == rows(TimeSeries.tsForecast(spark, Dir)),
      "forecast probe diverges from inline")
    assert(probe.nonEmpty)
  }

  test("a fully-retracted key drops; a zero-sum day survives — the n column's job") {
    val s = spark
    import s.implicits._
    def ev(day: Int, et: String, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-02-0$day 10:00:00"), et, v)
    // zerosum: two events cancelling to 0.0 on day 1 (must STAY);
    // gone: one event on day 2 that the retraction removes entirely
    val base = Seq(ev(1, "zerosum", 5.0), ev(1, "zerosum", -5.0),
      ev(2, "gone", 3.0)).toDF("ts", "event_type", "value")
    val p = tmp("disambig")
    TsWarehouse.materializeFrom(base, p)
    TsWarehouse.retract(spark,
      Seq(ev(2, "gone", 3.0)).toDF("ts", "event_type", "value"), p)
    val merged = TsWarehouse.mergedDaily(spark, p).collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getDouble(2))).toSet
    assert(merged == Set(("2024-02-01", "zerosum", 0.0)),
      s"expected only the populated zero-sum key, got $merged")
  }

  test("recent-window probe skips pre-window generations AT THE LOG and stays exact") {
    val path = TsWarehouse.builtWeeklyPath(spark, Dir)
    val snap = sources.CommitLog.snapshot(spark, path)
    // the latest day answers from the log (zero scans) and the cutoff
    // proves weeks 0-2 empty: events span Jan 1-30, so the trailing-7
    // cutoff is Jan 24 — gens 0 (Jan 1-7), 1 (8-14), 2 (15-21) prune;
    // 3 (22-28) and 4 (29-30) survive
    assert(snap.statsMax(path, "date").contains("2024-01-30"))
    val (kept, pruned) = snap.partitionGens(path, "date", Some("2024-01-24"), None)
    assert(pruned == Seq(0L, 1L, 2L) && kept == Seq(3L, 4L),
      s"expected weeks 0-2 skipped: kept=$kept pruned=$pruned")
    val probe = TsWarehouse.recentWindow(spark, path, days = 7)
    // the skipped generations never reach the plan
    val files = probe.inputFiles.toSeq
    assert(files.nonEmpty &&
      files.forall(f => f.contains("/gen-3/") || f.contains("/gen-4/")),
      s"pruned generations leaked into the probe scan: $files")
    // exactness: the skip-served rows equal the unskipped filtered fold
    val want = TsWarehouse.mergedDaily(spark, path)
      .filter(col("date") >= lit("2024-01-24").cast("date"))
      .collect().map(_.toString).toSet
    val got = probe.collect().map(_.toString).toSet
    assert(got == want, "log-skipped window diverges from the full fold")
    assert(got.nonEmpty)
  }

  test("recent-window stays green and prunable through retract + compact") {
    val e = Tables(spark, Dir).events
    val p = tmp("recent")
    TsWarehouse.materializeFrom(e.filter(TsWarehouse.weekChunk <= 2), p)
    (3 to 4).foreach(w => TsWarehouse.refresh(spark, e.filter(TsWarehouse.weekChunk === w), p))
    TsWarehouse.retract(spark, e.filter(TsWarehouse.isRetractedEvent), p)
    def recent(): Set[String] =
      TsWarehouse.recentWindow(spark, p, days = 7).collect().map(_.toString).toSet
    val before = recent()
    // oracle: rebuild on survivors, filtered the same way
    val b = tmp("recent-ref")
    TsWarehouse.materializeFrom(e.filter(!TsWarehouse.isRetractedEvent), b)
    assert(before == TsWarehouse.recentWindow(spark, b, days = 7)
      .collect().map(_.toString).toSet,
      "retracted recent window diverges from rebuild-on-survivors")
    // compact folds to ONE generation that still carries date stats —
    // the probe keeps working (nothing prunable, but statsMax intact)
    TsWarehouse.compact(spark, p)
    assert(recent() == before, "compaction changed the recent window")
    assert(sources.CommitLog.snapshot(spark, p).statsMax(p, "date").nonEmpty,
      "compact must re-record date stats or the probe dies")
  }

  test("probe scan set is bounded by the WINDOW, not by history: 30 daily generations") {
    val e = Tables(spark, Dir).events
    val p = tmp("daily")
    // a month of daily ingest cadence — 30 single-day generations,
    // the history-grows-forever regime the skip exists for
    TsWarehouse.materializeFrom(e.filter(dayofmonth(col("ts")) === 1), p)
    (2 to 30).foreach(d =>
      TsWarehouse.refresh(spark, e.filter(dayofmonth(col("ts")) === d), p))
    val snap = sources.CommitLog.snapshot(spark, p)
    val (kept, pruned) = snap.partitionGens(p, "date", Some("2024-01-24"), None)
    assert(kept.size == 7 && pruned.size == 23,
      s"trailing-7 over 30 daily gens must keep 7: kept=$kept")
    val probe = TsWarehouse.recentWindow(spark, p, days = 7)
    val scannedGens = probe.inputFiles
      .map(f => f.split("/gen-")(1).split("/")(0).toLong).toSet
    assert(scannedGens == kept.toSet,
      s"probe must list EXACTLY the window's generations: $scannedGens")
    // and the skip-served rows equal the week-cadence build's — the
    // ingest batching is invisible to the result (associativity)
    val want = TsWarehouse.recentWindow(spark,
      TsWarehouse.builtWeeklyPath(spark, Dir), days = 7)
      .collect().map(_.toString).toSet
    assert(probe.collect().map(_.toString).toSet == want,
      "daily-cadence window diverges from the weekly-cadence build's")
  }

  test("anchor contract: tail retraction does NOT slide the window back; compact heals (review r12b)") {
    val s = spark
    import s.implicits._
    def ev(day: Int, et: String, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-03-$day%02d 10:00:00"), et, v)
    val early = (1 to 10).map(d => ev(d, "steady", 1.0))
    val tail = (25 to 30).map(d => ev(d, "burst", 2.0))
    val p = tmp("anchor")
    TsWarehouse.materializeFrom(early.toDF("ts", "event_type", "value"), p)
    TsWarehouse.refresh(spark, tail.toDF("ts", "event_type", "value"), p)
    // retract the ENTIRE tail: the anchor stays at the newest date
    // ever ingested (stats are retraction-agnostic), so the trailing
    // window is honestly EMPTY — never silently re-anchored onto
    // week-old data
    TsWarehouse.retract(spark, tail.toDF("ts", "event_type", "value"), p)
    assert(sources.CommitLog.snapshot(spark, p).statsMax(p, "date")
      .contains("2024-03-30"))
    assert(TsWarehouse.recentWindow(spark, p, days = 5).isEmpty,
      "a fully-retracted tail must read as an empty recent window")
    // compact folds to the survivors and re-records stats from them:
    // the anchor heals onto the newest SURVIVING date
    TsWarehouse.compact(spark, p)
    assert(sources.CommitLog.snapshot(spark, p).statsMax(p, "date")
      .contains("2024-03-10"), "compact must re-anchor stats on survivors")
    val healed = TsWarehouse.recentWindow(spark, p, days = 5).collect()
      .map(r => r.getDate(0).toString).toSet
    assert(healed == (6 to 10).map(d => f"2024-03-$d%02d").toSet,
      s"post-compact window must anchor on surviving data: $healed")
  }

  test("full retraction + compact serves the EMPTY probe frame, not an error (ADVICE r12)") {
    val s = spark
    import s.implicits._
    val rows = (1 to 6).map(d =>
      (java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:00:00"), "steady", 1.0))
      .toDF("ts", "event_type", "value")
    val p = tmp("foldempty")
    TsWarehouse.materializeFrom(rows, p)
    TsWarehouse.retract(spark, rows, p)
    // compact's zero-row replace records no date stats BY DESIGN —
    // this is the reachable no-stats state the probe must distinguish
    // from "built elsewhere": the folded warehouse is EMPTY, and an
    // alerter asking for the last week deserves an empty answer
    TsWarehouse.compact(spark, p)
    val win = TsWarehouse.recentWindow(spark, p, days = 7)
    assert(win.isEmpty, "empty-after-compact must serve an empty window")
    assert(win.columns.toSeq == Seq("date", "event_type", "v"),
      "the empty frame must keep the probe schema")
    // a warehouse that was never built at all stays LOUD
    val unbuilt = tmp("neverbuilt")
    intercept[IllegalStateException](
      TsWarehouse.recentWindow(spark, unbuilt, days = 7))
    // and a stats-less but NON-empty state (a generation written
    // outside the verbs) falls back to one scan and still serves
    val q = tmp("nostats")
    sources.CommitLog.transaction(spark, q)(_.replace(
      TsWarehouse.deltas(rows), q)) // no statsCols — foreign writer
    val served = TsWarehouse.recentWindow(spark, q, days = 3).collect()
      .map(_.getDate(0).toString).toSet
    assert(served == Set("2024-03-04", "2024-03-05", "2024-03-06"),
      s"scan fallback must still serve the window: $served")
  }

}
