package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.HllWarehouse
import graft.sources.Tables

/** The HLL sketch warehouse contract: probe estimates off the
  * refreshed index equal the one-shot build's (max-register merge is
  * associative), daily and trailing-7-day estimates track the exact
  * distinct counts within the sketch tolerance, compaction is
  * probe-invariant, the probe plan never rescans events, and the
  * streaming twin folds to probe-identical estimates.
  */
class HllWarehouseSpec extends RollupLawRows {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-hll-$tag").resolve("idx").toString

  private def estimates(path: String): Map[String, (Long, Long)] =
    HllWarehouse.probe(spark, path).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2))).toMap

  // lifecycle laws — defined once in RollupLawsSpec
  lawRow("refreshed index probes identically to the one-shot build",
    RollupLaws.Refresh, "hll")
  lawRow("compaction is probe-invariant and leaves one sketch per day",
    RollupLaws.Compact, "hll")
  lawRow("the probe-side merge scans ONLY the warehouse — zero events scans",
    RollupLaws.Scan, "hll")
  lawRow("streaming refresh across micro-batches probes identically to one-shot",
    RollupLaws.Stream, "hll")

  test("daily and trailing-7d estimates track exact distincts within 2%") {
    val path = HllWarehouse.builtPath(spark, Dir)
    val est = estimates(path)
    val e = Tables(spark, Dir).events
      .select(to_date(col("ts")).as("date"), col("user_id"))
    val exactDaily = e.groupBy(col("date"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exact7d = e.select(col("date").as("d0")).distinct()
      .join(e, datediff(col("d0"), col("date")).between(0, 6))
      .groupBy(col("d0"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(est.keySet == exactDaily.keySet)
    for ((d, (daily, w)) <- est) {
      assert(math.abs(daily - exactDaily(d)).toDouble / exactDaily(d) <= 0.02,
        s"$d daily est $daily vs exact ${exactDaily(d)}")
      assert(math.abs(w - exact7d(d)).toDouble / exact7d(d) <= 0.02,
        s"$d 7d est $w vs exact ${exact7d(d)}")
      assert(w >= daily - (0.02 * w).toLong,
        s"$d trailing actives $w below daily $daily beyond tolerance")
    }
  }

  test("planted overlap: trailing-window union counts distinct users exactly at low cardinality") {
    val s = spark
    import s.implicits._
    // day 1: users 1-10; day 2: users 6-15 (5 overlap); day 9: users 1-5.
    // HLL at lgK 14 is exact at these cardinalities, so the window
    // union must be the true distinct count — and day 9's window must
    // NOT include days 1-2 (outside the trailing 7)
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d 10:00:00")
    val rows = (1L to 10L).map(u => (t(1), u)) ++
      (6L to 15L).map(u => (t(2), u)) ++ (1L to 5L).map(u => (t(9), u))
    val p = tmp("planted")
    HllWarehouse.materializeFrom(rows.toDF("ts", "user_id"), p)
    val est = HllWarehouse.probe(spark, p).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(est("2024-03-01") == ((10L, 10L)))
    // day 2's trailing window spans days 1-2: 15 distinct users
    assert(est("2024-03-02") == ((10L, 15L)))
    // day 9's window spans days 3-9 only: just its own 5 users
    assert(est("2024-03-09") == ((5L, 5L)))

    // PARAMETERIZED window (round 12, VERDICT-r11 ask #7): at W = 3,
    // day 2 still unions days 1-2 (15), but day 9's window spans days
    // 7-9 — just itself; at W = 9, day 9 reaches back to day 1 and
    // the union is all 15 distinct users
    val est3 = HllWarehouse.probe(spark, p, windowDays = 3).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(est3("2024-03-02") == ((10L, 15L)))
    assert(est3("2024-03-09") == ((5L, 5L)))
    val est9 = HllWarehouse.probe(spark, p, windowDays = 9).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(est9("2024-03-09") == ((5L, 15L)))
    // the column carries the bound window
    assert(HllWarehouse.probe(spark, p, windowDays = 9)
      .columns.toSeq == Seq("date", "active_accounts", "active_9d"))
    // and ANY window's plan stays metadata-scale: warehouse-only scan
    // roots at W = 30 (the multi-week dashboards production binds)
    val scans30 = HllWarehouse.probe(spark, p, windowDays = 30)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    val roots30 = scans30.flatMap(_.relation.location.rootPaths).map(_.toString)
    assert(roots30.forall(_.contains(p)),
      s"W=30 probe scans outside the warehouse: $roots30")
  }

  test("ad-hoc window probe: within 2% of the exact windowed distinct, zero events scans") {
    val path = HllWarehouse.builtPath(spark, Dir)
    val probe = HllWarehouse.windowProbe(spark, path)
    val row = probe.collect().head
    val (start, end) = (row.getDate(0).toString, row.getDate(1).toString)
    assert(start == "2024-01-08" && end == "2024-01-21")
    assert(row.getLong(2) == 14L, s"expected 14 days in window, got ${row.getLong(2)}")
    val exact = Tables(spark, Dir).events
      .filter(to_date(col("ts")).between(lit(start), lit(end)))
      .agg(countDistinct(col("user_id"))).head().getLong(0)
    val est = row.getLong(3)
    assert(math.abs(est - exact).toDouble / exact <= 0.02,
      s"window est $est vs exact $exact")
    // the probe's only scan is the warehouse — never raw events
    val scans = probe.queryExecution.sparkPlan
      .collect { case f: FileSourceScanExec => f }
    val roots = scans.flatMap(_.relation.location.rootPaths).map(_.toString)
    assert(roots.nonEmpty && roots.forall(_.contains(path)),
      s"unexpected scan roots: $roots")
  }

  test("ad-hoc window probe is exact on a planted low-cardinality corpus") {
    val s = spark
    import s.implicits._
    // users repeat across days INSIDE the window: additive rollups
    // would report 3×10, the sketch union must report 15 distinct
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    val rows = (1L to 10L).map(u => (t(8), u)) ++
      (6L to 15L).map(u => (t(10), u)) ++ (1L to 10L).map(u => (t(20), u)) ++
      (100L to 120L).map(u => (t(3), u)) // outside the window — must not leak in
    val p = tmp("window")
    HllWarehouse.materializeFrom(rows.toDF("ts", "user_id"), p)
    val est = HllWarehouse.windowProbe(spark, p).collect().head
    assert(est.getLong(2) == 3L, s"3 sketch days expected, got ${est.getLong(2)}")
    assert(est.getLong(3) == 15L, s"window distinct 15 expected, got ${est.getLong(3)}")
  }

  test("window probe prunes pre/post-window generations at the log (r14 ask #4)") {
    // the date-cadence build that makes recorded stats selective: one
    // generation per calendar week (the TsWarehouse.builtWeeklyPath
    // rationale on the sketch member) — at years of daily generations
    // the window probe must list O(window), not O(history)
    val e = Tables(spark, Dir).events
    val week = floor(datediff(to_date(col("ts")),
      lit("2024-01-01").cast("date")) / 7)
    val p = tmp("hll-weekly")
    HllWarehouse.materializeFrom(e.filter(week === 0), p)
    (1 to 4).foreach(w => HllWarehouse.refresh(spark, e.filter(week === w), p))
    val snap = sources.CommitLog.snapshot(spark, p)
    // the registered window [01-08, 01-21] spans exactly weeks 1–2:
    // the other three generations are provably outside and must be
    // pruned AT THE LOG, before any file listing
    val (kept, pruned) = snap.partitionGens(p, "date",
      Some("2024-01-08"), Some("2024-01-21"))
    assert(kept.size == 2 && pruned.size == 3,
      s"expected 2 kept / 3 pruned generations, got $kept / $pruned")
    // pruned generations never reach the plan
    val probe = HllWarehouse.windowProbe(spark, p)
    val roots = probe.queryExecution.sparkPlan
      .collect { case f: FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths).map(_.toString)
    assert(roots.nonEmpty && roots.forall(r => kept.exists(g => r.endsWith(s"gen-$g"))),
      s"probe lists non-kept generations: $roots")
    // skipping is a pure optimization: row equality with the
    // unskipped read (register-max associativity makes delta-merge
    // order irrelevant)
    val row = probe.collect().head
    val full = snap.read(p)
      .filter(col("date").between(lit("2024-01-08").cast("date"),
        lit("2024-01-21").cast("date")))
      .agg(countDistinct(col("date")).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("act"))
      .head()
    assert(row.getLong(2) == full.getLong(0))
    assert(row.getLong(3) == full.getLong(1))
    // a window entirely outside recorded history: every generation
    // pruned, the probe serves the defined zero row without listing
    // (or scanning) anything
    val out = HllWarehouse.windowProbe(spark, p, "2030-01-01", "2030-01-07")
    val (k2, p2) = snap.partitionGens(p, "date",
      Some("2030-01-01"), Some("2030-01-07"))
    assert(k2.isEmpty && p2.size == 5)
    val orow = out.collect().head
    assert(orow.getLong(2) == 0L && orow.getLong(3) == 0L)
    // but a path that was NEVER BUILT stays loud — "zero active
    // users" must not be servable off a typo'd or unbuilt path
    // (review r14: the readWhere rewrite made None ambiguous there)
    intercept[IllegalStateException](
      HllWarehouse.windowProbe(spark, tmp("never-built")))
  }

}
