package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver parses Bench's FINAL stdout line out of a tail window
  * measured EXACTLY 2000 chars (BENCH_r06's `tail` field; its
  * 2,241-byte single line came back head-truncated → parsed null),
  * shared with the ~75-byte sbt success line.  These tests pin the
  * digest-line contract after the round-10 restructure (VERDICT-r09
  * ask #2): the at-rest PROBE rows are first-class digest citizens —
  * ALL current probes must ride even at worst-case widths — while the
  * per-query map flexes, folding its smallest rows into a `q_other`
  * rollup; ann + stress counts still ride; the assembler degrades
  * rather than overflow; the line must stay under the DigestBudget
  * budget in every case below. */
class BenchDigestSpec extends AnyFunSuite {

  private val stress =
    """{"stress":"dedup_cc","sf":"/root/testdata/sf0.1","reps":8,"n_docs":40000,""" +
      """"editdist_pairs":123456,"editdist_clique_pairs":112000,"editdist_sec":9.876543211,""" +
      """"ngram_pairs":156384,"ngram_sec":32.971632439,"n_groups":4756,"cc_sec":26.810371049,""" +
      """"minhash_cand":168224,"minhash_sec":5.809545925,""" +
      """"n_vecs":16000,"cosine_pairs":56000,"cosine_clique_pairs":56000,"cosine_sec":2.906778748,""" +
      """"inc_pairs":53192,"inc_clique_pairs":48184,"inc_sec":21.857642942,""" +
      """"cov_equal":2080,"cov_sec":3.123456789}"""
  // mirrors RecallMonitor.benchJson's shape
  private val ann =
    """{"s_knn_pq_refined":0.8,"s_knn_ivfpq":0.2,""" +
      """"s_knn_ivfpq_refined":0.8,""" +
      """"range_lsh_jaccard":1.0,"range_pairs":147}"""

  private def worstProbes = Bench.probeNames.map(n => n -> 99.99)
  // the itemized build bucket at its widest: every warehoused query
  // pays a (ridiculous) 999.99 s first run
  private def worstBuilds = Bench.probeNames.map(n => n -> 999.99)

  test("countsOnly keeps movable counts, drops times, strings, inputs, static bounds") {
    val c = StressBench.countsOnly(stress)
    assert(c.contains("\"ngram_pairs\":156384") && c.contains("\"n_groups\":4756"))
    assert(c.contains("\"editdist_pairs\":123456") && c.contains("\"inc_pairs\":53192"))
    assert(!c.contains("sec") && !c.contains("dedup_cc") && !c.contains("sf"))
    // inputs and deterministic lower bounds stay on the detail line only
    assert(!c.contains("reps") && !c.contains("n_docs") && !c.contains("n_vecs"))
    assert(!c.contains("clique"))
    assert(c.startsWith("{") && c.endsWith("}"))
  }

  test("worst-case widths: probes, >=3 build rows and >=4 query rows all ride; optional sections shed") {
    // 99.99 s for every row is wider than any plausible real run
    // (current max ≈ 11 s) — if THIS stays under budget a real run does.
    // Round 14 priority order (VERDICT-r13 ask #5): named probe,
    // build, and heavy-query rows are the rare diagnostics and hold
    // their floors on every rung; the ladder sheds stress counts, then
    // ann, when widths leave no room (their full values always ride
    // the detail line).
    val results = Bench.headlinerNames.map(n => n -> 99.99)
    val line = Bench.digestLine(results, worstProbes, 4699.953, "[]",
      "/root/testdata/sf0.1", stress, ann, buildSec = 999.99,
      builds = worstBuilds)
    assert(line.length <= Bench.DigestBudget, s"digest ${line.length}B over budget")
    assert(line.startsWith("""{"metric":"total","value":4699.953,"unit":"sec""""))
    assert(line.endsWith("}"))
    // the r11 audit header (VERDICT-r10 ask #2): reps + aggregation
    // marker + the one-time build bucket ride at worst-case widths
    // r16: the cpus/par echo rides between agg and build_sec
    assert(line.contains(""""reps":3,"agg":"min","cpus":-1,"par":-1,"build_sec":999.99"""),
      "audit header missing from the digest")
    // THE ask-#2 pin: every current probe row is driver-visible data
    // (centisecond integers since round 13 — 99.99 s rides as 9999)
    assert(line.contains("\"probes_cs\":{"))
    Bench.probeNames.foreach(n =>
      assert(line.contains("\"" + n + "\":9999"), s"probe $n fell out of the digest"))
    assert(!line.contains("\"p_other\""), "probes budget too small for the full set")
    // the named-row floors (r14): >=3 build rows, >=4 query rows
    val named = """"build_cs":\{([^}]*)\}""".r.findFirstMatchIn(line)
      .map(_.group(1).split(',').count(_.nonEmpty)).getOrElse(0)
    assert(named >= Bench.BuildFloorRows,
      s"only $named named build rows at worst case")
    assert(line.contains("\"b_other\":{\"n\":"),
      "build remainder count missing at worst case")
    val qNamed = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(line)
      .map(_.group(1).split(',').count(_.nonEmpty)).getOrElse(0)
    assert(qNamed >= Bench.QueryFloorRows,
      s"only $qNamed named query rows at worst case")
    assert(line.contains("\"q_other\":{\"n\":"))
  }

  test("probes reservation keeps >=10% row-growth headroom (VERDICT-r12 ask #7)") {
    // worst-case probe map width, derived from the live probe list at
    // the SATURATED cs width (ADVICE r13 #3: cs clamps at 5 digits, so
    // this is a true bound, not an assumption): per row 2 quotes +
    // name + colon + 5 cs digits + comma
    val worst = Bench.probeNames.map(_.length + 9).sum + 1 // braces − last comma
    assert(worst <= (Bench.ProbesBudget * 0.9).toInt,
      s"probes worst-case $worst B leaves <10% of ${Bench.ProbesBudget} — " +
        "the next probe row would fold the map to p_other")
  }

  test("a probe regressing past 100s rides saturated, never folds the map (ADVICE r13 #3)") {
    // every probe at 120.5 s — 5-digit cs rows, the width class the
    // old 4-digit worst case silently exceeded
    val regressed = Bench.probeNames.map(_ -> 120.5)
    val results = Bench.headlinerNames.map(n => n -> 99.99)
    val line = Bench.digestLine(results, regressed, 4699.953, "[]",
      "/root/testdata/sf0.1", stress, ann, buildSec = 999.99,
      builds = worstBuilds)
    assert(line.length <= Bench.DigestBudget, s"digest ${line.length}B over budget")
    Bench.probeNames.foreach(n =>
      assert(line.contains("\"" + n + "\":12050"), s"regressed probe $n fell out"))
    assert(!line.contains("\"p_other\""),
      "a >100s probe folded rows out of the map — the regressed-round blind spot")
    // saturation itself: a 10,000-second row displays as the 5-digit
    // cap instead of widening past every derived reservation
    val line2 = Bench.digestLine(results,
      Bench.probeNames.map(_ -> 10000.0), 4699.953, "[]",
      "/root/testdata/sf0.1", stress, ann, buildSec = 999.99,
      builds = worstBuilds)
    assert(line2.length <= Bench.DigestBudget)
    Bench.probeNames.foreach(n =>
      assert(line2.contains("\"" + n + "\":99999"), s"saturated probe $n fell out"))
  }

  test("digest names at least 3 build rows at worst-case widths (VERDICT-r13 ask #5)") {
    val results = Bench.headlinerNames.map(n => n -> 99.99)
    val line = Bench.digestLine(results, worstProbes, 4699.953, "[]",
      "/root/testdata/sf0.1", stress, ann, buildSec = 999.99,
      builds = worstBuilds)
    val bm = """"build_cs":\{([^}]*)\}""".r.findFirstMatchIn(line)
    assert(bm.isDefined, "build_cs section missing at worst case")
    val named = bm.get.group(1).split(',').count(_.nonEmpty)
    assert(named >= 3,
      s"only $named named build rows at worst case — a build anomaly is " +
        "not attributable from the driver artifact (the r13 one-row finding)")
  }

  test("realistic widths: the heavy rows ride by name") {
    // sub-second rows may fold; the expensive rows — what drift
    // grading watches — must always be individually visible
    val times = Map("s_logreg_ovr5" -> 10.26, "d_dedup_groups_lsh" -> 4.93,
      "s_bm25_probe_compacted" -> 4.04, "d_dedup_editdist" -> 3.75)
    val results = Bench.headlinerNames.map(n => n -> times.getOrElse(n, 0.41))
    val line = Bench.digestLine(results, Bench.probeNames.map(_ -> 0.42),
      75.145, "[]", "/root/testdata/sf0.1", stress, ann,
      buildSec = 170.0, builds = Bench.probeNames.map(_ -> 3.61))
    assert(line.length <= Bench.DigestBudget, s"digest ${line.length}B over budget")
    times.keys.foreach(n =>
      assert(line.contains("\"" + n + "\":"), s"heavy row $n fell out"))
    Bench.probeNames.foreach(n =>
      assert(line.contains("\"" + n + "\":42"), s"probe $n fell out"))
    // realistic build rows ride in centiseconds too — at least the
    // floor's worth of named rows (the r14 >=3 contract)
    assert(line.contains("\"build_cs\":{") && line.contains(":361"))
    val named = """"build_cs":\{([^}]*)\}""".r.findFirstMatchIn(line)
      .map(_.group(1).split(',').count(_.nonEmpty)).getOrElse(0)
    assert(named >= Bench.BuildFloorRows, s"only $named build rows at realistic widths")
    // ann keeps riding at realistic widths (stress counts are the
    // first shed — their full values live on the detail line)
    assert(line.contains("\"ann\":{"))
  }

  test("assembler degrades rather than overflow, line stays parseable") {
    // inflate the query list: the per-query map folds almost entirely
    // into q_other and the line still fits and closes
    val many = (1 to 60).map(i => s"imaginary_query_with_a_long_name_$i" -> 1.234)
    val line = Bench.digestLine(many, worstProbes, 74.04, "[]",
      "/root/testdata/sf0.1", stress, ann)
    assert(line.length <= Bench.DigestBudget)
    assert(line.contains("\"q_other\":{\"n\":") && line.endsWith("}"))
    Bench.probeNames.foreach(n => assert(line.contains("\"" + n + "\":9999")))
  }

  test("mass-failure rung: a KB-scale failed array still yields an under-budget digest") {
    // the degenerate round the ladder's last rungs exist for: most
    // headliners fail (-1 times), so `failed` alone is ~1.9 KB and
    // can never ride verbatim — the digest must fold probes into
    // p_other and failed into a count rather than overflow the
    // driver's tail window
    // every real headliner failing: the ladder folds probes into
    // p_other and the full failed array still rides (the
    // maximum-information rung that fits)
    val failedNames = Bench.headlinerNames
    val results = failedNames.map(_ -> -1.0)
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = Bench.digestLine(results, Bench.probeNames.map(_ -> -1.0),
      -1.0, failedJson, "/root/testdata/sf0.1", stress, ann)
    assert(line.length <= Bench.DigestBudget, s"mass-failure digest ${line.length}B over budget")
    assert(line.contains("\"failed\":[") && line.endsWith("}"))
    // pathological names: the failed array alone exceeds the budget,
    // so the last rungs must fold it to a count rather than overflow
    val huge = (1 to 60).map(i => f"imaginary_catastrophic_failure_with_a_long_name_$i%02d" -> -1.0)
    val hugeJson = huge.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val line2 = Bench.digestLine(huge, Bench.probeNames.map(_ -> -1.0),
      -1.0, hugeJson, "/root/testdata/sf0.1", stress, ann)
    assert(line2.length <= Bench.DigestBudget, s"pathological digest ${line2.length}B over budget")
    assert(line2.contains("\"failed_n\":" + huge.size),
      "failure count missing from the degenerate digest")
    assert(line2.endsWith("}"))
    // the audit header survives every ladder rung, the floor included
    assert(line2.contains(""""reps":3,"agg":"min","cpus":-1,"par":-1,"build_sec":"""),
      "audit header fell off the degenerate rung")
  }

  test("q_other reservation is derived from the run's own results (ADVICE-r10)") {
    // a rollup wider than the old fixed literal {"n":9999,"sec":99999.99}:
    // 100k+ rows at huge times — the fill must still stay under budget
    // with EVERYTHING folded into a correctly-sized q_other
    val wide = (1 to 120).map(i => f"q_$i%03d" -> 999999.99)
    val line = Bench.digestLine(wide, worstProbes, 120.0 * 999999.99, "[]",
      "/root/testdata/sf0.1", stress, ann, buildSec = 1.0)
    assert(line.length <= Bench.DigestBudget, s"wide-rollup digest ${line.length}B over budget")
    assert(line.contains("\"q_other\":{\"n\":"), "wide rollup did not fold")
    assert(line.endsWith("}"))
  }

  test("resolved cpus + parallelism ride the audit header on every rung (VERDICT-r15 ask #2)") {
    // realistic rung
    val line = Bench.digestLine(Bench.headlinerNames.map(_ -> 0.41),
      Bench.probeNames.map(_ -> 0.42), 75.145, "[]", "/root/testdata/sf0.1",
      stress, ann, buildSec = 170.0,
      builds = Bench.probeNames.map(_ -> 3.61), cpus = 32, par = 32)
    assert(line.contains(""""cpus":32,"par":32"""), "cpus echo missing")
    assert(line.length <= Bench.DigestBudget)
    // degenerate rung (mass failure) keeps the header too
    val huge = (1 to 60).map(i => f"imaginary_catastrophic_failure_with_a_long_name_$i%02d" -> -1.0)
    val hugeJson = huge.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val line2 = Bench.digestLine(huge, Bench.probeNames.map(_ -> -1.0),
      -1.0, hugeJson, "/root/testdata/sf0.1", stress, ann, cpus = 8, par = 8)
    assert(line2.contains(""""cpus":8,"par":8"""), "cpus echo fell off the degenerate rung")
    assert(line2.length <= Bench.DigestBudget)
  }

  test("null stress/ann produce a clean digest; failed rows surface") {
    val line = Bench.digestLine(Seq("q1" -> 1.0, "q2" -> -1.0),
      Seq("p1" -> 0.5), 1.0, """["q2"]""", "/root/testdata/sf0.1", "null", "null")
    assert(line.contains("\"q2\":-1") && line.contains("\"failed\":[\"q2\"]"))
    assert(line.contains("\"probes_cs\":{\"p1\":50}"))
    assert(!line.contains("\"stress\"") && !line.contains("\"ann\""))
    assert(!line.contains("\"q_other\""), "nothing should fold at this size")
  }
}
