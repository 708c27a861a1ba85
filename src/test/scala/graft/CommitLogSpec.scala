package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.CommitLog

/** Protocol-level contract of the shared atomic-commit log (the
  * round-11 generalization of EdgeWarehouse's commit marker): nothing
  * a transaction wrote is visible before its marker lands; a killed
  * transaction is invisible and its retry converges with a clean run;
  * snapshots pin a consistent multi-part view; the rebase fold carries
  * the as-of/retention semantics; vacuum deletes only dead dirs.
  * Member-shaped crash windows live in WarehouseCommitSpec.
  */
class CommitLogSpec extends GraftSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-clog-$tag").resolve("wh").toString

  private def kv(pairs: (String, Long)*) = {
    val s = spark
    import s.implicits._
    pairs.toSeq.toDF("k", "v")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.groupBy(col("k")).agg(sum(col("v")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("uncommitted writes are invisible; commit exposes all parts at once") {
    val base = tmp("atomic")
    CommitLog.transaction(spark, base) { t =>
      t.append(kv("a" -> 1L), base)
      t.append(kv("x" -> 10L), base + ".side")
    }
    // a second txn writes BOTH parts but never commits (the crash)
    val torn = CommitLog.begin(spark, base)
    torn.append(kv("a" -> 100L), base)
    torn.append(kv("x" -> 100L), base + ".side")
    val snap = CommitLog.snapshot(spark, base)
    assert(rowsOf(snap.read(base)) == Set("a" -> 1L))
    assert(rowsOf(snap.read(base + ".side")) == Set("x" -> 10L))
  }

  test("retry of a killed txn converges with a clean run (orphan self-cleanup)") {
    val base = tmp("retry")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base))
    // crash mid-verb: one part written, no marker
    val crashed = CommitLog.begin(spark, base)
    crashed.append(kv("b" -> 2L), base)
    // retry the same verb to completion
    CommitLog.transaction(spark, base) { t =>
      t.append(kv("b" -> 2L), base)
      t.append(kv("s" -> 9L), base + ".side")
    }
    val snap = CommitLog.snapshot(spark, base)
    assert(rowsOf(snap.read(base)) == Set("a" -> 1L, "b" -> 2L))
    assert(rowsOf(snap.read(base + ".side")) == Set("s" -> 9L))
  }

  test("writer fence: a racing second writer fails LOUDLY, exactly one wins (r15 ask #5)") {
    // two writers violate the single-writer contract: both open a
    // transaction off the same log state (same generation, same commit
    // sequence).  The fence must let exactly ONE commit and fail the
    // other with an error — on POSIX rename semantics the old code
    // silently OVERWROTE the first writer's committed marker.
    val base = tmp("fence")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base))
    val w1 = CommitLog.begin(spark, base)
    val w2 = CommitLog.begin(spark, base)
    w1.append(kv("b" -> 2L), base)
    w1.commit()
    // w2's first WRITE already aborts: w1's marker landed at w2's
    // sequence, so proceeding would overwrite a COMMITTED gen dir —
    // the pre-write rung fires before any damage
    val e = intercept[java.io.IOException](w2.append(kv("c" -> 3L), base))
    assert(e.getMessage.contains("writer fence"), e.getMessage)
    // exactly one won: the log holds w1's transaction, data intact
    val snap = CommitLog.snapshot(spark, base)
    assert(rowsOf(snap.read(base)) == Set("a" -> 1L, "b" -> 2L))

    // the COMMIT-level rung: a racer that finished its data writes
    // BEFORE the winner committed still fails loudly at its marker
    val w3 = CommitLog.begin(spark, base)
    val w4 = CommitLog.begin(spark, base)
    w3.append(kv("d" -> 4L), base + ".side")
    w4.append(kv("e" -> 5L), base + ".other")
    w3.commit()
    val e2 = intercept[java.io.IOException](w4.commit())
    assert(e2.getMessage.contains("writer fence"), e2.getMessage)
    val snap2 = CommitLog.snapshot(spark, base)
    assert(rowsOf(snap2.read(base + ".side")) == Set("d" -> 4L))
    // the loser's part never committed — its dir is an orphan for vacuum
    assert(snap2.readOpt(base + ".other").isEmpty)
    // and the single-writer path is UNCHANGED: a clean next transaction
    // commits at the next sequence as always
    CommitLog.transaction(spark, base)(_.append(kv("f" -> 6L), base))
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) ==
      Set("a" -> 1L, "b" -> 2L, "f" -> 6L))
  }

  test("writer fence closes the check-to-publish window: a marker landing INSIDE it is loud (r15)") {
    // the residual window the first fence cut left open on POSIX: a
    // racer whose marker lands AFTER our exists-check but BEFORE our
    // publish.  rename(2) would silently replace it; the hard-link
    // publish fails atomically with EEXIST.  The injection commits a
    // same-sequence racing transaction exactly in that window.
    val base = tmp("fence-window")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base))
    val loser = CommitLog.begin(spark, base)
    val winner = CommitLog.begin(spark, base)
    loser.append(kv("l" -> 2L), base + ".left")
    winner.append(kv("w" -> 3L), base + ".right")
    CommitLog.raceAfterExistsCheck = () => {
      CommitLog.raceAfterExistsCheck = () => () // one-shot: the racer must not recurse
      winner.commit()
    }
    try {
      val e = intercept[java.io.IOException](loser.commit())
      assert(e.getMessage.contains("writer fence"), e.getMessage)
    } finally CommitLog.resetCrashInjection()
    // exactly one won, and it is the one whose marker landed first:
    // the winner's part serves, the loser's never committed
    val snap = CommitLog.snapshot(spark, base)
    assert(rowsOf(snap.read(base + ".right")) == Set("w" -> 3L))
    assert(snap.readOpt(base + ".left").isEmpty,
      "the losing transaction must not be visible")
    // the log keeps working for the next (single) writer
    CommitLog.transaction(spark, base)(_.append(kv("b" -> 4L), base))
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) ==
      Set("a" -> 1L, "b" -> 4L))
  }

  test("a pinned snapshot is isolated from later commits (concurrent-reader contract)") {
    val base = tmp("iso")
    CommitLog.transaction(spark, base) { t =>
      t.append(kv("a" -> 1L), base); t.append(kv("x" -> 1L), base + ".side")
    }
    val pinned = CommitLog.snapshot(spark, base)
    CommitLog.transaction(spark, base) { t =>
      t.append(kv("a" -> 50L), base); t.append(kv("x" -> 50L), base + ".side")
    }
    // the pinned fold still serves the old state on EVERY part
    assert(rowsOf(pinned.read(base)) == Set("a" -> 1L))
    assert(rowsOf(pinned.read(base + ".side")) == Set("x" -> 1L))
    // a fresh snapshot sees the new commit on every part
    val fresh = CommitLog.snapshot(spark, base)
    assert(rowsOf(fresh.read(base)) == Set("a" -> 51L))
    assert(rowsOf(fresh.read(base + ".side")) == Set("x" -> 51L))
  }

  test("replace supersedes earlier generations; clear empties a part") {
    val base = tmp("replace")
    CommitLog.transaction(spark, base) { t =>
      t.append(kv("a" -> 1L), base); t.append(kv("t" -> 1L), base + ".tomb")
    }
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 2L), base))
    CommitLog.transaction(spark, base) { t =>
      t.replace(kv("a" -> 3L), base) // the compacted merge
      t.clear(base + ".tomb")
    }
    val snap = CommitLog.snapshot(spark, base)
    assert(rowsOf(snap.read(base)) == Set("a" -> 3L))
    assert(snap.readOpt(base + ".tomb").isEmpty)
    // later appends stack on top of the replace
    CommitLog.transaction(spark, base)(_.append(kv("b" -> 4L), base))
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) ==
      Set("a" -> 3L, "b" -> 4L))
  }

  test("as-of reads cut the fold at a generation; rebase enforces retention") {
    val base = tmp("asof")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base)) // gen 0
    CommitLog.transaction(spark, base)(_.append(kv("b" -> 2L), base)) // gen 1
    CommitLog.transaction(spark, base)(_.append(kv("c" -> 4L), base)) // gen 2
    val s0 = CommitLog.snapshot(spark, base)
    assert(rowsOf(s0.read(base, asOfGen = 0L)) == Set("a" -> 1L))
    assert(rowsOf(s0.read(base, asOfGen = 1L)) == Set("a" -> 1L, "b" -> 2L))
    // retention: fold gens <= 1 into a rebase dir (txn gen 3, horizon 1)
    CommitLog.transaction(spark, base) { t =>
      t.rebase(kv("a" -> 1L, "b" -> 2L), base, horizon = 1L)
    }
    val s1 = CommitLog.snapshot(spark, base)
    // head and asOf(>= horizon) bit-invariant
    assert(rowsOf(s1.read(base)) == Set("a" -> 1L, "b" -> 2L, "c" -> 4L))
    assert(rowsOf(s1.read(base, asOfGen = 1L)) == Set("a" -> 1L, "b" -> 2L))
    assert(rowsOf(s1.read(base, asOfGen = 2L)) == Set("a" -> 1L, "b" -> 2L, "c" -> 4L))
    // asOf behind the horizon is EMPTY — the retention boundary
    assert(s1.readOpt(base, asOfGen = 0L).isEmpty)
  }

  test("partitioned parts keep partition pruning across generation roots") {
    val base = tmp("parts")
    val s = spark
    import s.implicits._
    def batch(rows: (Long, Long)*) = rows.toSeq.toDF("tb", "v")
    CommitLog.transaction(spark, base)(
      _.append(batch(0L -> 1L, 1L -> 2L), base, Seq("tb")))
    CommitLog.transaction(spark, base)(
      _.append(batch(0L -> 3L, 2L -> 4L), base, Seq("tb")))
    val df = CommitLog.snapshot(spark, base).read(base)
      .filter(col("tb") === 0L)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // the filter must prune at file listing, not read-and-drop — one
    // scan per generation root, each pruning its own tb partitions
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, s"expected one scan per generation root, got ${scans.size}")
    val all = scans.map(_.relation.location.listFiles(Nil, Nil)
      .map(_.files.length).sum).sum
    val pruned = scans.map(s => s.relation.location
      .listFiles(s.partitionFilters, s.dataFilters)
      .map(_.files.length).sum).sum
    assert(pruned < all, s"no pruning: $pruned of $all files listed")
  }

  test("as-of behind a replace is EMPTY — vacuum-safe time travel (review r11)") {
    val base = tmp("replasof")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base)) // gen 0
    CommitLog.transaction(spark, base)(_.append(kv("b" -> 2L), base)) // gen 1
    CommitLog.transaction(spark, base)(_.replace(kv("a" -> 1L, "b" -> 2L), base)) // gen 2
    CommitLog.vacuum(spark, base) // reclaims gens 0-1 physically
    val s1 = CommitLog.snapshot(spark, base)
    // the destructive half of replace applies to EVERY reader: an
    // as-of cut behind it is EMPTY, never a read of deleted dirs
    assert(s1.readOpt(base, asOfGen = 1L).isEmpty,
      "asOf behind a vacuumed replace must be empty, not a dangling read")
    assert(rowsOf(s1.read(base, asOfGen = 2L)) == Set("a" -> 1L, "b" -> 2L))
    assert(rowsOf(s1.read(base)) == Set("a" -> 1L, "b" -> 2L))
  }

  test("vacuum deletes dead and orphaned generation dirs, keeps live ones") {
    val base = tmp("vacuum")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base)) // gen 0
    CommitLog.transaction(spark, base)(_.append(kv("b" -> 2L), base)) // gen 1
    CommitLog.transaction(spark, base)(_.replace(kv("a" -> 9L), base)) // gen 2
    // crash orphan at gen 3
    CommitLog.begin(spark, base).append(kv("z" -> 7L), base)
    CommitLog.vacuum(spark, base)
    val dirs = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).toSet
    assert(dirs == Set("gen-2"), s"unexpected dirs after vacuum: $dirs")
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) == Set("a" -> 9L))
  }

  test("one verb per part per transaction is enforced") {
    val base = tmp("dup")
    val t = CommitLog.begin(spark, base)
    t.append(kv("a" -> 1L), base)
    intercept[IllegalArgumentException](t.append(kv("b" -> 2L), base))
  }

  // canonical markers only: `_tmp-` files are never the log (the name
  // filter in snapshotOnce), and since the r15 writer fence gave temps
  // nonce-unique names a crashed attempt's temp can linger beside a
  // successful retry until vacuum — counting it here would conflate
  // orphan hygiene (the vacuum test's pin) with log correctness
  private def markerFiles(base: String): Seq[String] =
    new java.io.File(base + ".commits").listFiles()
      .map(_.getName)
      .filter(n => (n.endsWith(".commit") || n.endsWith(".checkpoint")) &&
        !n.startsWith("_tmp-"))
      .toSeq.sorted

  test("checkpoint folds the marker log to one file; snapshots unchanged (head and as-of)") {
    val base = tmp("ckpt")
    CommitLog.transaction(spark, base) { t =>
      t.append(kv("a" -> 1L), base); t.append(kv("t" -> 1L), base + ".tomb")
    }
    (2 to 6).foreach(i =>
      CommitLog.transaction(spark, base)(_.append(kv("a" -> i.toLong), base)))
    CommitLog.transaction(spark, base)(_.replace(kv("a" -> 99L), base + ".tomb"))
    val before = CommitLog.snapshot(spark, base)
    val headBefore = rowsOf(before.read(base))
    val asOf2Before = rowsOf(before.read(base, asOfGen = 2L))
    val tombBefore = rowsOf(before.read(base + ".tomb"))
    assert(markerFiles(base).size == 7)
    CommitLog.checkpoint(spark, base)
    assert(markerFiles(base).size == 1,
      s"checkpoint must truncate the log to one file: ${markerFiles(base)}")
    val after = CommitLog.snapshot(spark, base)
    assert(rowsOf(after.read(base)) == headBefore)
    assert(rowsOf(after.read(base, asOfGen = 2L)) == asOf2Before)
    assert(rowsOf(after.read(base + ".tomb")) == tombBefore)
    // the log keeps accepting transactions after a checkpoint, and a
    // SECOND checkpoint folds the checkpoint + new markers again
    CommitLog.transaction(spark, base)(_.append(kv("b" -> 7L), base))
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) ==
      headBefore + ("b" -> 7L))
    assert(markerFiles(base).size == 2)
    CommitLog.checkpoint(spark, base)
    assert(markerFiles(base).size == 1)
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) ==
      headBefore + ("b" -> 7L))
  }

  test("checkpoint crash windows: before-rename and after-rename retries both converge") {
    val base = tmp("ckptcrash")
    (1 to 4).foreach(i =>
      CommitLog.transaction(spark, base)(_.append(kv("a" -> i.toLong), base)))
    val want = rowsOf(CommitLog.snapshot(spark, base).read(base))
    // window 1: checkpoint dies before its rename — nothing changed
    CommitLog.crashBeforeMarkerRename = true
    try intercept[RuntimeException](CommitLog.checkpoint(spark, base))
    finally CommitLog.resetCrashInjection()
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) == want)
    assert(markerFiles(base).count(_.endsWith(".commit")) == 4)
    // window 2: checkpoint file lands, deletes never run — the
    // DUPLICATE-ENTRY state; snapshots must fold it identically
    CommitLog.crashAfterMarkerRename = true
    try intercept[RuntimeException](CommitLog.checkpoint(spark, base))
    finally CommitLog.resetCrashInjection()
    assert(markerFiles(base).size == 5, s"torn state: ${markerFiles(base)}")
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) == want,
      "duplicate checkpoint+marker entries changed the fold")
    // DESCRIBE HISTORY must not double-report the torn duplicate
    // state (review r12: history dedups like the fold does)
    assert(CommitLog.history(spark, base).count() == 4)
    // the retry finds the checkpoint in place, finishes the deletes
    CommitLog.checkpoint(spark, base)
    assert(markerFiles(base).size == 1, s"retry left ${markerFiles(base)}")
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) == want)
    // and the log keeps working
    CommitLog.transaction(spark, base)(_.append(kv("z" -> 9L), base))
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) == want + ("z" -> 9L))
  }

  test("a crash between marker temp-write and rename is invisible; vacuum reclaims the temp (ADVICE r11)") {
    val base = tmp("tornmarker")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base))
    CommitLog.crashBeforeMarkerRename = true
    try intercept[RuntimeException](
      CommitLog.transaction(spark, base)(_.append(kv("b" -> 2L), base)))
    finally CommitLog.resetCrashInjection()
    // the temp marker exists but is NOT the log: the txn never happened
    val tmps = new java.io.File(base + ".commits").listFiles()
      .map(_.getName).filter(_.startsWith("_tmp-")).toSeq
    assert(tmps.nonEmpty, "crash window must leave the temp marker behind")
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) == Set("a" -> 1L),
      "a never-renamed temp marker must not be read as a commit")
    // the retried verb converges with a clean run
    CommitLog.transaction(spark, base)(_.append(kv("b" -> 2L), base))
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) ==
      Set("a" -> 1L, "b" -> 2L))
    CommitLog.vacuum(spark, base)
    val tmpsAfter = new java.io.File(base + ".commits").listFiles()
      .map(_.getName).filter(_.startsWith("_tmp-")).toSeq
    assert(tmpsAfter.isEmpty, s"vacuum must reclaim stale temp markers: $tmpsAfter")
  }

  test("a second rebase supersedes an earlier rebase dir whose position it covers (ADVICE r11)") {
    val base = tmp("tworebase")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base)) // gen 0
    CommitLog.transaction(spark, base)(_.append(kv("b" -> 2L), base)) // gen 1
    CommitLog.transaction(spark, base)(_.append(kv("c" -> 4L), base)) // gen 2
    // rebase 1: fold gens <= 1 (txn gen 3, horizon 1 — lives at pos 1)
    CommitLog.transaction(spark, base)(
      _.rebase(kv("a" -> 1L, "b" -> 2L), base, horizon = 1L))
    CommitLog.transaction(spark, base)(_.append(kv("d" -> 8L), base)) // gen 4
    // rebase 2 with horizon 2 — BETWEEN rebase 1's horizon (1) and its
    // physical gen (3): must drop the earlier rebase dir (its position
    // is 1 <= 2) or every row up to gen 1 double-counts
    CommitLog.transaction(spark, base)(
      _.rebase(kv("a" -> 1L, "b" -> 2L, "c" -> 4L), base, horizon = 2L))
    val snap = CommitLog.snapshot(spark, base)
    assert(rowsOf(snap.read(base)) ==
      Set("a" -> 1L, "b" -> 2L, "c" -> 4L, "d" -> 8L),
      "earlier rebase dir must die at a later rebase covering its position")
    // as-of semantics across both horizons
    assert(rowsOf(snap.read(base, asOfGen = 2L)) ==
      Set("a" -> 1L, "b" -> 2L, "c" -> 4L))
    assert(snap.readOpt(base, asOfGen = 1L).isEmpty,
      "asOf behind the latest horizon is EMPTY (retention)")
    // and vacuum then reclaims the superseded rebase dir physically
    CommitLog.vacuum(spark, base)
    val dirs = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).toSet
    assert(!dirs.contains("gen-3"), s"superseded rebase dir survived vacuum: $dirs")
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) ==
      Set("a" -> 1L, "b" -> 2L, "c" -> 4L, "d" -> 8L))
  }

  test("vacuum never sweeps a NESTED CommitLog base that shares the name prefix (review r12)") {
    val base = tmp("nested")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base))
    // a dot-suffixed sibling with its OWN commit log — the
    // EdgeWarehouse `<edge>.mh` shape: governed by ITS log, not ours
    val nested = base + ".mh"
    CommitLog.transaction(spark, nested) { t =>
      t.append(kv("n" -> 7L), nested)
      // the nested base's own dot-suffixed PART — review r12 second
      // pass: the outer sweep must skip `<base>.mh.docs` too, not
      // just the nested root
      t.append(kv("d" -> 3L), nested + ".docs")
    }
    CommitLog.vacuum(spark, base)
    // the nested base's committed generations survive the outer
    // vacuum — root part AND its dot-suffixed part
    assert(rowsOf(CommitLog.snapshot(spark, nested).read(nested)) ==
      Set("n" -> 7L), "outer vacuum destroyed a nested base's data")
    assert(rowsOf(CommitLog.snapshot(spark, nested).read(nested + ".docs")) ==
      Set("d" -> 3L), "outer vacuum destroyed a nested base's PART")
    assert(new java.io.File(nested + "/gen-0").exists())
    assert(new java.io.File(nested + ".docs/gen-0").exists())
    // and the nested base's own vacuum still works on itself
    CommitLog.transaction(spark, nested)(_.replace(kv("n" -> 9L), nested))
    CommitLog.vacuum(spark, nested)
    assert(!new java.io.File(nested + "/gen-0").exists())
    assert(rowsOf(CommitLog.snapshot(spark, nested).read(nested)) ==
      Set("n" -> 9L))
  }

  // ---- per-generation column stats + log-level data skipping (r12b)

  private def dated(rows: (String, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("d", "v").withColumn("d", col("d").cast("date"))
  }

  test("stats recorded at write prune generations at the log; reads stay exact") {
    val base = tmp("skip")
    CommitLog.transaction(spark, base)(_.replace(
      dated("2024-01-02" -> 1L, "2024-01-06" -> 2L), base, statsCols = Seq("d", "v")))
    CommitLog.transaction(spark, base)(_.append(
      dated("2024-01-10" -> 4L, "2024-01-14" -> 8L), base, statsCols = Seq("d", "v")))
    CommitLog.transaction(spark, base)(_.append(
      dated("2024-01-20" -> 16L, "2024-01-25" -> 32L), base, statsCols = Seq("d", "v")))
    val snap = CommitLog.snapshot(spark, base)
    // a trailing-window filter [2024-01-18, ∞) proves gens 0-1 empty
    val (kept, pruned) = snap.partitionGens(base, "d", Some("2024-01-18"), None)
    assert(kept == Seq(2L) && pruned == Seq(0L, 1L),
      s"expected gens 0,1 skipped: kept=$kept pruned=$pruned")
    val df = snap.readWhere(base, "d", Some("2024-01-18"), None).get
      .filter(col("d") >= lit("2024-01-18").cast("date"))
    assert(df.collect().map(_.getLong(1)).sorted.toSeq == Seq(16L, 32L))
    // the skipped generations never reach the plan: scan roots are
    // exactly the kept generation's directory
    assert(df.inputFiles.forall(_.contains("/gen-2/")),
      s"pruned generations leaked into the scan: ${df.inputFiles.toSeq}")
    // a both-bounds window hitting only the middle generation
    val (k2, p2) = snap.partitionGens(base, "d", Some("2024-01-08"), Some("2024-01-16"))
    assert(k2 == Seq(1L) && p2 == Seq(0L, 2L))
    // numeric kind: negatives compare numerically, not lexically
    val (k3, _) = snap.partitionGens(base, "v", Some("3"), Some("9"))
    assert(k3 == Seq(1L), s"numeric range [3,9] must keep only gen 1: $k3")
    // nothing survives -> None (empty result, not an error)
    assert(snap.readWhere(base, "d", Some("2025-06-01"), None).isEmpty)
  }

  test("numeric stats compare as numbers (negatives would invert lexically)") {
    val base = tmp("skipneg")
    val s = spark
    import s.implicits._
    CommitLog.transaction(spark, base)(_.append(
      Seq(-50L, -10L).toDF("v"), base, statsCols = Seq("v")))
    CommitLog.transaction(spark, base)(_.append(
      Seq(5L, 9L).toDF("v"), base, statsCols = Seq("v")))
    val snap = CommitLog.snapshot(spark, base)
    // lexically "-10" < "5" is FALSE ('-' < '5' is true actually) but
    // "-50" > "-10" lexically (5>1) — numeric kind must order -50 < -10
    val (kept, pruned) = snap.partitionGens(base, "v", Some("-20"), Some("0"))
    assert(kept == Seq(0L) && pruned == Seq(1L),
      s"[-20,0] must keep only the negative gen: kept=$kept pruned=$pruned")
  }

  test("generations without stats are always kept (skipping never changes semantics)") {
    val base = tmp("skipnostats")
    CommitLog.transaction(spark, base)(_.append(
      dated("2024-01-02" -> 1L), base)) // no statsCols
    CommitLog.transaction(spark, base)(_.append(
      dated("2024-01-20" -> 2L), base, statsCols = Seq("d")))
    val snap = CommitLog.snapshot(spark, base)
    val (kept, pruned) = snap.partitionGens(base, "d", Some("2024-01-18"), None)
    assert(kept == Seq(0L, 1L) && pruned.isEmpty,
      "a stats-less generation must never be pruned")
    // and an all-null/zero-row write records no stats rather than bad ones
    CommitLog.transaction(spark, base)(_.append(
      dated().select(col("d"), col("v")), base, statsCols = Seq("d")))
    val (kept2, _) = CommitLog.snapshot(spark, base)
      .partitionGens(base, "d", Some("2024-01-18"), None)
    assert(kept2.contains(2L), "zero-row write must stay un-prunable")
  }

  test("a zero-row append on a NON-partitioned part stays readable (r13 probe)") {
    // the partitioned zero-row case needs the hasDataFile rewrite in
    // Txn.write; the NON-partitioned case relies on Spark writing a
    // schema-bearing empty part file (the SPARK-23271 lineage) — this
    // pin keeps that assumption loud across Spark upgrades, because a
    // regression would brick every reader of a member the moment one
    // empty batch folds in
    val base = tmp("emptygen")
    val s = spark
    import s.implicits._
    CommitLog.transaction(spark, base)(_.append(
      Seq(("a", 1L)).toDF("k", "v"), base))
    CommitLog.transaction(spark, base)(_.append(
      Seq(("b", 2L)).toDF("k", "v").repartition(4).filter(lit(false)), base))
    assert(CommitLog.snapshot(spark, base).read(base).count() == 1L,
      "an all-empty non-partitioned generation broke the union read")
  }

  test("a zero-row append on a partitioned part stays readable") {
    // a zero-row partitionBy write leaves no data file at any depth;
    // Txn.write detects that and rewrites the generation as one empty
    // file with the schema
    val base = tmp("emptyparts")
    val s = spark
    import s.implicits._
    CommitLog.transaction(spark, base)(_.append(
      Seq((1L, 0L), (2L, 3L)).toDF("v", "tb"), base, Seq("tb")))
    CommitLog.transaction(spark, base)(_.append(
      Seq((3L, 1L)).toDF("v", "tb").filter(lit(false)), base, Seq("tb")))
    val got = CommitLog.snapshot(spark, base).read(base)
    assert(got.select(col("v")).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "an all-empty partitioned generation broke the union read")
    assert(new java.io.File(s"$base/gen-1").listFiles()
      .exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "the empty generation was not rewritten as one schema-bearing file")
  }

  test("NaN/Infinity numeric bounds are refused at record time (ADVICE r12)") {
    val base = tmp("skipnan")
    val s = spark
    import s.implicits._
    // a float column whose observed min/max render unparseable for
    // BigDecimal (NaN sorts HIGHEST among doubles, so it lands in the
    // max) — recording it would be prune-safe but statsMax would then
    // SERVE "NaN" as a bound and crash a parsing caller; the write
    // must fall back to the all-null stance: record nothing
    CommitLog.transaction(spark, base)(_.append(
      Seq(1.5, Double.NaN).toDF("x"), base, statsCols = Seq("x")))
    val snap = CommitLog.snapshot(spark, base)
    assert(snap.statsMax(base, "x").isEmpty,
      "statsMax must not serve an unparseable numeric bound")
    val (kept, pruned) = snap.partitionGens(base, "x", Some("99"), None)
    assert(kept == Seq(0L) && pruned.isEmpty,
      "a bound-less generation must always be kept")
    // a clean numeric generation on the same base still records stats
    CommitLog.transaction(spark, base)(_.append(
      Seq(2.0, 3.0).toDF("x"), base, statsCols = Seq("x")))
    assert(CommitLog.snapshot(spark, base).statsMax(base, "x").isEmpty,
      "part-wide max is unknowable while any live gen lacks stats")
    CommitLog.transaction(spark, base)(_.replace(
      Seq(2.0, 3.0).toDF("x"), base, statsCols = Seq("x")))
    assert(CommitLog.snapshot(spark, base).statsMax(base, "x").contains("3.0"))
  }

  test("empty-string stat values round-trip — one all-empty batch must not poison the log (review r12b)") {
    val base = tmp("skipempty")
    val s = spark
    import s.implicits._
    // min = max = "" encodes to EMPTY b64 tokens: the wire parse must
    // keep trailing empty fields or every later snapshot of this base
    // throws, bricking reads AND writes
    CommitLog.transaction(spark, base)(_.append(
      Seq("", "").toDF("t"), base, statsCols = Seq("t")))
    val snap = CommitLog.snapshot(spark, base) // must not throw
    assert(snap.statsMax(base, "t").contains(""))
    // pruning over the empty-string bounds stays correct ("" < "a")
    val (kept, pruned) = snap.partitionGens(base, "t", Some("a"), None)
    assert(kept.isEmpty && pruned == Seq(0L))
    // and the log keeps accepting transactions
    CommitLog.transaction(spark, base)(_.append(Seq("x").toDF("t"), base))
    assert(CommitLog.snapshot(spark, base).read(base).count() == 3)
  }

  test("stats survive the log checkpoint verbatim; statsMax answers from the log") {
    val base = tmp("skipckpt")
    CommitLog.transaction(spark, base)(_.replace(
      dated("2024-01-02" -> 1L), base, statsCols = Seq("d")))
    CommitLog.transaction(spark, base)(_.append(
      dated("2024-01-20" -> 2L, "2024-01-28" -> 3L), base, statsCols = Seq("d")))
    val before = CommitLog.snapshot(spark, base)
      .partitionGens(base, "d", Some("2024-01-10"), None)
    assert(before == (Seq(1L), Seq(0L)))
    assert(CommitLog.snapshot(spark, base).statsMax(base, "d")
      .contains("2024-01-28"))
    CommitLog.checkpoint(spark, base)
    assert(markerFiles(base).size == 1)
    val after = CommitLog.snapshot(spark, base)
    assert(after.partitionGens(base, "d", Some("2024-01-10"), None) == before,
      "stats must round-trip through the checkpoint fold")
    assert(after.statsMax(base, "d").contains("2024-01-28"))
    // statsMax is honest: a stats-less live generation makes it None
    CommitLog.transaction(spark, base)(_.append(dated("2024-02-05" -> 9L), base))
    assert(CommitLog.snapshot(spark, base).statsMax(base, "d").isEmpty,
      "statsMax must refuse when any live generation lacks stats")
  }

  test("vacuum sweeps orphan gen dirs of parts with no committed entry (ADVICE r11)") {
    val base = tmp("orphanpart")
    CommitLog.transaction(spark, base)(_.append(kv("a" -> 1L), base))
    // crash mid-verb: the FIRST-ever write to a side part (no prior
    // committed entry names it), then death before commit
    val crashed = CommitLog.begin(spark, base)
    crashed.append(kv("t" -> 1L), base + ".tomb")
    assert(new java.io.File(base + ".tomb/gen-1").exists())
    CommitLog.vacuum(spark, base)
    assert(!new java.io.File(base + ".tomb/gen-1").exists(),
      "orphan gen dir of a never-committed part must be reclaimed")
    assert(rowsOf(CommitLog.snapshot(spark, base).read(base)) == Set("a" -> 1L))
  }
}
