package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.{DataType, DateType, NumericType, StringType, TimestampNTZType}

/** The ATOMIC MULTI-FILE COMMIT protocol for warehouse maintenance:
  * every member whose refresh/retract touches more than one file
  * commits here.
  *
  * The problem it removes: a warehouse member's state spans sibling
  * parquet "parts" (Bm25: postings + df + stats; the join view:
  * view + orders-side + lines-side), and a maintenance verb appends
  * to several of them.  Without a protocol, a crash between two
  * appends leaves TORN state that probes read as if committed — the
  * documented single-writer/no-crash caveat the matrix carried.  The
  * reference commits a block's whole fan-out in ONE DB transaction
  * (reference: src/collector/block/block.ts:150,
  * `.transaction(async (mgr) => ...)`); this is that transaction,
  * re-expressed for parquet-on-object-store the way the public
  * log-structured table formats do it (Armbrust et al., "Delta Lake:
  * High-Performance ACID Table Storage over Cloud Object Stores",
  * VLDB 2020 — uncommitted files are invisible garbage; the LOG, not
  * the directory listing, defines the table):
  *
  *  - every transaction gets a fresh GENERATION number; each part it
  *    touches is written under `part/gen-N/` (its own directory — no
  *    standing file is ever mutated);
  *  - the transaction COMMITS by writing its entries — one
  *    (gen, part, kind, horizon, seq) line per touched part — as ONE
  *    marker file atomically renamed into the side log directory
  *    `<base>.commits`, LAST;
  *  - readers take a SNAPSHOT (one driver-side read of the log,
  *    metadata-scale: a handful of rows per transaction ever) and
  *    read each part as the explicit list of its COMMITTED live
  *    generation directories.  Uncommitted or crash-orphaned dirs are
  *    never even LISTED, so
  *      (a) a refresh killed between any two part writes is invisible
  *          — probes keep serving the pre-refresh state bit-for-bit
  *          (WarehouseCommitSpec kills refreshes of three differently
  *          shaped members in every window and pins it);
  *      (b) re-running the interrupted verb converges with a clean
  *          run: the retry allocates the same generation (the crash
  *          committed nothing) and each part write OVERWRITES its own
  *          orphan dir — self-cleaning, no tombstoned garbage;
  *      (c) CONCURRENT readers are snapshot-isolated for free: a
  *          probe pins the committed-log fold once and reads only
  *          those directories, so a refresh landing mid-probe (or
  *          crashing mid-flight) cannot tear the probe's view across
  *          parts, so probes need no quiet window (writers still
  *          serialize:
  *          single-WRITER stays the matrix contract, now with honest
  *          crash semantics instead of a no-crash assumption).
  *
  * Entry KINDS (the fold below is the whole semantics):
  *  - `append`  — the part gains this generation's rows;
  *  - `replace` — this generation's dir supersedes every earlier live
  *    one (compact's merged state; ingest over a prior build);
  *  - `clear`   — the part has no live rows at all (tombstone sets
  *    after a physical compact purge — no directory is written);
  *  - `rebase`  — retention: this dir holds the state folded UP TO
  *    generation `horizon` (< this txn's own gen); generations ≤
  *    horizon die for EVERY reader — head and as-of alike — while
  *    appends in (horizon, now] stay live deltas.  This is
  *    BalanceWarehouse's compactHorizon contract: asOf(g ≥ h) is
  *    bit-invariant, asOf(g < h) becomes EMPTY (history before the
  *    horizon is physically reclaimable), and — better than the
  *    directory-partition form — later generations' files are
  *    NOT rewritten.
  *
  * A snapshot folds the log rows in (sortGen, seq) order, where
  * sortGen(rebase) = its horizon and seq is the commit sequence
  * (ties: the later commit wins — a rebase AT generation h sorts
  * after h's own original entry):
  *    append  g   → live += g                   (if g ≤ asOfGen)
  *    replace g   → live = {}; live += g         (add iff g ≤ asOfGen)
  *    clear   g   → live = {}
  *    rebase g,h  → live = {x ∈ live : x > h}; live += g iff h ≤ asOfGen
  *  (the DESTRUCTIVE half of replace/clear/rebase applies
  *   UNCONDITIONALLY — retention holds for as-of readers too, which
  *   is what makes vacuum safe: asOf behind the latest destructive
  *   fold is EMPTY, never a read of reclaimed directories.)
  *
  * As-of SNAPSHOT READS fall out of the same fold with a generation
  * cut — the BalanceWarehouse gen-dir log re-based on the
  * shared protocol, so "the warehouse as of generation g" is now a
  * verb EVERY member gets by routing its writes here.
  *
  * ATOMICITY argument, stated honestly: the marker is one small file
  * written under a temp name and RENAMED into the log directory —
  * atomic on HDFS and POSIX filesystems, and the same primitive
  * Delta's `_delta_log` entries rely on (object stores without atomic
  * rename need their put-if-absent shim there too).  The log is
  * append-only — a marker file, once named, is never rewritten — and
  * both committing and snapshotting are DRIVER-SIDE Hadoop FS I/O:
  * no Spark job on either path, so a probe's snapshot pin costs a
  * directory listing plus a few ~100 B reads, O(transactions ever),
  * metadata-scale by construction.
  *
  * DATA SKIPPING: a verb may declare `statsCols` — exact
  * per-generation min/max of those columns are computed INSIDE the
  * write job (an observe node — zero extra pass) and recorded in the
  * commit entry.  `Snapshot.readWhere` then drops generations whose
  * recorded range provably misses a caller's [lo, hi] filter AT THE
  * LOG, before any file listing — one rung above partition pruning,
  * which still lists every generation root (Delta's per-file stats
  * move, VLDB 2020 §4).  Skipping is a pure optimization: generations
  * without stats are always kept, and the caller applies the real
  * filter on the returned frame regardless.
  *
  * `vacuum` is the physical GC: directories no live head-fold
  * references are deleted (crash orphans included).  Retention
  * caveat, exactly Delta's: vacuum also drops the ability to read
  * as-of generations behind the last replace/rebase — run it at the
  * retention cadence, not per refresh.  `checkpoint` is the LOG's own
  * retention: it folds every marker ever written into one file and
  * deletes the superseded ones, bounding snapshot I/O at streaming
  * cadence (the Delta checkpoint.parquet move).
  *
  * A transaction spans exactly one base.  A member that embeds another
  * member's parts (EdgeWarehouse's J-channel MinHash index at
  * `<edge>.mh`) writes them as parts of its own base through the
  * embedded member's in-transaction verbs, so one verb is still one
  * atomic commit.
  */
object CommitLog {

  /** Test-only crash injection (WarehouseCommitSpec): kills the
    * process-equivalent — an exception out of the transaction body —
    * AFTER the nth part write (i.e. between writes n and n+1), or
    * after every write but before the commit marker.  Production code
    * never sets these. */
  private[graft] final class InjectedCrash
    extends RuntimeException("injected crash (test only)")
  @volatile private[graft] var crashAfterWrites: Int = Int.MaxValue
  @volatile private[graft] var crashBeforeCommit: Boolean = false
  // the window where the marker temp file is fully written, rename not
  // yet issued — the torn-marker crash the name filter must survive
  @volatile private[graft] var crashBeforeMarkerRename: Boolean = false
  // checkpoint's widest window: its file renamed into place, the
  // superseded markers not yet deleted (duplicate-entry state)
  @volatile private[graft] var crashAfterMarkerRename: Boolean = false
  // test-only RACE injection: runs between the fence's
  // exists-check and the publish step — the exact window where a
  // racing writer's marker can land.  CommitLogSpec uses it to commit
  // a same-sequence marker in that window and assert the loser is
  // LOUD, not silent.
  @volatile private[graft] var raceAfterExistsCheck: () => Unit = () => ()
  private[graft] def resetCrashInjection(): Unit = {
    crashAfterWrites = Int.MaxValue; crashBeforeCommit = false
    crashBeforeMarkerRename = false; crashAfterMarkerRename = false
    raceAfterExistsCheck = () => ()
  }

  private def logPath(base: String) = s"$base.commits"

  /** Per-generation column statistics recorded IN the commit entry —
    * the Delta data-skipping move (Armbrust et al., VLDB 2020 §4:
    * per-file min/max in the log lets readers prune before any file
    * listing).  `kind` picks the comparison: "num" compares as
    * BigDecimal (negative and scientific-notation forms compare
    * correctly), "lex" compares lexically (exact for the ISO renderings
    * of DATE/TIMESTAMP and for plain strings).  min/max are EXACT —
    * they are computed by `min`/`max` over the rows actually written,
    * inside the write job itself (an `observe` node: zero extra pass,
    * no second scan). */
  final case class ColStats(kind: String, min: String, max: String)

  private[sources] final case class Entry(
      gen: Long, part: String, kind: String, horizon: Long, seq: Long,
      stats: Map[String, ColStats] = Map.empty) {
    def sortGen: Long = if (kind == "rebase") horizon else gen
  }

  /** The stat kind a column's type folds under — None means the type
    * carries no orderable stats contract here (callers must not
    * request stats on it).  TimestampType (the tz-AWARE one) is
    * deliberately refused: its cast-to-string renders in the SESSION
    * time zone at write time, so a probe under a different session tz
    * would compare bounds lexically across zones and could prune a
    * generation that holds matching rows — silently wrong results.
    * Callers wanting instant stats pass unix micros (numeric);
    * TimestampNTZ is wall-clock and renders tz-independently, so its
    * lexical contract holds. */
  private def statKindOf(dt: DataType): Option[String] = dt match {
    case _: NumericType => Some("num")
    case DateType | StringType | TimestampNTZType => Some("lex")
    case _ => None
  }

  /** kind-aware strict less-than over recorded stat strings.  An
    * unparseable numeric (NaN renderings and such) compares as NOT
    * less — pruning then keeps the generation, the safe direction. */
  private def statLt(kind: String, a: String, b: String): Boolean =
    if (kind == "num")
      try BigDecimal(a) < BigDecimal(b)
      catch { case _: NumberFormatException => false }
    else a < b

  /** Can this value serve as a recorded bound of its kind?  "num"
    * bounds must round-trip through BigDecimal — NaN/Infinity
    * renderings of a float column are refused at RECORD time (the
    * write falls back to no-stats, the safe direction), so statsMax
    * can never hand a caller an unparseable numeric bound. */
  private def statsParseable(kind: String, v: String): Boolean =
    kind != "num" || (try { BigDecimal(v); true }
      catch { case _: NumberFormatException => false })

  // stats wire form (field 6 of the marker line, absent when empty):
  // `col~kind~b64(min)~b64(max)` joined by `;` — values are
  // base64-encoded so arbitrary string data can never collide with the
  // TSV/record separators; column names are code-chosen identifiers
  // and are required to be [A-Za-z0-9_]+ at record time.
  private def b64e(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def b64d(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
  private def encodeStats(stats: Map[String, ColStats]): String =
    stats.toSeq.sortBy(_._1).map { case (c, s) =>
      s"$c~${s.kind}~${b64e(s.min)}~${b64e(s.max)}"
    }.mkString(";")
  private def decodeStats(field: String): Map[String, ColStats] =
    if (field.isEmpty) Map.empty
    else field.split(';').map { item =>
      // limit -1: an empty-string min/max encodes to an EMPTY b64
      // token, and the default split drops trailing empties — the
      // 4th field must survive or one all-empty-string batch would
      // poison every later parse of the log
      val p = item.split("~", -1)
      p(0) -> ColStats(p(1), b64d(p(2)), b64d(p(3)))
    }.toMap

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def suffixOf(base: String, part: String): String = {
    require(part.startsWith(base),
      s"part '$part' must be a sibling path of base '$base'")
    part.drop(base.length)
  }

  private def genDir(part: String, gen: Long) = s"$part/gen-$gen"

  /** Does `dir` hold at least one non-hidden data file, at any depth?
    * A file-system walk — the zero-row-write detector.  `listStatus`,
    * not `listFiles`: a located status reads each entry's owner and
    * permission, which the local file system does by forking `ls`. */
  private def hasDataFile(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    def walk(d: Path): Boolean = f.listStatus(d).exists { s =>
      if (s.isDirectory) walk(s.getPath)
      else { val n = s.getPath.getName; !n.startsWith("_") && !n.startsWith(".") }
    }
    f.exists(p) && walk(p)
  }

  /** One pinned fold of the committed log — take it ONCE per probe
    * and read every part through it (that single read is the whole
    * snapshot-isolation mechanism). */
  final case class Snapshot private[CommitLog] (
      spark: SparkSession, base: String,
      private[sources] val entries: Seq[Entry]) {

    def maxGen: Long = entries.iterator.map(_.gen).maxOption.getOrElse(-1L)
    private[sources] def maxSeq: Long =
      entries.iterator.map(_.seq).maxOption.getOrElse(-1L)

    /** The live generation numbers of `part` as of `asOfGen` — the
      * fold in the object Scaladoc, verbatim.  Each live generation is
      * tracked with its EFFECTIVE position (sortGen: a rebase dir
      * logically lives at its horizon, not its physical txn gen), and
      * a rebase drops generations by that position — so a second
      * rebase whose horizon lands between an earlier rebase's horizon
      * and its txn gen still supersedes the earlier rebase dir
      * (comparing physical gens there would keep both dirs
      * live and double-count every row up to the earlier horizon).
      * The map fold is idempotent under duplicate entries, which is
      * what lets `checkpoint` coexist transiently with the markers it
      * supersedes. */
    private[sources] def liveGens(part: String, asOfGen: Long): Seq[Long] =
      liveGenEntries(part, asOfGen).map(_._1)

    /** The fold, keeping each live generation's recorded column stats
      * alongside its position — the data-skipping read needs them. */
    private[sources] def liveGenEntries(part: String, asOfGen: Long)
        : Seq[(Long, Map[String, ColStats])] =
      livePositioned(part, asOfGen).map { case (g, _, st) => (g, st) }

    /** The fold with each live generation's EFFECTIVE position kept:
      * (physical gen, position, stats), position-sorted.  A rebase dir
      * logically lives at its horizon — physically the newest
      * directory, logically the OLDEST state (everything folded up to
      * the horizon) — so consumers that need "the newest live
      * generation" must order by position, not physical gen
      * (latestGen: the tokenizer retention verb's empty
      * rebase dir would otherwise shadow the surviving head version). */
    private[sources] def livePositioned(part: String, asOfGen: Long)
        : Seq[(Long, Long, Map[String, ColStats])] = {
      val sfx = suffixOf(base, part)
      // gen -> (position, stats)
      val live = mutable.LinkedHashMap.empty[Long, (Long, Map[String, ColStats])]
      entries.filter(_.part == sfx)
        .sortBy(e => (e.sortGen, e.seq))
        .foreach { e =>
          e.kind match {
            case "append" => if (e.gen <= asOfGen) live(e.gen) = (e.gen, e.stats)
            // the DESTRUCTIVE half of replace/clear/rebase applies to
            // EVERY reader, as-of cuts included — retention must hold
            // for time travel too, or vacuum would leave an as-of read
            // pointing at deleted directories (asOf behind the latest
            // replace/rebase/clear is EMPTY, not an error)
            case "replace" =>
              live.clear(); if (e.gen <= asOfGen) live(e.gen) = (e.gen, e.stats)
            case "clear" => live.clear()
            case "rebase" =>
              live.filterInPlace((_, v) => v._1 > e.horizon)
              if (e.horizon <= asOfGen) live(e.gen) = (e.horizon, e.stats)
            case other => throw new IllegalStateException(
              s"CommitLog: unknown entry kind '$other' in ${logPath(base)}")
          }
        }
      live.toSeq.map { case (g, (pos, st)) => (g, pos, st) }
        .sortBy { case (g, pos, _) => (pos, g) }
    }

    /** `part` as of generation `asOfGen`: the union of its live
      * committed directories — an EXPLICIT path list, so uncommitted
      * and dead generations are never listed, let alone read.  None
      * when no live generation exists (pre-ingest, post-clear, or an
      * as-of cut behind the retention horizon). */
    def readOpt(part: String, asOfGen: Long = Long.MaxValue): Option[DataFrame] = {
      val gens = liveGens(part, asOfGen)
      if (gens.isEmpty) None
      // one read PER generation root, folded by name: partition
      // discovery (and therefore partition PRUNING) is per-root, which
      // a single multi-root read cannot give — Spark refuses mixed
      // partition depths under one inferred table root
      else Some(gens.map(g => readGen(part, g)).reduce(_.unionByName(_)))
    }

    /** One committed generation directory.  The protocol never writes
      * a committed directory again, so its relation is resolved once
      * per session (`Relations`); a rebuilt base gets a new directory
      * status and resolves afresh. */
    private def readGen(part: String, gen: Long): DataFrame =
      Relations.parquet(spark, genDir(part, gen), committed = true)

    /** The newest LIVE generation of `part` at the cut BY EFFECTIVE
      * POSITION — the version pointer for members whose generations
      * ARE versions (TokenizerWarehouse): answered from the log, so a
      * zero-row version is still the head (its rows cannot vote), and
      * a retention rebase dir — physically the newest directory but
      * logically the oldest state — can never shadow the surviving
      * head version. */
    def latestGen(part: String, asOfGen: Long = Long.MaxValue): Option[Long] =
      livePositioned(part, asOfGen).lastOption.map(_._1)

    def read(part: String, asOfGen: Long = Long.MaxValue): DataFrame =
      readOpt(part, asOfGen).getOrElse(throw new IllegalStateException(
        s"CommitLog: no committed generations for part '$part'" +
          (if (asOfGen != Long.MaxValue) s" as of gen $asOfGen" else "") +
          s" under base '$base'"))

    // ---- DATA SKIPPING off the recorded per-generation stats: a
    // generation is dropped from the read ONLY when its stats PROVE
    // no row can satisfy lo <= col <= hi — a generation with no
    // recorded stats for the column is always kept, so skipping is a
    // pure optimization, never a semantics change.  The pruning
    // happens at the LOG, before any file listing: at object-store
    // scale the skipped generations cost zero FS calls, one rung above
    // partition pruning (which still lists every generation root).
    // CONTRACT: the caller applies the real `col between lo and hi`
    // filter on the returned frame (or a stronger one) — the prune
    // only discards generations that filter would empty anyway.

    /** (kept, pruned) live generation numbers of `part` under the
      * range test — exposed so specs and plan audits can assert the
      * skip without reading anything. */
    def partitionGens(part: String, column: String, lo: Option[String],
        hi: Option[String], asOfGen: Long = Long.MaxValue): (Seq[Long], Seq[Long]) = {
      val (kept, pruned) = liveGenEntries(part, asOfGen).partition {
        case (_, st) => st.get(column) match {
          case Some(ColStats(kind, mn, mx)) =>
            !(lo.exists(l => statLt(kind, mx, l)) ||
              hi.exists(h => statLt(kind, h, mn)))
          case None => true // no stats — cannot prove, must keep
        }
      }
      (kept.map(_._1), pruned.map(_._1))
    }

    /** `part` restricted to generations whose stats intersect
      * [lo, hi] on `column` (each bound optional).  None when nothing
      * survives — for the caller that means the filtered read is
      * EMPTY, not an error. */
    def readWhere(part: String, column: String, lo: Option[String],
        hi: Option[String], asOfGen: Long = Long.MaxValue): Option[DataFrame] = {
      val (kept, _) = partitionGens(part, column, lo, hi, asOfGen)
      if (kept.isEmpty) None
      else Some(kept.map(g => readGen(part, g)).reduce(_.unionByName(_)))
    }

    /** The exact maximum of `column` over the live generations,
      * answered FROM THE LOG (zero scans) — defined only when every
      * live generation recorded stats for the column (otherwise the
      * true max is unknowable without reading; callers fall back to a
      * scan).  The per-generation maxima are exact (observe-computed
      * over the written rows), so their fold is the exact part-wide
      * max. */
    def statsMax(part: String, column: String,
        asOfGen: Long = Long.MaxValue): Option[String] = {
      val gens = liveGenEntries(part, asOfGen)
      if (gens.isEmpty) return None
      val sts = gens.map(_._2.get(column))
      if (sts.exists(_.isEmpty)) None
      else Some(sts.flatten.reduce((a, b) =>
        if (statLt(a.kind, a.max, b.max)) b else a).max)
    }
  }

  // ---- the log's physical form: one TSV marker FILE per committed
  // transaction, named by commit sequence, written to a temp name and
  // atomically RENAMED into place — the Delta `_delta_log` shape.
  // Driver-side Hadoop FS I/O only: neither committing a transaction
  // nor pinning a snapshot costs a Spark job (the log is metadata —
  // a handful of ~100 B lines per transaction ever).

  private def markerName(seq: Long) = f"$seq%020d.commit"
  private def checkpointName(seq: Long) = f"$seq%020d.checkpoint"

  // ONLY canonical names are the log: the temp file a crashed writer
  // left behind (`_tmp-…`) must never be read as a commit — it was
  // never renamed, so its transaction never happened (an
  // endsWith(".commit") filter would also match the temp name, making
  // a never-committed txn visible and torn temp files a parse error)
  private val MarkerRe = """\d{20}\.(commit|checkpoint)""".r
  private def isMarkerName(name: String): Boolean =
    MarkerRe.matches(name)
  private def seqOfMarker(name: String): Long =
    name.takeWhile(_ != '.').toLong

  /** The WRITER FENCE: the protocol's contract is
    * single-writer maintenance windows, and this commit path turns a
    * violation from silent data loss into a LOUD abort.  On HDFS a
    * rename onto an existing name returns false (already loud), but on
    * a POSIX local FS rename OVERWRITES — a second writer racing the
    * same commit sequence would silently replace the first writer's
    * committed marker.  Three rungs close that:
    *  (1) the canonical name is checked immediately before the rename —
    *      a marker already there means another writer committed this
    *      seq (loud abort, our temp file stays orphaned for vacuum);
    *  (2) every marker carries a writer NONCE as a trailing `#` comment
    *      line (skipped by the parser), so marker CONTENT is unique per
    *      attempt even when two racers would commit identical entries;
    *  (3) after the rename, the marker is READ BACK and compared to
    *      what this writer wrote — a racer's rename landing between (1)
    *      and our rename is detected as foreign content (loud abort;
    *      the racer's commit stands: exactly one wins).
    * Honesty notes (the fence's limits, stated exactly):
    *  - the fence arbitrates the MARKER.  Two writers interleaving in
    *    the same microsecond window can still cross-write each other's
    *    UNCOMMITTED gen-N data dirs before either commits (the dirs
    *    are keyed by generation, and both raced to the same
    *    generation);
    *  - the PUBLISH step is a true create-if-absent on both real
    *    targets (see publishMarker): local filesystems publish by
    *    HARD LINK — link(2) fails atomically with EEXIST on a taken
    *    name, closing the rename-overwrite window entirely — and HDFS
    *    rename fails at the namenode when the name exists.  The
    *    post-publish read-back remains as the guard for filesystems
    *    with neither primitive (object-store rename shims).
    * Concurrent writing stays unsupported; CommitLogSpec drives the
    * two-writer race at three rungs — pre-write, commit-time
    * exists-check, and a marker landing INSIDE the check-to-publish
    * window (the raceAfterExistsCheck injection) — exactly-one-wins +
    * loud-loser in all three, single-writer behavior unchanged. */
  private def writeMarker(spark: SparkSession, base: String, name: String,
      lines: Seq[String]): Unit = {
    val dir = new Path(logPath(base))
    val f = fs(spark, logPath(base))
    f.mkdirs(dir)
    val nonce = java.util.UUID.randomUUID().toString
    val payload = (lines :+ s"#$nonce").mkString("", "\n", "\n")
    // nonce in the temp name too: racing writers at the same seq must
    // not clobber each other's temp files either
    val tmp = new Path(dir, s"_tmp-$nonce-$name")
    val out = f.create(tmp, true)
    try out.write(payload.getBytes("UTF-8"))
    finally out.close()
    if (CommitLog.crashBeforeMarkerRename) throw new InjectedCrash
    val dst = new Path(dir, name)
    if (f.exists(dst))
      throw new java.io.IOException(
        s"CommitLog: writer fence — marker $dst already exists: another " +
          "writer committed this sequence (single-writer contract violated)")
    CommitLog.raceAfterExistsCheck()
    publishMarker(f, tmp, dst)
    if (CommitLog.crashAfterMarkerRename) throw new InjectedCrash
    // read-back verify: on POSIX rename the exists-check above is not
    // atomic with the rename — foreign content here means a racer's
    // marker replaced (or was replaced by) ours in that window
    val st = f.getFileStatus(dst)
    val in = f.open(dst)
    val got = try {
      val buf = new Array[Byte](st.getLen.toInt)
      in.readFully(0, buf); new String(buf, "UTF-8")
    } finally in.close()
    if (got != payload)
      throw new java.io.IOException(
        s"CommitLog: writer fence — marker $dst holds another writer's " +
          "content after our rename; this transaction lost the race and " +
          "is NOT committed (single-writer contract violated)")
  }

  /** The publish step — move the fully-written temp marker to its
    * canonical name WITHOUT ever replacing an existing marker:
    *  - local filesystems: a HARD LINK to the canonical name —
    *    link(2) fails atomically with EEXIST when the name is taken,
    *    which is the true create-if-absent primitive POSIX offers
    *    (rename(2) silently replaces) — so on local FS the fence's
    *    residual race window is CLOSED, not narrowed: two racers at
    *    one sequence get exactly one link success and one loud EEXIST
    *    regardless of interleaving.  The canonical marker carries no
    *    CRC sidecar after a link publish (the temp's sidecar dies
    *    with the temp); LocalFileSystem reads uncheck-summed files
    *    fine, and marker integrity is already covered by the nonce
    *    read-back.
    *  - everything else: rename — atomic on HDFS, where a rename onto
    *    an existing name FAILS at the namenode (also airtight); on
    *    object stores without atomic rename the post-publish
    *    read-back remains the guard. */
  private def publishMarker(f: org.apache.hadoop.fs.FileSystem,
      tmp: Path, dst: Path): Unit = {
    if (f.getUri.getScheme == "file") {
      try
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.io.IOException(
            s"CommitLog: writer fence — marker $dst already exists: " +
              "another writer committed this sequence (single-writer " +
              "contract violated; this transaction is NOT committed)")
      }
      f.delete(tmp, false)
    } else if (!f.rename(tmp, dst))
      throw new java.io.IOException(
        s"CommitLog: marker rename $tmp -> $dst returned false " +
          "(another writer holds this sequence)")
  }

  private def entryLine(e: Entry): String =
    s"${e.gen}\t${e.part}\t${e.kind}\t${e.horizon}\t${e.seq}" +
      (if (e.stats.isEmpty) "" else s"\t${encodeStats(e.stats)}")

  private def parseLine(line: String): Entry = {
    val c = line.split('\t')
    Entry(c(0).toLong, c(1), c(2), c(3).toLong, c(4).toLong,
      if (c.length >= 6) decodeStats(c(5)) else Map.empty)
  }

  /** Pin the committed fold.  Tolerates a CONCURRENT `checkpoint`:
    * between this reader's listing and its file opens, a checkpoint
    * may delete a listed marker (its content now lives in the
    * checkpoint file, which this listing may predate) — skipping the
    * vanished file would silently DROP its transactions, so the read
    * RETRIES the whole listing instead; the checkpoint file is in
    * place before any delete happens, so the retry's listing is
    * complete (the lock-free concurrent-reader promise
    * now survives log maintenance, not just commits). */
  def snapshot(spark: SparkSession, base: String): Snapshot = {
    var backoff = 0
    while (true) {
      try return snapshotOnce(spark, base)
      catch {
        case _: java.io.FileNotFoundException if backoff < 5 =>
          backoff += 1
          // real backoff: the racing
          // checkpoint deletes its superseded markers one at a time,
          // so give its sweep time to finish — 10/20/40/80/160 ms
          // before the relist, vs six instant collisions
          Thread.sleep(10L << (backoff - 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def snapshotOnce(spark: SparkSession, base: String): Snapshot = {
    val dir = new Path(logPath(base))
    val f = fs(spark, logPath(base))
    val entries =
      if (!f.exists(dir)) Seq.empty[Entry]
      else f.listStatus(dir).toSeq
        .filter(st => isMarkerName(st.getPath.getName))
        .flatMap { st =>
          val in = f.open(st.getPath)
          val text = try {
            val buf = new Array[Byte](st.getLen.toInt)
            in.readFully(0, buf); new String(buf, "UTF-8")
          } finally in.close()
          // `#`-prefixed lines are writer-nonce comments (the fence's
          // content-uniqueness rung), not entries
          text.split('\n').filter(l => l.nonEmpty && !l.startsWith("#"))
            .map(parseLine)
        }
    Snapshot(spark, base, entries)
  }

  /** Number of marker files the log currently holds — one driver FS
    * listing; the streaming twins trigger `checkpoint` off this count
    * (self-healing across skipped/replayed batches, unlike an
    * id-divisibility schedule). */
  def markerCount(spark: SparkSession, base: String): Int = {
    val dir = new Path(logPath(base))
    val f = fs(spark, logPath(base))
    if (!f.exists(dir)) 0
    else f.listStatus(dir).count(st => isMarkerName(st.getPath.getName))
  }

  /** LOG CHECKPOINT — the fold-and-truncate verb that bounds
    * snapshot cost (the Delta `checkpoint.parquet` move): the whole committed fold is rewritten as ONE marker
    * file (same line format, entries verbatim with their original
    * seqs — the fold is order-insensitive by (sortGen, seq), so a
    * checkpoint changes NOTHING about any snapshot), then every
    * superseded `.commit`/`.checkpoint` file is deleted.  After it,
    * `snapshot()` opens O(1 + txns-since-checkpoint) files instead of
    * O(txns ever) — the one unbounded-growth path streaming cadence
    * had left.
    *
    * Crash-safety: the checkpoint file lands by the same temp+rename
    * primitive as commits; every window is idempotent because the
    * fold tolerates DUPLICATE entries (a crash after the rename but
    * before the deletes leaves the checkpoint coexisting with the
    * markers it covers — identical lines, same fold).  Run it in the
    * single-writer maintenance window like every other maintenance
    * verb (it races a concurrent COMMIT benignly — a commit landing
    * after the listing is simply not folded in — but two concurrent
    * checkpoints are not supported). */
  def checkpoint(spark: SparkSession, base: String): Unit = {
    val dir = new Path(logPath(base))
    val f = fs(spark, logPath(base))
    if (!f.exists(dir)) return
    val names = f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(isMarkerName)
    if (names.size <= 1) return // already one file — nothing to fold
    val snap = snapshot(spark, base)
    if (snap.entries.isEmpty) return
    val upTo = snap.maxSeq
    val ckName = checkpointName(upTo)
    // a RETRY of a checkpoint that crashed between its rename and its
    // deletes finds the checkpoint file already in place: skip the
    // write (rename onto an existing name would fail) and just finish
    // the deletes.  Entries are deduped — that same crash state makes
    // the snapshot read every entry twice (checkpoint + the markers it
    // covers), and writing the duplicates verbatim would double the
    // file per crash cycle.
    if (!names.contains(ckName))
      writeMarker(spark, base, ckName,
        snap.entries.distinct.sortBy(e => (e.seq, e.part)).map(entryLine))
    names.filter(n => n != ckName && seqOfMarker(n) <= upTo)
      .foreach(n => f.delete(new Path(dir, n), false))
  }

  /** One transaction: writes land under fresh `part/gen=N` dirs as the
    * body runs; NOTHING is visible until `commit()` appends the
    * entries to the log.  A body that throws (or a process that dies)
    * leaves only orphan dirs the next transaction overwrites and
    * vacuum deletes. */
  final class Txn private[CommitLog] (
      val spark: SparkSession, val base: String, val gen: Long,
      nextSeq: Long) {
    private final class Rec(val sfx: String, val kind: String,
        val horizon: Long, var stats: Map[String, ColStats])
    private val recorded = mutable.ArrayBuffer.empty[Rec]
    private var nWrites = 0

    private def record(part: String, kind: String, horizon: Long = -1L): Rec = {
      val sfx = suffixOf(base, part)
      require(!recorded.exists(_.sfx == sfx),
        s"CommitLog.Txn: part '$sfx' already written in this transaction " +
          "(one verb per part per txn — compose inside the DataFrame instead)")
      val r = new Rec(sfx, kind, horizon, Map.empty)
      recorded += r
      r
    }

    private def write(df: DataFrame, part: String, partitionCols: Seq[String],
        statsCols: Seq[String]): Map[String, ColStats] = {
      // writer fence, PRE-WRITE rung: if the
      // canonical marker for this txn's sequence already landed,
      // another writer committed "our" generation while this txn was
      // open — abort BEFORE overwriting its now-COMMITTED gen dirs
      // (the commit-time fence alone would fire only after the damage)
      val marker = new Path(logPath(base), markerName(nextSeq))
      if (fs(spark, base).exists(marker))
        throw new java.io.IOException(
          s"CommitLog: writer fence — $marker landed while this " +
            "transaction was open; another writer committed this " +
            "generation (single-writer contract violated)")
      // stats ride INSIDE the write job (an observe node computing
      // exact min/max of the rows as they stream through) — zero extra
      // pass, no second scan; the commit entry then carries them for
      // log-level data skipping
      val kinds: Map[String, String] = statsCols.map { c =>
        require(c.matches("[A-Za-z0-9_]+"),
          s"stats column name '$c' must be a plain identifier")
        val dt = df.schema(c).dataType
        c -> statKindOf(dt).getOrElse(throw new IllegalArgumentException(
          s"stats column '$c' has type $dt — no orderable stats contract"))
      }.toMap
      val obs = if (statsCols.isEmpty) None else Some(new Observation())
      val toWrite = obs.fold(df) { o =>
        val exprs = statsCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c")))
        df.observe(o, exprs.head, exprs.tail: _*)
      }
      // overwrite the txn's OWN gen dir: self-cleaning of orphans a
      // crashed attempt at this same (never-committed) gen left behind
      val dir = genDir(part, gen)
      val w = toWrite.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(dir)
      // a zero-row partitionBy write leaves a dir with NO data files —
      // unreadable.  Detected AFTER the write with one FS listing (no
      // extra Spark action on the hot path — df.isEmpty would re-run
      // the part's plan once per write); the rewrite keeps the
      // partition columns as data columns (one empty file WITH schema;
      // unionByName folds it, and zero rows make the lost layout moot)
      if (partitionCols.nonEmpty && !hasDataFile(spark, dir))
        df.limit(0).write.mode("overwrite").parquet(dir)
      nWrites += 1
      if (nWrites == CommitLog.crashAfterWrites) throw new InjectedCrash
      obs.map { o =>
        val row = o.get // completed: the write action above has run
        statsCols.flatMap { c =>
          (Option(row(s"mn_$c")), Option(row(s"mx_$c"))) match {
            // a zero-row or all-null write records NO stats for the
            // column — readers then always keep the generation (safe)
            case (Some(mn), Some(mx))
                if statsParseable(kinds(c), mn.toString) &&
                  statsParseable(kinds(c), mx.toString) =>
              Some(c -> ColStats(kinds(c), mn.toString, mx.toString))
            // a "num" bound that BigDecimal cannot parse (NaN/Infinity
            // from a float column) is treated like the all-null case:
            // record nothing, readers keep the generation.  Recording
            // it would be prune-safe (statLt compares unparseable as
            // not-less, both directions) but statsMax could then SERVE
            // "NaN" as the part-wide max string and crash a caller's
            // parser — refuse at record time instead.
            case _ => None
          }
        }.toMap
      }.getOrElse(Map.empty)
    }

    def append(df: DataFrame, part: String, partitionCols: Seq[String] = Nil,
        statsCols: Seq[String] = Nil): Unit = {
      val r = record(part, "append")
      r.stats = write(df, part, partitionCols, statsCols)
    }

    def replace(df: DataFrame, part: String, partitionCols: Seq[String] = Nil,
        statsCols: Seq[String] = Nil): Unit = {
      val r = record(part, "replace")
      r.stats = write(df, part, partitionCols, statsCols)
    }

    def clear(part: String): Unit = { record(part, "clear"); () }

    /** Retention: `df` is the part's state folded up to `horizon`
      * (exclusive of later appends, which stay live).  Generations ≤
      * horizon die for every reader, as-of included. */
    def rebase(df: DataFrame, part: String, horizon: Long,
        partitionCols: Seq[String] = Nil, statsCols: Seq[String] = Nil): Unit = {
      require(horizon < gen, s"rebase horizon $horizon must precede txn gen $gen")
      val r = record(part, "rebase", horizon)
      r.stats = write(df, part, partitionCols, statsCols)
    }

    /** THE commit marker — the transaction's one atomic step: a
      * single-file append of this txn's entries to the log.  Nothing
      * written before this call is visible to any snapshot; after it,
      * everything is. */
    def commit(): Unit = {
      if (CommitLog.crashBeforeCommit) throw new InjectedCrash
      require(recorded.nonEmpty, "CommitLog.Txn: empty transaction")
      writeMarker(spark, base, markerName(nextSeq),
        recorded.toSeq.map(r =>
          entryLine(Entry(gen, r.sfx, r.kind, r.horizon, nextSeq, r.stats))))
    }
  }

  /** Open a transaction at the next generation.  private[graft] so
    * WarehouseCommitSpec can open one, write a PREFIX of a verb's
    * parts and abandon it — the crash simulation. */
  private[graft] def begin(spark: SparkSession, base: String): Txn = {
    val snap = snapshot(spark, base)
    new Txn(spark, base, snap.maxGen + 1, snap.maxSeq + 1)
  }

  /** Run `body` as one transaction: every part write it performs
    * becomes visible atomically at the end, or not at all. */
  def transaction(spark: SparkSession, base: String)(body: Txn => Unit): Unit = {
    val txn = begin(spark, base)
    body(txn)
    txn.commit()
  }

  /** DESCRIBE HISTORY — the committed log as a DataFrame, one row per
    * (transaction, part) entry: (gen, part, kind, horizon, seq).  The
    * introspection half of the as-of contract ("which corpus did this
    * training run dedup against" needs the generation CATALOG, not
    * just the cut) — Delta's DESCRIBE HISTORY for this protocol.
    * Driver-side: the log is metadata, so this is a small literal
    * frame, never a scan. */
  def history(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    // distinct: in checkpoint's crash-after-rename state the snapshot
    // legitimately reads every entry twice (checkpoint + the markers
    // it covers) — the fold is idempotent, the catalog must be too
    snapshot(spark, base).entries.distinct
      .sortBy(e => (e.seq, e.part))
      .map(e => (e.gen, e.part, e.kind, e.horizon, e.seq))
      .toDF("gen", "part", "kind", "horizon", "seq")
  }

  /** DESCRIBE DETAIL for the data-skipping metadata: one row per live
    * (generation, stats column) of `part` — the introspection half of
    * the skipping contract ("which generations would a window probe
    * even list" is answerable from this catalog alone).  Driver-side
    * like `history`: the log is metadata, so this is a small literal
    * frame, never a scan — and because the recorded values are exact
    * observe-computed min/max of the written rows, the catalog is
    * ORACLE-CHECKABLE against the same aggregates over the raw inputs
    * (q_ts_index_stats does exactly that). */
  def statsCatalog(spark: SparkSession, base: String, part: String): DataFrame = {
    import spark.implicits._
    snapshot(spark, base).liveGenEntries(part, Long.MaxValue)
      .flatMap { case (g, st) =>
        st.toSeq.sortBy(_._1).map { case (c, s) => (g, c, s.kind, s.min, s.max) }
      }
      .toDF("gen", "stat_col", "kind", "min_v", "max_v")
  }

  /** Physical GC — a SEPARATE retention verb, never bundled into
    * compact: delete every generation directory the head fold no
    * longer references — dead generations (behind a replace/rebase/
    * clear) and crash orphans alike.  Parts are discovered from the
    * log itself.  Run it at the retention cadence with pinned readers
    * drained (a probe snapshot taken BEFORE a compact still reads the
    * pre-compact generations until vacuum reclaims them — that grace
    * window is the concurrent-reader contract's other half). */
  def vacuum(spark: SparkSession, base: String): Unit = {
    val snap = snapshot(spark, base)
    val f = fs(spark, base)
    // parts come from the log PLUS the physical sibling sweep: a
    // crashed transaction whose FIRST-ever write touched a part with
    // no committed entry (e.g. the first append to a `.tomb` side
    // table) leaves a gen dir the log knows nothing about — sweeping
    // dot-suffixed siblings of base reclaims those too.  Scope is deliberately tight: exactly `base` and
    // `base.<suffix>` names (every part the matrix writes is one or
    // the other), never a sibling member that merely shares a name
    // prefix, and only `gen-N` subdirectories — the shape only this
    // protocol writes — are candidates for deletion.
    val baseP = new Path(base)
    val parent = baseP.getParent
    val sweepParts: Seq[String] = {
      val fromLog = snap.entries.map(e => base + e.part)
      // sibling DIRECTORIES only (files must
      // neither enter the sweep nor masquerade as a nested log)
      val dirNames: Set[String] =
        if (parent == null || !f.exists(parent)) Set.empty
        else f.listStatus(parent).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).toSet
      // a dot-suffixed sibling with its OWN commit log is a NESTED
      // CommitLog base (e.g. an index at `<base>.mh` with
      // `<base>.mh.commits`) — ITS root AND its own
      // dot-suffixed parts (`<base>.mh.docs`, `<base>.mh.tomb`) are
      // governed by ITS log, and folding THIS log would compute
      // live = {} and delete committed data; only its own vacuum may
      // touch any of them.  (The base itself is exempt: `base.commits`
      // IS this log.)
      val nestedBases = dirNames.filter(n =>
        n != baseP.getName && n.startsWith(baseP.getName + ".") &&
          dirNames.contains(n + ".commits"))
      val fromFs = dirNames.toSeq
        .filter(n => n == baseP.getName ||
          (n.startsWith(baseP.getName + ".") &&
            !n.endsWith(".commits") &&
            !nestedBases.contains(n) &&
            !nestedBases.exists(nb => n.startsWith(nb + "."))))
        .map(n => base + (if (n == baseP.getName) "" else n.stripPrefix(baseP.getName)))
      (fromLog ++ fromFs).distinct
    }
    sweepParts.foreach { part =>
      val live = snap.liveGens(part, Long.MaxValue).toSet
      val dir = new Path(part)
      if (f.exists(dir)) f.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith("gen-") &&
            name.stripPrefix("gen-").forall(_.isDigit) &&
            !live.contains(name.stripPrefix("gen-").toLong))
          f.delete(st.getPath, true)
      }
    }
    // stale marker TEMP files a writer killed before its rename left
    // behind.  Safe under the protocol's
    // single-writer window: vacuum is a maintenance verb, so no
    // commit is concurrently mid-rename.
    val logDir = new Path(logPath(base))
    if (f.exists(logDir)) f.listStatus(logDir).foreach { st =>
      if (st.getPath.getName.startsWith("_tmp-")) f.delete(st.getPath, false)
    }
  }
}
