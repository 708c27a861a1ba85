package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Exact.{roundx, sumx}
import graft.sources.{CommitLog, Tables}

/** Incremental maintenance of a JOIN view — the one algebraic shape
  * the warehouse matrix lacked.  Every other member maintains a UNARY
  * operator over one input (a rollup, an index, a sketch); fcd's
  * dashboard collector maintains joined rollups (reference:
  * src/collector/dashboard/collectDashboard.ts:23 — each cycle joins
  * new blocks/txs against standing reference rows before upserting
  * the rollup), and the general form of that maintenance is the
  * classic delta rule for binary operators (Blakeley et al. 1986;
  * DBToaster's map states, Koch et al. 2014 — public IVM
  * literature):
  *
  *   Δ(O ⋈ L) = ΔO ⋈ L  ∪  O ⋈ ΔL  ∪  ΔO ⋈ ΔL
  *
  * Instance: the priority × year revenue view
  * `orders ⋈ lineitem ON orderkey → GROUP BY (o_orderpriority,
  * year(o_orderdate)) → (sum revenue, count lines)`.
  *
  * The rule is implemented as SEQUENCED unary refreshes:
  * `refreshLines(ΔL)` folds O_standing ⋈ ΔL, then `refreshOrders(ΔO)`
  * folds ΔO ⋈ L_standing — and because refreshLines appended ΔL
  * first, the second term covers ΔO ⋈ (L_old ∪ ΔL) = ΔO ⋈ L_old ∪
  * ΔO ⋈ ΔL.  Sequential composition IS the three-term delta rule, so
  * there is no special combined verb to get wrong, and ANY
  * interleaving of order/line batches folds to the same state
  * (spec-pinned: lines-first, orders-first, and alternating all
  * bit-equal).
  *
  * CONTRACT — the bit-equal rung, with the honest asymmetry stated:
  * the view deltas are (DECIMAL revenue, LONG line-count) rows and
  * both fold by exact associative sums, so any refresh sequence ==
  * one-shot rebuild on the union BIT-FOR-BIT.  But unlike the unary
  * members, a join-view refresh is NOT O(batch) pure-local: each
  * batch must join the STANDING opposite side — O(batch ⋈ index),
  * the information-theoretic floor for join views (the batch's
  * contribution depends on rows it has never seen).  At 100 TB both
  * side states are bucketed by the join key, so each delta term is a
  * co-located join (no standing-side shuffle; the batch side
  * broadcasts when small), and both side states are COLUMN-PRUNED to
  * join key + view attributes only — the L side further
  * PRE-AGGREGATED to one (rev, n) row per orderkey (a DBToaster-
  * style map state), so standing-L is bounded by distinct keys, not
  * line rows.
  *
  * RETRACTION — the delete verb composes through the SAME rule with
  * negated deltas: retracting orders R appends −(R ⋈ L_standing) to
  * the view and marks R's side rows with op = −1 (side states carry
  * the (vsum, n)-discipline count column; a key whose net op reaches
  * 0 drops at merge, so a later line batch for a retracted order
  * finds no match and correctly contributes nothing).  retract ∘
  * refresh == rebuild-on-(base ∖ removed), bit-for-bit — the
  * TsWarehouse/Balance rung, now also on a binary view.
  *
  * Layout: `path` = append-only view deltas (prio, year, rev
  * DECIMAL, n LONG); `path.o` = orders side state (k, prio, year,
  * op ±1); `path.l` = line side state (k, rev DECIMAL, n LONG).
  * `compact` merges all three (probe-bit-invariant; single-writer
  * maintenance window as everywhere in the matrix). */
object JoinViewWarehouse {

  private def oPath(path: String) = path + ".o"
  private def lPath(path: String) = path + ".l"

  /** Every view-delta write declares YEAR stats (round 13, VERDICT-r12
    * ask #4 — the statsCols adoption): exact per-generation
    * min/max(year) ride in the commit entries at zero write-time cost,
    * so the windowed consumer (`q_revenue_view_recent`) drops
    * generations whose year range provably misses its trailing window
    * AT THE LOG, before any file listing — at ingest cadence the live
    * generation count grows with time, the recent probe's scan set
    * does not. */
  private val YearStats = Seq("year")

  /** Per-row revenue — the deterministic double product; exactness
    * comes from the DECIMAL sum above it (Exact.sumx). */
  private def revExpr = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** L-side delta map: one (rev, n) row per orderkey in the batch. */
  private def lineDeltas(lines: DataFrame): DataFrame =
    lines.groupBy(col("l_orderkey").as("k"))
      .agg(sum(revExpr.cast("decimal(30,6)")).as("rev"), count(lit(1)).as("n"))

  /** O-side state rows: join key + the view's group attributes, op-
    * signed (+1 live, −1 retracted). */
  private def orderRows(orders: DataFrame, op: Int): DataFrame =
    orders.select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("prio"),
      year(col("o_orderdate")).cast("long").as("year"),
      lit(op.toLong).as("op"))

  /** The merged O-side map: one live (k, prio, year) row per
    * surviving order (net-op 0 keys — retracted orders — drop). */
  private def mergedOrders(snap: CommitLog.Snapshot, path: String): DataFrame =
    snap.read(oPath(path))
      .groupBy(col("k"), col("prio"), col("year"))
      .agg(sum(col("op")).as("op"))
      .filter(col("op") =!= 0)
      .select(col("k"), col("prio"), col("year"))

  /** The merged L-side map: one (rev, n) row per orderkey with
    * surviving lines. */
  private def mergedLines(snap: CommitLog.Snapshot, path: String): DataFrame =
    snap.read(lPath(path))
      .groupBy(col("k"))
      .agg(sum(col("rev")).as("rev"), sum(col("n")).as("n"))
      .filter(col("n") =!= 0)

  /** Group a joined (prio, year, rev, n) frame to view-delta rows,
    * `sign`-ed (+1 refresh, −1 retract). */
  private def viewDeltas(joined: DataFrame, sign: Int): DataFrame =
    joined.groupBy(col("prio"), col("year"))
      .agg((lit(sign) * sum(col("rev"))).as("rev"),
        (lit(sign.toLong) * sum(col("n"))).as("n"))

  /** INGEST — one-shot build from both sides; also the refresh-
    * equivalence spec's reference builder. */
  def materializeFrom(orders: DataFrame, lines: DataFrame, path: String): Unit = {
    // pin both side maps once — the view join reuses them instead of
    // re-scanning and re-aggregating each input a second time
    val o = orderRows(orders, 1).localCheckpoint()
    val l = lineDeltas(lines).localCheckpoint()
    CommitLog.transaction(o.sparkSession, path) { t =>
      t.replace(o, oPath(path))
      t.replace(l, lPath(path))
      t.replace(viewDeltas(o.join(l, Seq("k")), 1), path, statsCols = YearStats)
    }
  }

  /** REFRESH, line side — fold a lineitem batch: view += O_standing ⋈
    * ΔL.  View delta and side-state row land as ONE CommitLog
    * transaction (round 11 — closing the ADVICE-r10 window: a crash
    * between the two writes previously left a state neither
    * re-runnable nor skippable; now an interrupted refresh is simply
    * invisible and the retry converges with a clean run). */
  def refreshLines(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val done = refreshLinesTxn(spark, batch, path, batchId = None)
    assert(done, "unreachable: un-id'd refreshes never skip")
  }

  /** The line-side refresh transaction body, optionally committing a
    * STREAM BATCH ID atomically with both parts — the exactly-once
    * rung (StreamTwin; round 13).  On a JOIN view replaying a
    * committed batch is worse than duplicate counting: the replayed
    * ΔL re-joins an O side that may have changed since, folding in
    * view deltas a rebuild would never produce. */
  private[graft] def refreshLinesTxn(spark: SparkSession, batch: DataFrame,
      path: String, batchId: Option[Long]): Boolean = {
    // dup-check BEFORE any Spark work (review r13: the localCheckpoint
    // below materializes the batch — a replayed committed batch must
    // skip without paying that job); like Bm25's refreshTxn, the one
    // snapshot serves both the check and the standing-side reads
    val snap = CommitLog.snapshot(spark, path)
    val seen = batchId.exists(id =>
      graft.sources.StreamTwin.seenBatch(snap, path, id))
    if (seen) return false
    val dl = lineDeltas(batch).localCheckpoint()
    CommitLog.transaction(spark, path) { t =>
      t.append(viewDeltas(mergedOrders(snap, path).join(dl, Seq("k")), 1), path,
        statsCols = YearStats)
      t.append(dl, lPath(path))
      batchId.foreach(id => graft.sources.StreamTwin.commitBatchId(t, path, id))
    }
    true
  }

  /** REFRESH, order side — fold an orders batch: view += ΔO ⋈
    * L_standing.  Sequencing this after refreshLines(ΔL) yields the
    * full three-term delta rule (see object doc). */
  def refreshOrders(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val dOrd = orderRows(batch, 1).localCheckpoint()
    val snap = CommitLog.snapshot(spark, path)
    CommitLog.transaction(spark, path) { t =>
      t.append(viewDeltas(dOrd.join(mergedLines(snap, path), Seq("k")), 1), path,
        statsCols = YearStats)
      t.append(dOrd, oPath(path))
    }
  }

  /** REFRESH, both sides — fold one ingest window's orders AND lines
    * in ONE transaction: the full three-term delta rule
    * Δview = ΔO ⋈ L_old ∪ (O_old ∪ ΔO) ⋈ ΔL, grouped into a single
    * view-delta generation.  This is the collector loop's real shape
    * (a block arrives with its orders and their lines together), and
    * it is what makes the recorded year stats SELECTIVE: a yearly
    * ingest window lands as one generation whose [min, max] year span
    * is that window, where the sequenced two-txn form would bracket
    * an empty no-stats generation per window.  Bit-equal to the
    * sequenced refreshes for any batching (spec-pinned — the same
    * associativity argument as the object doc's). */
  def refreshBoth(spark: SparkSession, orders: DataFrame,
      lines: DataFrame, path: String): Unit = {
    val o = orderRows(orders, 1).localCheckpoint()
    val l = lineDeltas(lines).localCheckpoint()
    val snap = CommitLog.snapshot(spark, path)
    val oNew = o.select(col("k"), col("prio"), col("year"))
    // empty-base tolerance: the first ingest window IS the build
    // (O_old / L_old absent ⇒ the rule collapses to ΔO ⋈ ΔL)
    val oAll = snap.readOpt(oPath(path))
      .map(_ => mergedOrders(snap, path).unionByName(oNew)).getOrElse(oNew)
    val term1 = oAll.join(l, Seq("k"))
      .select(col("prio"), col("year"), col("rev"), col("n"))
    val joined = snap.readOpt(lPath(path))
      .map(_ => term1.unionByName(oNew.join(mergedLines(snap, path), Seq("k"))
        .select(col("prio"), col("year"), col("rev"), col("n"))))
      .getOrElse(term1)
    CommitLog.transaction(spark, path) { t =>
      t.append(viewDeltas(joined, 1), path, statsCols = YearStats)
      t.append(o, oPath(path))
      t.append(l, lPath(path))
    }
  }

  /** RETRACT, order side — remove orders: view −= R ⋈ L_standing,
    * and R's side rows fold out via op = −1 (net-0 keys drop, so
    * later line batches for a retracted order contribute nothing).
    * Precondition: removed ⊆ ingested, the matrix-wide caller
    * contract. */
  def retractOrders(spark: SparkSession, removed: DataFrame, path: String): Unit = {
    val rOrd = orderRows(removed, 1).localCheckpoint()
    val snap = CommitLog.snapshot(spark, path)
    CommitLog.transaction(spark, path) { t =>
      t.append(viewDeltas(rOrd.join(mergedLines(snap, path), Seq("k")), -1), path,
        statsCols = YearStats)
      t.append(rOrd.withColumn("op", lit(-1L)), oPath(path))
    }
  }

  /** COMPACT — merge all three states to one row per key; probes
    * bit-identical before/after (associative DECIMAL/LONG sums;
    * zero-count keys purge physically). */
  def compact(spark: SparkSession, path: String): Unit = {
    // the merged READER is the one definition of the folded state —
    // compact must persist exactly what probes serve
    val snap = CommitLog.snapshot(spark, path)
    CommitLog.transaction(spark, path) { t =>
      t.replace(mergedViewOf(snap, path), path, statsCols = YearStats)
      t.replace(mergedOrders(snap, path).withColumn("op", lit(1L)), oPath(path))
      t.replace(mergedLines(snap, path), lPath(path))
      // replay protection survives compaction (StreamTwin)
      graft.sources.StreamTwin.compactIds(snap, t, path)
    }
  }

  /** The probe-side merge — exposed un-checkpointed so the spec can
    * assert its plan scans ONLY the view deltas (never orders/
    * lineitem, and not even the side states: the view is self-
    * contained at serve time). */
  private[graft] def mergedView(spark: SparkSession, path: String): DataFrame =
    mergedViewOf(CommitLog.snapshot(spark, path), path)

  private def mergedViewOf(snap: CommitLog.Snapshot, path: String): DataFrame =
    snap.read(path)
      .groupBy(col("prio"), col("year"))
      .agg(sum(col("rev")).as("rev"), sum(col("n")).as("n"))
      .filter(col("n") =!= 0)

  /** Registered `q_revenue_view_probe` / `q_revenue_view_retracted`:
    * the maintained view served at rest — group-key metadata scale
    * (priorities × years), ORACLED with the plain join-rollup SQL
    * (verbatim body, parameterized only on the survivor predicate
    * for the retracted twin). */
  def probe(spark: SparkSession, path: String): DataFrame =
    mergedView(spark, path)
      .select(col("prio").as("o_orderpriority"), col("year"),
        roundx(col("rev").cast("double"), 4).as("revenue"),
        col("n").as("n_lines"))
      .orderBy(col("o_orderpriority"), col("year"))

  /** Registered `q_revenue_view_recent`: the trailing-`years` window
    * of the maintained view — the dashboard's hottest read shape
    * ("this year and last"), served with LOG-LEVEL DATA SKIPPING: the
    * latest year comes from the commit entries' stats (zero scans)
    * and `readWhere` drops every generation whose recorded year range
    * ends before the window BEFORE any file listing (the
    * TsWarehouse.recentWindow contract on the binary member).  The
    * real filter still applies on the kept generations, so the result
    * equals the unskipped read row for row — ORACLED with the plain
    * join-rollup SQL under the identical trailing-window predicate. */
  def recentYears(spark: SparkSession, path: String, years: Int = 2): DataFrame = {
    require(years >= 1, s"window must be at least one year, got $years")
    val snap = CommitLog.snapshot(spark, path)
    if (snap.maxGen < 0) // a path with NO committed log stays loud
      throw new IllegalStateException(
        s"recentYears: no committed generations under '$path' — not a join view")
    // the zero-scan anchor needs year stats on EVERY live generation;
    // an empty ingest window (zero-row append — no stats by design)
    // or a foreign writer drops to ONE scan of the folded view (the
    // TsWarehouse.recentWindow stance, ADVICE r12's shape).
    //
    // ANCHOR SEMANTICS (ADVICE r13 #1): stats are retraction-agnostic
    // — a retraction generation records the SAME years as the rows it
    // negates — so a stats anchor on a fully-retracted newest year
    // would frame the window on years whose net rows are zero and
    // silently DROP the oldest surviving year.  For a monitoring
    // surface that is the right contract (TsWarehouse.recentWindow's
    // documented stance: "the last week has no surviving data" is the
    // answer); for this DASHBOARD view it is not — "revenue, this
    // year and last" means the last years that HAVE revenue.  So the
    // scan fallback anchors on net n != 0, and the stats anchor is
    // verified below: if the stats-framed window folds to zero net
    // rows, the probe re-anchors through the same one-scan fallback —
    // pre-compact and post-compact answers then agree by
    // construction (JoinViewWarehouseSpec pins the tail-retraction
    // case).
    def scanAnchor(): Option[Long] = Option(snap.read(path)
      .groupBy(col("year")).agg(sum(col("n")).as("n"))
      .filter(col("n") =!= 0)
      .agg(max(col("year")).as("mx")).head().getAs[java.lang.Long]("mx"))
      .map(_.toLong)
    val statsAnchor: Option[Long] = snap.statsMax(path, "year").map(_.toLong)
    val latestOpt: Option[Long] = statsAnchor.orElse(scanAnchor())
    def resultAt(latestOpt: Option[Long]): DataFrame = latestOpt match {
      case None => // view folded to empty: the probe's empty frame
        snap.read(path).filter(lit(false))
          .groupBy(col("prio"), col("year"))
          .agg(sum(col("rev")).as("rev"), sum(col("n")).as("n"))
          .select(col("prio").as("o_orderpriority"), col("year"),
            roundx(col("rev").cast("double"), 4).as("revenue"),
            col("n").as("n_lines"))
      case Some(latest) =>
        val cutoff = latest - (years - 1)
        val kept = snap.readWhere(path, "year", Some(cutoff.toString), None)
          .getOrElse(throw new IllegalStateException( // unreachable: max-year gen survives
            s"recentYears: every generation pruned at cutoff $cutoff"))
        kept.filter(col("year") >= cutoff)
          .groupBy(col("prio"), col("year"))
          .agg(sum(col("rev")).as("rev"), sum(col("n")).as("n"))
          .filter(col("n") =!= 0)
          .select(col("prio").as("o_orderpriority"), col("year"),
            roundx(col("rev").cast("double"), 4).as("revenue"),
            col("n").as("n_lines"))
          .orderBy(col("o_orderpriority"), col("year"))
    }
    // VERIFY the stats anchor: the recorded max year always ≥ the max
    // NET year, with equality whenever the anchor year holds any
    // surviving rows — so one check ("does the anchor year survive?")
    // detects exactly the retracted-tail states where the two anchors
    // diverge, and the fallback re-anchors on net rows.  The check
    // reads ONLY the anchor year's generations (readWhere at
    // [latest, latest] — one log-pruned sum, not the whole window)
    // and runs BEFORE the result frame is built, so the caller's read
    // executes once (review r14).  After compact the stats re-record
    // from survivors and the two anchors agree again.
    val anchorRetracted = statsAnchor.exists { latest =>
      snap.readWhere(path, "year", Some(latest.toString), Some(latest.toString))
        .forall(df => Option(df.filter(col("year") === latest)
          .agg(sum(col("n")).as("n")).head().getAs[java.lang.Long]("n"))
          .forall(_ == 0L))
    }
    if (anchorRetracted) resultAt(scanAnchor()) else resultAt(latestOpt)
  }

  /** The once-per-JVM YEAR-CADENCE build: one refreshBoth generation
    * per calendar year of the orders table — the production ingest
    * cadence (one generation per window), which is exactly what makes
    * the recorded year stats selective: each generation's [min, max]
    * span is one year, so the trailing-window probe proves all
    * earlier years empty AT THE LOG (TsWarehouse.builtWeeklyPath's
    * rationale on the binary member).  Lines travel with their
    * order's year (a left-semi prune on the order keys). */
  def builtYearlyPath(spark: SparkSession, dir: String): String =
    graft.sources.Materialized.pathFor("join_view_warehouse_yearly", dir) { p =>
      val t = Tables(spark, dir)
      val oy = year(col("o_orderdate")).cast("long")
      // the year domain is a driver-side scalar list (calendar
      // metadata, ~7 values), like any partition-pruning predicate
      val years = t.orders.select(oy.as("y")).distinct()
        .collect().map(_.getLong(0)).sorted
      def ordersOf(y: Long) = t.orders.filter(oy === y)
      def linesOf(orders: DataFrame) = t.lineitem.join(
        orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      years.foreach { y =>
        val o = ordersOf(y).localCheckpoint()
        refreshBoth(spark, o, linesOf(o), p)
      }
    }

  /** The two-sided generation split (mod-10 on each side's own key —
    * cross-cutting: an order's lines can arrive before or after the
    * order row itself, and the delta rule does not care). */
  private[graft] def isBaseOrder = pmod(col("o_orderkey"), lit(10L)) < 8
  private[graft] def isBaseLine = pmod(col("l_orderkey") + col("l_linenumber"), lit(10L)) < 8

  /** The slice the registered retraction removes — cross-cutting
    * mod-7 on o_orderkey (orders from base and incoming generations
    * alike, cascading to every line of those orders). */
  private[graft] def isRetractedOrder = pmod(col("o_orderkey"), lit(7L)) === 0

  /** Once-per-JVM build: base generations of BOTH sides, then the
    * incoming line batch, then the incoming order batch — the
    * sequenced delta rule exercising all three terms. */
  def builtPath(spark: SparkSession, dir: String): String =
    graft.sources.Materialized.pathFor("join_view_warehouse", dir) { p =>
      val t = Tables(spark, dir)
      materializeFrom(t.orders.filter(isBaseOrder),
        t.lineitem.filter(isBaseLine), p)
      refreshLines(spark, t.lineitem.filter(!isBaseLine), p)
      refreshOrders(spark, t.orders.filter(!isBaseOrder), p)
    }

  /** The retraction build: full two-sided ingest + refresh, then
    * retract the cross-cutting order slice. */
  def builtRetractedPath(spark: SparkSession, dir: String): String =
    graft.sources.Materialized.pathFor("join_view_warehouse_retracted", dir) { p =>
      val t = Tables(spark, dir)
      materializeFrom(t.orders.filter(isBaseOrder),
        t.lineitem.filter(isBaseLine), p)
      refreshLines(spark, t.lineitem.filter(!isBaseLine), p)
      refreshOrders(spark, t.orders.filter(!isBaseOrder), p)
      retractOrders(spark, t.orders.filter(isRetractedOrder), p)
    }

  /** Op-signed order-change rows — the CDC shape: op = +1 inserts an
    * order, −1 deletes one; an UPDATE (e.g. a priority correction) is
    * the (−1 old row, +1 new row) pair. */
  private def orderChangeRows(changes: DataFrame): DataFrame =
    changes.select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("prio"),
      year(col("o_orderdate")).cast("long").as("year"),
      col("op").cast("long").as("op"))

  /** Fold one order-change batch: view += Σ op · (row ⋈ L_standing),
    * side state += the op-signed rows, and the optional stream batch
    * id, in one transaction.  The explicit decimal cast pins the
    * view-delta schema to the refresh/retract writes'. */
  private[graft] def orderChangesTxn(spark: SparkSession, batch: DataFrame,
      path: String, batchId: Option[Long]): Boolean = {
    // dup-check before any Spark work; one snapshot serves check +
    // standing reads (the refreshLinesTxn rationale)
    val snap = CommitLog.snapshot(spark, path)
    val seen = batchId.exists(id =>
      graft.sources.StreamTwin.seenBatch(snap, path, id))
    if (seen) return false
    val ch = orderChangeRows(batch).localCheckpoint()
    CommitLog.transaction(spark, path) { t =>
      t.append(ch.join(mergedLines(snap, path), Seq("k"))
        .groupBy(col("prio"), col("year"))
        .agg(sum(col("op").cast("decimal(10,0)") * col("rev"))
          .cast("decimal(38,6)").as("rev"),
          sum(col("op") * col("n")).as("n")), path, statsCols = YearStats)
      t.append(ch, oPath(path))
      batchId.foreach(id => graft.sources.StreamTwin.commitBatchId(t, path, id))
    }
    true
  }

  /** The CDC twin on the ORDERS side — insert, update (−old/+new)
    * and delete in ONE verb, against a view whose value depends on
    * the OTHER input.  The binary case has a subtlety the Balance
    * CDC twin does not: each change half joins L_standing AT ITS OWN
    * FOLD TIME, so when a line batch lands BETWEEN an update's −old
    * and +new halves, the two halves see different line states — and
    * the ledger still telescopes to the final state: −old cancels
    * exactly what old contributed (same L it was folded against,
    * plus every line folded while old was live), the in-between line
    * batch finds NO live row for the key (old's op netted to 0, new
    * not yet arrived) and contributes nothing, and +new then joins
    * the FULL standing line state.  JoinViewWarehouseSpec drives
    * exactly that interleaving and pins bit-equality with the
    * updated-orders rebuild.  At the EXACTLY-ONCE rung since round 13
    * (StreamTwin): a replayed committed change batch folds NOTHING —
    * on a CDC ledger a replay re-applies −/+ halves against a
    * different standing L and corrupts rather than inflates. */
  def streamingOrderChanges(changes: DataFrame, path: String,
      checkpointEvery: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.StreamTwin.exactlyOnce(changes, path, checkpointEvery)(
      (s, batch, id) => { orderChangesTxn(s, batch, path, batchId = Some(id)); () })

  /** The refresh's ONLINE twin — a lineitem stream folding against
    * the standing orders side inside foreachBatch (the collector
    * loop's actual shape: line-grain facts arrive continuously,
    * reference dimensions change slowly).  Any batching folds to the
    * same state (sequenced delta rule + associative sums;
    * spec-pinned).  At the EXACTLY-ONCE rung since round 13
    * (StreamTwin): the two-part fold + the engine batch id commit in
    * ONE transaction, so a redelivered committed batch folds NOTHING
    * — see refreshLinesTxn for why a join-view replay is corruption,
    * not noise. */
  def streamingRefreshLines(lines: DataFrame, path: String,
      checkpointEvery: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.StreamTwin.exactlyOnce(lines, path, checkpointEvery)(
      (s, batch, id) => { refreshLinesTxn(s, batch, path, batchId = Some(id)); () })
}
