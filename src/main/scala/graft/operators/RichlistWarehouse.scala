package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Exact.{roundx, sumx}
import graft.sources.{Additive, CommitLog, Tables, Tombstones}

/** The reference's richlist collector as a MAINTAINED top-k view —
  * a new algebraic shape for the warehouse matrix: bounded
  * ORDER-STATISTIC state (fcd materializes top holders nightly,
  * reference: src/collector/richlist.ts:20; this member keeps the
  * same view standing under refresh AND retraction instead of
  * recomputing it per cycle).
  *
  * State: per-denom top-K BUFFERS (k rows × ~25 denoms — KB-scale at
  * any corpus size) + an additive (total, n) side state per denom for
  * the share denominator.  The total order is deterministic
  * (bal DESC, custkey ASC — no ties), which makes every claim below
  * bit-grade rather than probabilistic.
  *
  * REFRESH — the mergeable rung, by the truncation-semilattice
  * identity: topK(A ∪ B) == topK(topK(A) ∪ topK(B)) for any disjoint
  * batches A, B under a total order.  Each batch appends its own
  * per-denom top-K rows (O(batch)) plus its (total, n) deltas; the
  * probe merges buffers and re-ranks — bit-equal to a one-shot
  * rebuild for ANY batching (spec-pinned).
  *
  * RETRACT — the honest rung split an order statistic forces:
  *  - totals subtract exactly (negative DECIMAL/LONG deltas — the
  *    BalanceWarehouse rung);
  *  - buffer rows tombstone by key (O(removed) append);
  *  - and the part no cheaper design can dodge: deleting a buffered
  *    row may PROMOTE an account that truncation already discarded,
  *    so retract detects DIRTY denoms (removed ∩ merged buffer —
  *    a metadata-scale check) and refills ONLY those from the
  *    upstream store, survivors-filtered (cumulative tombstones) and
  *    PRUNED to the dirty denoms — at 100 TB with balances
  *    partitioned by denom that is partition pruning, the
  *    EdgeWarehouse affected-components pattern applied to order
  *    statistics.  A retraction touching none of the buffers is pure
  *    tombstone+deltas: NO upstream read (spec-asserted).
  *  Everything stays append-only: the refill appends the promoted
  *  rows; the merged view (buffers ∖ tombstones, distinct, re-rank)
  *  serves the survivors' true top-K — probe-equal to
  *  rebuild-on-(base ∖ removed), spec-pinned on BOTH retract paths.
  *
  * COMPACT — merge to the live top-K rows per denom + one total row;
  * probes bit-identical (rank of a superset that dominates == rank of
  * the exact set); tombstones clear (they are folded in).
  */
object RichlistWarehouse {

  private val K = 20

  private def bufPath(path: String) = path + ".buf"
  private def totPath(path: String) = path + ".tot"
  private val Tomb = Tombstones("custkey")

  /** Deterministic per-denom order — ties impossible (custkey unique). */
  private def rankOrder = Window.partitionBy(col("denom"))
    .orderBy(col("bal").desc, col("custkey"))

  /** A batch's own per-denom top-K — the O(batch) buffer contribution. */
  private[graft] def topkOf(rows: DataFrame): DataFrame =
    rows.withColumn("__r", row_number().over(rankOrder))
      .filter(col("__r") <= K).drop("__r")

  /** A batch's additive share-denominator deltas — the Exact.sumx
    * cast (DECIMAL(30,6)) so the folded grand total is bit-equal to
    * the inline sumx over all rows (decimal sums associate). */
  private def totDeltas(rows: DataFrame): DataFrame =
    rows.groupBy(col("denom"))
      .agg(sum(col("bal").cast("decimal(30,6)")).as("tot"),
        count(lit(1)).as("n"))

  /** The (denom, custkey, name, bal) frame of a customer slice — the
    * nation join paid at ingest, as in BalanceWarehouse. */
  private[graft] def rowsOf(spark: SparkSession, dir: String,
      slice: DataFrame): DataFrame =
    slice.join(broadcast(Tables(spark, dir).nation),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("denom"), col("c_custkey").as("custkey"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))

  /** INGEST / REFRESH — append the batch's top-K + total deltas as
    * one atomic transaction (a probe can never see a buffer without
    * its share denominator, or vice versa). */
  def refresh(batch: DataFrame, path: String): Unit = {
    val done = refreshTxn(batch.sparkSession, batch, path, batchId = None)
    assert(done, "unreachable: un-id'd refreshes never skip")
  }

  /** The refresh transaction body — buffer + totals + the optional
    * STREAM BATCH ID in one atomic commit (the exactly-once rung,
    * StreamTwin). */
  private[graft] def refreshTxn(spark: SparkSession, batch: DataFrame,
      path: String, batchId: Option[Long]): Boolean =
    graft.sources.StreamTwin.refreshTxnWith(spark, path, batchId) { t =>
      t.append(topkOf(batch), bufPath(path))
      t.append(totDeltas(batch), totPath(path))
    }

  /** Live buffer rows: appended buffers ∖ tombstoned keys, distinct
    * (a refill may re-append a surviving row; distinct is the
    * self-healing normalization). */
  private def liveBuffer(snap: CommitLog.Snapshot, path: String): DataFrame = {
    val buf = snap.read(bufPath(path)).distinct()
    // the equi-join key moves to the front — pin the buffer schema
    Tomb.live(snap, buf, path)
      .select(col("denom"), col("custkey"), col("name"), col("bal"))
  }

  /** RETRACT — remove accounts: exact total subtraction + key
    * tombstones, then refill ONLY the denoms whose buffers lost a row
    * (promotion candidates exist only there).  `upstream` is the
    * standing account store (denom-pruned at 100 TB); it is read ONLY
    * when some buffer is dirty, and only for the dirty denoms. */
  def retract(spark: SparkSession, removed: DataFrame, path: String,
      upstream: DataFrame): Unit = {
    val rem = removed.select(col("denom"), col("custkey"), col("bal"))
      .localCheckpoint()
    val snap = CommitLog.snapshot(spark, path)
    // dirty check against the pre-retract buffers (the pinned snapshot)
    val dirty = liveBuffer(snap, path)
      .join(rem.select(col("custkey")), Seq("custkey"), "left_semi")
      .select(col("denom")).distinct().collect().map(_.getString(0))
    // negative totals + tombstones + (if dirty) the pruned refill land
    // as ONE transaction — the retraction is all-or-nothing even when
    // it spans three parts and a promotion refill
    CommitLog.transaction(spark, path) { t =>
      t.append(Additive.negate(totDeltas(rem), Seq("denom")), totPath(path))
      Tomb.append(t, rem, path)
      if (dirty.nonEmpty) {
        // pruned refill: dirty denoms only, survivors only (cumulative
        // tombstones INCLUDING this txn's — dropped from the frame,
        // since the snapshot predates the tombstone append)
        val survivors = Tomb.live(snap,
            upstream.filter(col("denom").isin(dirty.toIndexedSeq: _*)), path)
          .join(rem.select(col("custkey")), Seq("custkey"), "left_anti")
        t.append(topkOf(survivors), bufPath(path))
      }
    }
  }

  /** COMPACT — fold buffers/tombstones/totals to the live state:
    * top-K rows per denom, one total row per denom, empty tombstones. */
  def compact(spark: SparkSession, path: String): Unit = {
    val snap = CommitLog.snapshot(spark, path)
    CommitLog.transaction(spark, path) { t =>
      t.replace(topkOf(liveBuffer(snap, path)), bufPath(path))
      t.replace(Additive.merge(snap.read(totPath(path)), Seq("denom"), "n"),
        totPath(path))
      // the live buffer already dropped the tombstoned rows: clear the
      // part and fold the streaming twin's id part
      Tomb.purge(t, snap, path, Nil)
    }
  }

  /** The probe-side merge — exposed so the spec can assert its plan
    * scans ONLY the warehouse (never customer/nation). */
  private[graft] def mergedTopK(spark: SparkSession, path: String): DataFrame =
    topkOf(liveBuffer(CommitLog.snapshot(spark, path), path))

  /** Registered `q_richlist_probe` / `q_richlist_retracted`: the
    * global top-20 with share of total supply, served from the
    * buffers at rest.  Global top-20 is recoverable from per-denom
    * top-20s because every account carries exactly one denom; the
    * share denominator is the folded additive total — so the result
    * equals q_richlist row-for-row and holds its oracle VERBATIM
    * (parameterized only on the survivor predicate for the retracted
    * twin). */
  def probe(spark: SparkSession, path: String): DataFrame = {
    // one snapshot pins buffers + totals + tombstones together
    val snap = CommitLog.snapshot(spark, path)
    // the sumx tail: decimal fold, one cast to double (so the share
    // division below is the inline query's double/double, bit-equal)
    val total = snap.read(totPath(path))
      .agg(sum(col("tot")).cast("double").as("total_bal"))
    topkOf(liveBuffer(snap, path))
      .orderBy(col("bal").desc, col("custkey"))
      .limit(K)
      .crossJoin(broadcast(total))
      .select(col("custkey").as("c_custkey"), col("name").as("c_name"),
        roundx(col("bal"), 2).as("balance"),
        roundx(col("bal") / col("total_bal"), 8).as("share"))
  }

  /** The standard two-generation build (mod-10 on custkey). */
  def builtPath(spark: SparkSession, dir: String): String =
    graft.sources.Materialized.pathFor("richlist_warehouse", dir) { p =>
      val c = Tables(spark, dir).customer
      refresh(rowsOf(spark, dir, c.filter(BalanceWarehouse.isBase)), p)
      refresh(rowsOf(spark, dir, c.filter(!BalanceWarehouse.isBase)), p)
    }

  /** The refresh's ONLINE twin (the matrix-wide convention): each
    * arriving micro-batch of (denom, custkey, name, bal) rows folds
    * its own top-K + total deltas inside foreachBatch.  The
    * truncation-semilattice identity makes ANY batching serve a
    * bit-equal top-K (each batch's buffer contribution is a superset
    * of its share of the true top-K), and the additive totals fold
    * order-free — spec-pinned against the one-shot build.  At the
    * EXACTLY-ONCE rung: buffer + totals + the engine batch id commit
    * in ONE transaction (StreamTwin), so a redelivered committed
    * batch folds NOTHING — on an order statistic a replay is not even
    * bounded noise: duplicated totals shift every served share. */
  def streamingRefresh(rows: DataFrame, path: String,
      checkpointEvery: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.StreamTwin.exactlyOnce(rows, path, checkpointEvery) {
      (s, batch, id) =>
        // pin once: refresh's two writes (top-K + totals) would
        // otherwise re-scan the micro-batch source twice per trigger
        refreshTxn(s, batch.localCheckpoint(), path, batchId = Some(id))
        ()
    }

  /** The retraction build: both generations, then retract the
    * cross-cutting mod-3 slice — which removes top holders too, so
    * the registered path exercises the DIRTY branch (promotion via
    * pruned refill), not just the tombstone fast path. */
  def builtRetractedPath(spark: SparkSession, dir: String): String =
    graft.sources.Materialized.pathFor("richlist_warehouse_retracted", dir) { p =>
      val c = Tables(spark, dir).customer
      refresh(rowsOf(spark, dir, c.filter(BalanceWarehouse.isBase)), p)
      refresh(rowsOf(spark, dir, c.filter(!BalanceWarehouse.isBase)), p)
      retract(spark,
        rowsOf(spark, dir, c.filter(BalanceWarehouse.isRetractedCust)), p,
        upstream = rowsOf(spark, dir, c))
    }
}
