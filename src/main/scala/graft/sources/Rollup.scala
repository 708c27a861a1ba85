package graft.sources

import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One mergeable summary at rest — the lifecycle shared by every
  * rollup member, defined once over CommitLog generations and the
  * StreamTwin exactly-once rung (the same-transform batch/stream
  * model: a micro-batch folds exactly as a batch refresh does).
  *
  * A member declares only its `deltas` transform, its merge (through
  * AdditiveRollup or SketchRollup), its partition/stats columns, and
  * its source table with the base-split key.  The verbs:
  *  - `materializeFrom` commits a batch's deltas as a `replace`
  *    generation — also the one-shot reference build;
  *  - `refresh` appends a batch's deltas as one committed generation:
  *    O(batch), no standing row is read or rewritten, and a crash
  *    before the marker is invisible;
  *  - `merged` folds the committed generations to one row per key —
  *    the read probes serve, scanning only the warehouse;
  *  - `compact` persists `merged` as a `replace` generation.  Probes
  *    pinned before it keep serving the old generations; physical
  *    reclaim is CommitLog.vacuum on the caller's retention cadence.
  *    The stream-id part folds in the same transaction without
  *    forgetting ids, so replay protection survives compaction;
  *  - `streamingRefresh` folds each micro-batch together with its
  *    engine batch id in one transaction: a redelivered committed
  *    batch folds nothing;
  *  - `builtPath` is the once-per-JVM two-generation build: the
  *    source rows with split key mod 10 < 8, then one refresh with
  *    the rest.
  * Single-writer maintenance window throughout; concurrent probes are
  * snapshot-isolated.  RollupLawsSpec checks the verbs' laws across
  * every member. */
abstract class Rollup(view: String, splitKey: String) {

  /** A batch's delta rows. */
  private[graft] def deltas(batch: DataFrame): DataFrame

  /** Stored delta rows → one row per key. */
  protected def merge(rows: DataFrame): DataFrame

  protected def partitionCols: Seq[String] = Nil

  /** Columns whose per-generation [min, max] ride in the commit
    * entries, so readers can skip generations at the log. */
  protected def statsCols: Seq[String] = Nil

  /** The table a build folds; it carries the split key. */
  protected def source(spark: SparkSession, dir: String): DataFrame

  /** The base side of the two-generation build's split. */
  private[graft] def isBase: Column = pmod(col(splitKey), lit(10L)) < 8

  def materializeFrom(batch: DataFrame, path: String): Unit =
    CommitLog.transaction(batch.sparkSession, path)(
      _.replace(deltas(batch), path, partitionCols, statsCols))

  def refresh(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val done = refreshTxn(spark, batch, path, batchId = None)
    assert(done, "unreachable: un-id'd refreshes never skip")
  }

  /** The refresh transaction, optionally committing a stream batch id
    * atomically with the deltas.  False iff `batchId` was already
    * committed (nothing folded). */
  private[graft] def refreshTxn(spark: SparkSession, batch: DataFrame,
      path: String, batchId: Option[Long]): Boolean =
    appendTxn(spark, deltas(batch), path, batchId)

  /** Append already-computed delta rows as one generation. */
  protected def appendTxn(spark: SparkSession, rows: DataFrame, path: String,
      batchId: Option[Long]): Boolean =
    StreamTwin.refreshTxnWith(spark, path, batchId)(
      _.append(rows, path, partitionCols, statsCols))

  private[graft] def merged(spark: SparkSession, path: String): DataFrame =
    merge(CommitLog.snapshot(spark, path).read(path))

  def compact(spark: SparkSession, path: String): Unit = {
    val snap = CommitLog.snapshot(spark, path)
    CommitLog.transaction(spark, path) { t =>
      t.replace(merge(snap.read(path)), path, partitionCols, statsCols)
      StreamTwin.compactIds(snap, t, path)
    }
  }

  def builtPath(spark: SparkSession, dir: String): String =
    Materialized.pathFor(view, dir) { p =>
      val s = source(spark, dir)
      materializeFrom(s.filter(isBase), p)
      refresh(spark, s.filter(!isBase), p)
    }

  def streamingRefresh(batches: DataFrame, path: String,
      checkpointEvery: Int = 32): StreamingQuery =
    StreamTwin.exactlyOnce(batches, path, checkpointEvery)(
      (s, batch, id) => { refreshTxn(s, batch, path, batchId = Some(id)); () })
}

/** A rollup whose state is exact per-key sums: the merge is
  * `Additive.merge` (every non-key column summed per key, keys whose
  * `countCol` nets to zero dropped), so the merged state equals a
  * rebuild over the surviving rows.
  * Sums are associative, so refresh, streaming and compaction are
  * bit-equal to a one-shot build, and `retract` is total. */
abstract class AdditiveRollup(view: String, splitKey: String,
    keyCols: Seq[String], countCol: String) extends Rollup(view, splitKey) {

  protected def merge(rows: DataFrame): DataFrame =
    Additive.merge(rows, keyCols, countCol)

  /** Remove rows: append their deltas negated.  O(removed), append-only
    * like refresh.  Precondition: removed ⊆ what was ingested, so no
    * count goes net-negative. */
  def retract(spark: SparkSession, removed: DataFrame, path: String): Unit = {
    appendTxn(spark, Additive.negate(deltas(removed), keyCols), path, None)
    ()
  }

  /** The build `builtPath` makes, then one retraction of the source's
    * `slice`. */
  protected def builtRetracted(spark: SparkSession, dir: String,
      slice: Column): String =
    Materialized.pathFor(s"${view}_retracted", dir) { p =>
      val s = source(spark, dir)
      materializeFrom(s.filter(isBase), p)
      refresh(spark, s.filter(!isBase), p)
      retract(spark, s.filter(slice), p)
    }
}

/** A rollup whose state is one mergeable sketch per key: the merge is
  * the member's `union` aggregate over `sketchCol`.  The fold
  * has no inverse, so there is no retract — removing rows means
  * rebuilding the affected keys from the surviving rows. */
abstract class SketchRollup(view: String, splitKey: String,
    keyCols: Seq[String], sketchCol: String) extends Rollup(view, splitKey) {

  protected def union(sk: Column): Column

  protected def merge(rows: DataFrame): DataFrame =
    rows.groupBy(keyCols.map(col): _*).agg(union(col(sketchCol)).as(sketchCol))
}
