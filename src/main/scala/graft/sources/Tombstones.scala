package graft.sources

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A tombstone part: the keys a member has retracted, one `key`
  * column at `<base><suffix>`.  A retract appends keys (O(removed),
  * no standing row touched); every read drops rows whose key is
  * tombstoned in its snapshot; compact removes those rows from the
  * member's parts and clears the tombstones in one transaction.
  * Members whose every row depends only on its own key (no corpus
  * statistics) therefore read after a retract exactly what a rebuild
  * on the survivors would hold. */
final case class Tombstones(key: String, suffix: String = ".tomb") {

  private def path(base: String): String = base + suffix

  /** Append `ids`' keys to the tombstone part inside `t`. */
  def append(t: CommitLog.Txn, ids: DataFrame, base: String): Unit =
    t.append(ids.select(col(key)), path(base))

  /** Retract `ids` in a transaction of its own. */
  def retract(ids: DataFrame, base: String): Unit =
    CommitLog.transaction(ids.sparkSession, base)(append(_, ids, base))

  /** `rows` minus the keys tombstoned in `snap` as of `asOfGen`;
    * `rowKey` names the key in `rows`.  With no tombstone part,
    * `rows` comes back unchanged, plan included.  The tombstone side
    * is read as it is: a left-anti join ignores duplicate keys, so a
    * `distinct` would only add a shuffle. */
  def live(snap: CommitLog.Snapshot, rows: DataFrame, base: String,
      rowKey: String = key, asOfGen: Long = Long.MaxValue): DataFrame =
    snap.readOpt(path(base), asOfGen) match {
      case None => rows
      case Some(t) => rows.join(t.select(col(key).as(rowKey)), Seq(rowKey), "left_anti")
    }

  /** Compact inside `t`: when tombstones exist, replace each listed
    * `(part, partitionCols)` by its rows minus the tombstoned keys and
    * clear the tombstone part; then fold the streaming twin's id part
    * (`StreamTwin.compactIds`, a no-op without one). */
  def purge(t: CommitLog.Txn, snap: CommitLog.Snapshot, base: String,
      parts: Seq[(String, Seq[String])]): Unit = {
    snap.readOpt(path(base)).foreach { tomb =>
      // pinned once for every part, and only when there is a part
      lazy val keys = tomb.select(col(key)).distinct().localCheckpoint()
      parts.foreach { case (part, pcols) =>
        t.replace(snap.read(part).join(keys, Seq(key), "left_anti"), part, pcols)
      }
      t.clear(path(base))
    }
    StreamTwin.compactIds(snap, t, base)
  }

  /** Compact a member whose only compaction is the purge: one
    * transaction, opened only when tombstones exist. */
  def compact(spark: SparkSession, base: String,
      parts: Seq[(String, Seq[String])]): Unit = {
    val snap = CommitLog.snapshot(spark, base)
    if (snap.readOpt(path(base)).nonEmpty)
      CommitLog.transaction(spark, base)(purge(_, snap, base, parts))
  }
}
