package graft.sources

import org.apache.spark.sql.functions.{coalesce, col, lit, pmod, sum, when, xxhash64}
import org.apache.spark.sql.{Column, DataFrame}

/** Exact per-key sums kept as signed delta rows.  One rule holds for
  * every additive part: a key whose deltas sum to zero is absent, so
  * a merged read equals a rebuild over the surviving rows. */
object Additive {

  /** Stored delta rows → one row per key: every non-key column summed,
    * keys whose `count` sums to zero dropped. */
  def merge(rows: DataFrame, keys: Seq[String], count: String): DataFrame = {
    val values = rows.columns.filterNot(keys.contains)
      .map(c => sum(col(c)).as(c)).toSeq
    rows.groupBy(keys.map(col): _*).agg(values.head, values.tail: _*)
      .filter(col(count) =!= 0)
  }

  /** Every non-key column negated: the deltas that retract `rows`. */
  def negate(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.select(rows.columns.toSeq.map(c =>
      if (keys.contains(c)) col(c) else (-col(c)).as(c)): _*)
}

/** A bucket-partitioned additive count part: `(keys…, count)` delta
  * rows at `<base><suffix>`, partitioned by `bucketCol` =
  * `CountPart.bucket` of the first key.  Writers append signed
  * deltas; every read sums them per key over only the buckets it
  * needs, so a probe with few keys lists few partitions.  Compaction
  * rewrites one row per key in the same layout. */
final case class CountPart(keys: Seq[String], count: String,
    bucketCol: String, suffix: String) {

  private def path(base: String): String = base + suffix

  private def bucketed(rows: DataFrame): DataFrame =
    rows.withColumn(bucketCol, CountPart.bucket(col(keys.head)))

  def replace(t: CommitLog.Txn, rows: DataFrame, base: String): Unit =
    t.replace(bucketed(rows), path(base), Seq(bucketCol))

  /** Append `sign` × `rows` (sign is +1 or −1). */
  def append(t: CommitLog.Txn, rows: DataFrame, base: String, sign: Long): Unit =
    t.append(bucketed(if (sign < 0) Additive.negate(rows, keys) else rows),
      path(base), Seq(bucketCol))

  /** The driver list of buckets that `rows`' first-key values fall in. */
  def buckets(rows: DataFrame): Seq[Long] =
    rows.select(CountPart.bucket(col(keys.head))).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq

  /** `(keys…, count)` summed per key over the listed buckets only. */
  def sums(snap: CommitLog.Snapshot, base: String, buckets: Seq[Long]): DataFrame =
    Additive.merge(snap.read(path(base))
      .filter(CountPart.inBuckets(col(bucketCol), buckets))
      .select((keys :+ count).map(col): _*), keys, count)

  /** How many keys appending `sign` × `delta` makes present, less how
    * many it makes absent: Σ over `delta`'s keys of
    * [s + d ≠ 0] − [s ≠ 0], with s the standing sum and d the signed
    * delta.  One row, column `shift`. */
  def shift(snap: CommitLog.Snapshot, base: String, delta: DataFrame,
      sign: Long): DataFrame = {
    val s = coalesce(col("__s"), lit(0L))
    def present(c: Column) = when(c =!= 0, 1L).otherwise(0L)
    delta.join(sums(snap, base, buckets(delta)).withColumnRenamed(count, "__s"),
        keys, "left")
      .agg(sum(present(s + col(count) * sign) - present(s)).as("shift"))
  }

  /** Replace the part with one row per key; zero-sum keys drop. */
  def compact(t: CommitLog.Txn, snap: CommitLog.Snapshot, base: String): Unit =
    t.replace(Additive.merge(snap.read(path(base)), keys :+ bucketCol, count),
      path(base), Seq(bucketCol))
}

object CountPart {

  val Buckets = 64

  def bucket(key: Column): Column = pmod(xxhash64(key), lit(Buckets.toLong))

  /** The partition-pruning predicate: `bucketCol` is one of `buckets`. */
  def inBuckets(bucketCol: Column, buckets: Seq[Long]): Column =
    bucketCol.isin(buckets.map(java.lang.Long.valueOf): _*)
}
