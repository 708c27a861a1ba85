package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Resolve-once parquet sources.
  *
  * `spark.read.parquet` resolves its path on every call: a schema
  * inference job over the file footers, plus a parallel listing job
  * when the path holds more than `parallelPartitionDiscovery.threshold`
  * entries (a 64-bucket generation directory does).  For a source whose
  * contents never change once visible, that work is the same every
  * time, so `parquet` keeps the resolved relation — schema and file
  * listing, no rows — and hands every later caller a fresh-attribute
  * copy of it.  Each query still plans its own scan and reads the
  * files; repeat reads, unions and self-joins of one path start no
  * schema or listing job.
  *
  * Contract:
  *  - only two kinds of path are kept: regular files, and directories
  *    the caller marks `committed` — a CommitLog `gen-N` directory,
  *    which the protocol never writes again once its marker is
  *    published.  Any other directory is read afresh every time (a
  *    streaming sink or an append-in-place store gains files inside
  *    partition subdirectories without changing its own status);
  *  - entries are keyed by (session, path, modification time, length)
  *    of the path's FileStatus, so a rewritten file or a deleted and
  *    rebuilt generation directory resolves again;
  *  - a missing path fails exactly as `spark.read.parquet` fails.
  */
object Relations {

  /** Resolved relations kept; the least recently used is dropped. */
  private val Capacity = 512

  private final case class Key(spark: SparkSession, path: String,
      modified: Long, length: Long)

  private val resolved =
    new java.util.LinkedHashMap[Key, LogicalRelation](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, LogicalRelation]): Boolean =
        size() > Capacity
    }

  def parquet(spark: SparkSession, path: String,
      committed: Boolean = false): DataFrame = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(s => s.isFile || (committed && s.isDirectory)) match {
      case None => spark.read.parquet(path)
      case Some(s) =>
        val key = Key(spark, s.getPath.toString, s.getModificationTime, s.getLen)
        resolved.synchronized(Option(resolved.get(key))) match {
          case Some(rel) => GraftBridge.ofRows(spark, rel.newInstance())
          case None =>
            val df = spark.read.parquet(path)
            GraftBridge.logicalPlan(df) match {
              case rel: LogicalRelation => resolved.synchronized(resolved.put(key, rel))
              case _ =>
            }
            df
        }
    }
  }
}
