package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.MinHashWarehouse
import graft.similarity.{IvfWarehouse, LshWarehouse, PcaWarehouse, PqWarehouse}
import graft.sources.{CommitLog, Tables}

/** Tombstone parts are read as they are: a left-anti join ignores
  * duplicate keys, so retracting the same keys in a second
  * transaction changes no probe and no standing set, before or after
  * compact.  Covers every member whose retract only appends keys
  * (Bm25 and Richlist also subtract counts, and retract each removed
  * row once by contract). */
class TombstonesSpec extends GraftSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-tomb-$tag").resolve("idx").toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private lazy val vecs = Tables(spark, Dir).embeddings.select(col("vec_id"),
    graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")).localCheckpoint()
  private lazy val qv = vecs.filter(col("vec_id") === 0).head().getSeq[Double](1).toArray

  /** Build at a fresh path, retract `ids` once, then again in a second
    * transaction, then compact: every read after the first retract
    * stays the same, and the first retract changed some read. */
  private def retractTwice(tag: String, tombSuffix: String, ids: DataFrame,
      build: String => Unit, retract: (DataFrame, String) => Unit,
      compact: String => Unit, reads: (String => DataFrame)*): Unit = {
    val p = tmp(tag)
    build(p)
    def read() = reads.map(r => rows(r(p)))
    val built = read()
    retract(ids, p)
    val once = read()
    assert(once != built, "degenerate: the retract changed no read")
    retract(ids, p)
    val n = ids.count()
    assert(CommitLog.snapshot(spark, p).read(p + tombSuffix).count() == 2 * n,
      "the second retract did not append the keys again")
    assert(read() == once, "a repeated retract changed a read")
    compact(p)
    assert(CommitLog.snapshot(spark, p).readOpt(p + tombSuffix).isEmpty,
      "compact left tombstones behind")
    assert(read() == once, "compact after a repeated retract changed a read")
  }

  test("minhash: retracting the same ids twice reads as one retract, before and after compact") {
    retractTwice("mh", ".tomb",
      Tables(spark, Dir).documents.filter(MinHashWarehouse.isRetractedDoc).select(col("doc_id")),
      p => MinHashWarehouse.materialize(spark, Dir, p),
      (ids, p) => MinHashWarehouse.retract(ids, p),
      p => MinHashWarehouse.compact(spark, p),
      p => MinHashWarehouse.incrementalDedup(spark, Dir, p))
  }

  test("lsh: retracting the same ids twice reads as one retract, before and after compact") {
    retractTwice("lsh", ".tomb",
      vecs.filter(pmod(col("vec_id"), lit(7L)) === 3).select(col("vec_id")),
      p => LshWarehouse.materializeFrom(vecs, p),
      (ids, p) => LshWarehouse.retract(ids, p),
      p => LshWarehouse.compact(spark, p),
      p => LshWarehouse.rangeProbe(spark, p),
      p => LshWarehouse.standingVectors(spark, p).select(col("vec_id")))
  }

  test("ivf: retracting the same ids twice reads as one retract, before and after compact") {
    retractTwice("ivf", ".tomb",
      vecs.filter(pmod(col("vec_id"), lit(13L)) === 4).select(col("vec_id")),
      p => IvfWarehouse.materializeFrom(vecs, p),
      (ids, p) => IvfWarehouse.retract(ids, p),
      p => IvfWarehouse.compact(spark, p),
      p => IvfWarehouse.probe(spark, p, qv),
      p => IvfWarehouse.standingVectors(spark, p).select(col("vec_id")))
  }

  test("pq: retracting the same ids twice reads as one retract, before and after compact") {
    retractTwice("pq", ".tomb",
      vecs.filter(pmod(col("vec_id"), lit(13L)) === 4).select(col("vec_id")),
      p => PqWarehouse.materializeFrom(spark, vecs, p),
      (ids, p) => PqWarehouse.retract(ids, p),
      p => PqWarehouse.compact(spark, p),
      p => PqWarehouse.probe(spark, p, qv, excludeId = 0L),
      p => PqWarehouse.standingIds(spark, p))
  }

  test("pca ann leg: retracting the same ids twice reads as one retract, before and after compact") {
    val emb = Tables(spark, Dir).embeddings
    retractTwice("pca", ".proj.tomb",
      emb.filter(pmod(col("vec_id"), lit(7L)) === 3).select(col("vec_id")),
      p => {
        PcaWarehouse.materializeFrom(emb, p)
        PcaWarehouse.trainProjector(spark, p)
        PcaWarehouse.refreshAnn(spark, emb, p)
      },
      (ids, p) => PcaWarehouse.retractAnn(ids, p),
      p => PcaWarehouse.compactAnn(spark, p),
      p => PcaWarehouse.annProbe(spark, Dir, p),
      p => PcaWarehouse.standingProjIds(spark, p))
  }
}
