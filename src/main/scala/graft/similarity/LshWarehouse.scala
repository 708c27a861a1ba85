package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Exact.roundx
import graft.functions.VectorFunctions._
import graft.sources.{CommitLog, Tables, Tombstones}

/** Cosine-LSH at rest — the banded-signature layout `rangeSearchLsh`
  * computes inline, made a physical table the way IvfWarehouse
  * materializes posting lists: a probe PRUNES (band, key) partitions
  * instead of scanning the corpus, turning the §2 claim "with the
  * table bucketed by (band, key) at rest the join prunes" into code.
  *
  * Two tables, because the index must stay NARROW at 100 TB:
  *  - vectors: (vec_id, v, nrm, sig) — the primary store, one row per
  *    vector, signature kept so serving never recomputes hyperplanes;
  *  - index: (vec_id, sig, band, bkey) partitioned by the fused
  *    band-key id bb = band·2^bits + bkey — `bands` rows per vector of
  *    ~tens of bytes (ids + signature words), NOT replicated float
  *    vectors; candidates join back to the primary store by vec_id for
  *    the exact verify.  Index amplification is bands× on the narrow
  *    row, the standard LSH trade.
  *
  * A probe batch touches |distinct probe keys| ≤ |Q|·bands partitions
  * of the bands·2^bits total — 1/2^bits of the index per query at
  * most (1/4 at the 2-bit test gate, 1/256 at a production 8-bit
  * gate) — and LshWarehouseSpec asserts the pruned file listing, plus
  * row equality with the inline plan (hence with brute force).
  */
object LshWarehouse {

  private def vectorsPath(path: String): String = s"$path.vectors"
  private val Tomb = Tombstones("vec_id")

  /** Ingest: signature + norm once per vector (the per-row math of
    * cosinePairsFrom), primary store + banded narrow index at rest. */
  def materialize(spark: SparkSession, dir: String, path: String,
      bitsPerBand: Int = 2, bands: Int = 32): Unit =
    materializeFrom(Tables(spark, dir).embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v")),
      path, bitsPerBand, bands, overwrite = true)

  /** Frame-level ingest (e = (vec_id, v)); `overwrite = false` is the
    * REFRESH path — hyperplane signatures depend only on the row (no
    * trained state, no corpus statistics), so folding a batch into the
    * index at rest is two pure appends, the MinHashWarehouse stance. */
  def materializeFrom(e0: DataFrame, path: String,
      bitsPerBand: Int = 2, bands: Int = 32, overwrite: Boolean = true): Unit = {
    val (e, idx) = encodeFrames(e0, bitsPerBand, bands)
    // primary store + index land as ONE transaction: a crash between
    // the two writes cannot leave candidates whose exact-verify rows
    // are missing
    CommitLog.transaction(e.sparkSession, path) { t =>
      if (overwrite) { t.replace(e, vectorsPath(path)); t.replace(idx, path, Seq("bb")) }
      else { t.append(e, vectorsPath(path)); t.append(idx, path, Seq("bb")) }
    }
  }

  /** REFRESH — fold new vectors into the index at rest (see
    * materializeFrom). */
  def refresh(batch: DataFrame, path: String,
      bitsPerBand: Int = 2, bands: Int = 32): Unit = {
    val done = refreshTxn(batch, path, batchId = None, bitsPerBand, bands)
    assert(done, "unreachable: un-id'd refreshes never skip")
  }

  /** The ONE definition of the layout's two frames — (primary store
    * row with nrm+sig, banded narrow index) — shared by batch ingest
    * and the streaming refreshTxn so the two paths can never build
    * incompatible indexes under one path. */
  private def encodeFrames(e0: DataFrame, bitsPerBand: Int,
      bands: Int): (DataFrame, DataFrame) = {
    val e = e0
      .withColumn("nrm", norm(col("v")))
      .withColumn("sig", hyperplaneSignatureWords(col("v"), bitsPerBand * bands))
      .localCheckpoint() // sig once per row, not once per band slot
    val idx = e.select(col("vec_id"), col("sig"),
        posexplode(bandKeys(col("sig"), bitsPerBand, bands)).as(Seq("band", "bkey")))
      .withColumn("bb", col("band") * (1L << bitsPerBand) + col("bkey"))
    (e, idx)
  }

  /** The refresh transaction body, optionally committing a STREAM
    * BATCH ID atomically with both stores — the exactly-once rung
    * (StreamTwin).  Hyperplane signatures are per-row (no corpus state),
    * so any micro-batch split folds to the same banded index. */
  private[graft] def refreshTxn(batch: DataFrame, path: String,
      batchId: Option[Long], bitsPerBand: Int = 2, bands: Int = 32): Boolean =
    graft.sources.StreamTwin.refreshTxnWith(batch.sparkSession, path, batchId) { t =>
      val (e, idx) = encodeFrames(batch, bitsPerBand, bands)
      t.append(e, vectorsPath(path))
      t.append(idx, path, Seq("bb"))
    }

  /** The refresh's ONLINE twin at the exactly-once rung: a
    * (vec_id, embedding) stream folds per micro-batch into primary
    * store + banded index in ONE transaction that also commits the
    * engine batch id (StreamTwin).  `bitsPerBand`/`bands` MUST match
    * the geometry the index was materialized with (a stream with
    * other banding would append incompatible signatures and band keys
    * under the same path) — the parameters ride through to the same
    * encodeFrames definition batch ingest uses. */
  def streamingRefresh(raw: DataFrame, path: String,
      checkpointEvery: Int = 32, bitsPerBand: Int = 2,
      bands: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.StreamTwin.exactlyOnce(raw, path, checkpointEvery)((s, b, id) =>
      { refreshTxn(b.select(col("vec_id"), toDouble(col("embedding")).as("v")),
          path, batchId = Some(id), bitsPerBand, bands); () })

  /** RETRACT — takedown of vectors from the standing ANN index: the
    * doc-keyed rung's tombstone verb extended to the similarity
    * family (every index row depends only on its own vector — no
    * corpus statistics — so pruning IS the rebuild).  O(removed)
    * append; probes drop tombstoned candidates on the candidate set
    * (O(candidates), never O(index)); compact physically removes.
    * EXTERNAL queries are unaffected by a takedown — but the
    * registered probe sources its query batch from the primary store
    * (test convenience), and a taken-down vector is GONE entirely:
    * it neither answers nor appears as a stored query (rangeProbe
    * reads the store through the same tombstones), which is what
    * makes probes bit-invariant under compact's physical removal. */
  def retract(removedIds: DataFrame, path: String): Unit =
    Tomb.retract(removedIds, path)

  /** COMPACT — physically remove tombstoned rows from both stores,
    * clear the tombstones and fold the streaming twin's id part in
    * one transaction (`Tombstones.compact`); probes bit-identical
    * before/after; CommitLog.vacuum reclaims dead generations on the
    * caller's retention cadence. */
  def compact(spark: SparkSession, path: String): Unit =
    Tomb.compact(spark, path, Seq(vectorsPath(path) -> Nil, path -> Seq("bb")))

  /** The SURVIVING vectors at rest (vec_id, v, nrm) — the primary
    * store minus outstanding tombstones: the population the at-rest
    * recall monitor grades ground truth over (RecallMonitor). */
  private[graft] def standingVectors(spark: SparkSession, path: String): DataFrame = {
    val snap = CommitLog.snapshot(spark, path)
    Tomb.live(snap, snap.read(vectorsPath(path)), path)
      .select(col("vec_id"), col("v"), col("nrm"))
  }

  /** Radius probe over the warehouse: the query batch's band keys
    * become a literal partition-pruning predicate (|Q|·bands driver
    * scalars — serving-batch metadata, like IvfWarehouse's probe
    * cids), candidates keep their FIRST matching band (exactly-once,
    * the native predicate), and one exact dot per candidate verifies
    * against the primary store. */
  def rangeProbe(spark: SparkSession, path: String,
      nQueries: Int = 10, tau: Double = 0.3,
      bitsPerBand: Int = 2, bands: Int = 32,
      querySlice: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // the query batch: the historical id prefix by default, or an
    // explicit predicate over the stored ids (the recall monitor's
    // seeded hash-mod sample)
    val isQuery = querySlice.getOrElse(col("vec_id") < nQueries)
    // ONE snapshot pins index + vectors + tombstones together.  The
    // LIVE primary store: tombstoned vectors are gone on both the
    // query and the answer side (see retract's Scaladoc) — this is
    // what keeps probes bit-invariant across compact's physical prune
    val snap = CommitLog.snapshot(spark, path)
    val vecs = Tomb.live(snap, snap.read(vectorsPath(path)), path)
    val probes = vecs.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"),
        posexplode(bandKeys(col("sig"), bitsPerBand, bands)).as(Seq("band", "bkey")))
      .withColumn("bb", col("band") * (1L << bitsPerBand) + col("bkey"))
      .select(col("query_id"), col("qsig"), col("bb"))
      .localCheckpoint()
    val probeBbs = probes.select(col("bb")).distinct()
      .collect().map(_.getAs[Long]("bb"))

    val firstMatchingBand = graft.functions.FirstMatchingBand(
      col("sig"), col("qsig"), bitsPerBand, bands)
    val cand = Tomb.live(snap,
      snap.read(path)
        .filter(col("bb").isin(probeBbs.toIndexedSeq.map(java.lang.Long.valueOf): _*))
        .join(broadcast(probes), Seq("bb"))
        .filter(col("vec_id") =!= col("query_id") &&
          col("band").cast("long") === firstMatchingBand)
        .select(col("query_id"), col("vec_id")),
      path)
    cand
      .join(broadcast(vecs.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))),
        Seq("query_id"))
      .join(vecs.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .filter(col("cos") >= tau)
      .select(col("query_id"), col("vec_id"), roundx(col("cos"), 6).as("cosine"))
  }
}
