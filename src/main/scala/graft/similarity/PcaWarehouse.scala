package graft.similarity

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{CommitLog, Tables, Tombstones}

/** Covariance MOMENTS at rest — the PCA member of the warehouse
  * family, and the one with the strongest refresh contract in the
  * matrix: the index state is one (i, j, m) table of quantized-
  * integer moment sums (triangle products, dimension sums as j = −1
  * sentinel rows, the row count as (−1, −1) — see Pca.moments), and
  * integer sums are ASSOCIATIVE, so folding a batch in by appending
  * its moment deltas is BIT-EQUAL to a one-shot rebuild over
  * base ∪ batch — not "equivalent under the frozen-quantizer
  * contract" (IVF/PQ), not "equal after a probe-side merge
  * discipline" (BM25/LM): equal, row for row, to the last decimal
  * digit (PcaWarehouseSpec pins it).
  *
  * Production shape: a 100 TB corpus's embedding covariance — the
  * statistic PCA, whitening, OPQ rotation, and drift monitors all
  * start from — is maintained by O(batch) appends at ingest (ONE scan
  * of the batch per refresh); the eigensolve runs at PROBE time on
  * the 64×64 driver-metadata matrix.  Nothing ever re-reads standing
  * vectors.
  *
  * Layout: a single append-only parquet of delta rows.  Readers sum
  * deltas per (i, j); `compact` merges them back to one row per key
  * (bit-identical probes — integer sums are order-free).  The whole
  * index is ~2 KB at ANY corpus size — there is no pruning story
  * because there is nothing to prune; the value is O(batch)
  * maintenance of a GLOBAL statistic.
  */
object PcaWarehouse {

  /** The embeddings-side base/incoming split (the MinHashWarehouse
    * doc_id convention, on vec_id). */
  private[graft] def isBaseVec = pmod(col("vec_id"), lit(10L)) < 8

  /** Train once: moments of the base split. */
  def materialize(spark: SparkSession, dir: String, path: String): Unit =
    materializeFrom(Tables(spark, dir).embeddings.filter(isBaseVec), path)

  /** Frame-level ingest — also the refresh-equivalence spec's one-shot
    * reference builder.  One CommitLog transaction. */
  def materializeFrom(emb: DataFrame, path: String): Unit = {
    val m = Pca.moments(emb)
    CommitLog.transaction(m.sparkSession, path)(_.replace(m, path))
  }

  /** REFRESH — fold a batch into the statistic at rest: append its
    * moment deltas as one committed generation.  O(batch); no standing
    * row is read or rewritten, and a crash before the marker is
    * invisible. */
  def refresh(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val done = refreshTxn(spark, batch, path, batchId = None)
    assert(done, "unreachable: un-id'd refreshes never skip")
  }

  /** The refresh transaction body, optionally committing a STREAM
    * BATCH ID atomically with the moment deltas — the exactly-once
    * rung (StreamTwin). */
  private[graft] def refreshTxn(spark: SparkSession, batch: DataFrame,
      path: String, batchId: Option[Long]): Boolean =
    graft.sources.StreamTwin.refreshTxnWith(spark, path, batchId)(
      _.append(Pca.moments(batch), path))

  /** RETRACT — the delete verb on the bit-equal rung (the
    * BalanceWarehouse contract on the moment statistic): append the
    * removed vectors' moments NEGATED.  Moments are DECIMAL-exact
    * sums of per-vector terms, so subtraction is total and exact and
    * the merged cells equal the rebuild-on-survivors moments to the
    * last decimal digit (PcaWarehouseSpec pins it) — the global cov/
    * PCA statistic forgets the removed vectors' influence EXACTLY,
    * which no approximate forgetting scheme offers.  The key set
    * stays the fixed 2080 cells, so there is no zero-key drop case.
    * Precondition: removed ⊆ ingested vectors. */
  def retract(spark: SparkSession, removed: DataFrame, path: String): Unit =
    CommitLog.transaction(spark, path)(_.append(
      Pca.moments(removed)
        .select(col("i"), col("j"), (-col("m")).as("m")), path))

  /** COMPACT — merge delta rows to one per key, committed as a
    * `replace` generation (the old in-place overwrite's crash window
    * lost the standing index; now pre-compact probes hold until the
    * marker lands).  Probes bit-identical before/after.  Physical
    * reclaim = CommitLog.vacuum at the retention cadence. */
  def compact(spark: SparkSession, path: String): Unit = {
    val snap = CommitLog.snapshot(spark, path)
    val merged = snap.read(path)
      .groupBy(col("i"), col("j")).agg(sum(col("m")).as("m"))
    CommitLog.transaction(spark, path) { t =>
      t.replace(merged, path)
      // replay protection survives compaction (StreamTwin)
      graft.sources.StreamTwin.compactIds(snap, t, path)
    }
  }

  /** Covariance served from the index at rest: sum the deltas per key
    * (the probe-side merge that keeps refresh append-only), then the
    * shared final-formula projection — the EXACT plan tail s_embed_cov
    * runs inline, so after base+batch ingest the probe holds
    * s_embed_cov's full-corpus DuckDB oracle verbatim. */
  def cov(spark: SparkSession, path: String): DataFrame =
    Pca.covFromMoments(CommitLog.snapshot(spark, path).read(path)
      .groupBy(col("i"), col("j")).agg(sum(col("m")).as("m")))

  /** Registered `s_embed_cov_probe`: ingest base → refresh incoming →
    * serve.  base ∪ incoming = the whole table, so the result equals
    * s_embed_cov bit for bit and shares its oracle. */
  def covProbe(spark: SparkSession, dir: String, path: String): DataFrame =
    cov(spark, path)

  /** Registered `s_pca_probe`: the eigensolve leg off the same
    * refreshed index — components maintained by the crawl loop.
    * Equals s_pca exactly (bit-equal cov ⇒ the deterministic Jacobi
    * sees identical input).  No oracle (iterative); spec pins the
    * equality. */
  def pcaProbe(spark: SparkSession, dir: String, path: String): DataFrame = {
    val a = Array.ofDim[Double](Pca.Dims, Pca.Dims)
    cov(spark, path).collect().foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      a(i)(j) = c; a(j)(i) = c
    }
    Pca.componentsOf(spark, a)
  }

  /** The once-per-JVM two-generation build both registered probes
    * share (the Materialized pattern): moments of the base split, then
    * ONE refresh folding in the incoming split. */
  def builtPath(spark: SparkSession, dir: String): String =
    graft.sources.Materialized.pathFor("pca_warehouse", dir) { p =>
      materialize(spark, dir, p)
      refresh(spark, Tables(spark, dir).embeddings.filter(!isBaseVec), p)
    }

  // ---------------------------------------------------------------
  // The ANN leg: projections at rest.  s_knn_pca's SURVEY row claims
  // "at rest the projection is an ingest-time index column" — this is
  // that claim made registered code.  Layout:
  //   <path>.components : (r, dim, w) — the FROZEN projector, trained
  //                       once from the moments index (KB-scale);
  //   <path>.proj       : (vec_id, p array<double>) — one R-dim row
  //                       per vector, appended at refresh with the
  //                       frozen projector (the PqWarehouse frozen-
  //                       quantizer contract; component drift is the
  //                       d_embed_drift-scheduled retrain's job).
  // A probe scans R doubles per vector instead of 64 floats and
  // re-ranks `Shortlist` exact vectors fetched by id from the primary
  // store — the production serving split (index scan + keyed lookup).
  // ---------------------------------------------------------------

  private def compPath(path: String) = s"$path.components"
  private def projPath(path: String) = s"$path.proj"

  /** Train the projector ONCE from the moments index at rest and
    * store it beside the projections.
    *
    * A MECHANISM, not a maintenance verb (the recluster precedent):
    * this commits whatever projector the current moments produce,
    * UNGATED, and a re-fit optimizing its TRAINING objective (here:
    * captured variance) can regress the SERVING objective (top-k
    * recall through the projected shortlist).  Initial ingest uses
    * it; an operator repairing a drifted production projector must
    * use `reprojectIfBetter`, which stages this same re-fit, grades
    * it on the serving probe against brute truth, and refuses to ship
    * a regression. */
  def trainProjector(spark: SparkSession, path: String): Unit =
    CommitLog.transaction(spark, path)(_.replace(
      compsDf(spark, candidateProjector(spark, path)), compPath(path)))

  /** ONE definition of the components-table layout: the
    * (r, dim, w) flattening the standing reader (`projector`) parses —
    * shared by the ungated train and the gated reproject's staging so
    * the two write sites cannot drift. */
  private def compsDf(spark: SparkSession, cand: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    cand.zipWithIndex
      .flatMap { case (row, r) => row.zipWithIndex.map { case (w, d) => (r, d, w) } }
      .toDF("r", "dim", "w")
  }

  /** The eigensolve itself — R rows of 64 driver-side doubles from the
    * CURRENT moments index (the trainProjector arithmetic, factored so
    * the gated reproject grades EXACTLY what the ungated verb would
    * have shipped). */
  private def candidateProjector(spark: SparkSession, path: String): Seq[Seq[Double]] = {
    val a = Array.ofDim[Double](Pca.Dims, Pca.Dims)
    cov(spark, path).collect().foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      a(i)(j) = c; a(j)(i) = c
    }
    val (_, evecs) = Pca.jacobiEigen(a)
    (0 until Pca.R).map(r => evecs(r).toSeq)
  }

  /** The stored projector as driver metadata (R×64 doubles). */
  private[graft] def projector(spark: SparkSession, path: String): Seq[Seq[Double]] = {
    val rows = CommitLog.snapshot(spark, path).read(compPath(path)).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    (0 until Pca.R).map(r => rows.filter(_._1 == r).sortBy(_._2).map(_._3).toSeq)
  }

  /** Project a batch with the FROZEN stored components and append to
    * the projection table — O(batch), bit-identical arithmetic to the
    * rows already standing (spec-pinned). */
  def refreshAnn(spark: SparkSession, batch: DataFrame, path: String): Unit =
    CommitLog.transaction(spark, path)(_.append(
      projectWith(batch, projector(spark, path)), projPath(path)))

  private[graft] def projectWith(batch: DataFrame, comps: Seq[Seq[Double]]): DataFrame = {
    import graft.functions.VectorFunctions._
    batch
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(col("vec_id"), array(comps.map(w =>
        dot(col("v"), typedLit(w).cast("array<double>"))): _*).as("p"))
  }

  /** `s_knn_pca_probe`: top-10 neighbors of vec 0 off the projection
    * table — R-dim L2 shortlist over the index, exact cosine re-rank
    * over `Shortlist` primary-store rows fetched by id (the
    * s_knn_brute expression, bit-equal stage 2).  No oracle (trained
    * projector — the s_knn_pca stance); PcaWarehouseSpec pins frozen-
    * projection bit-equality, a planted duplicate at rank 1 /
    * cosine 1.0 through the refreshed index, and stage-2 exactness. */
  def annProbe(spark: SparkSession, dir: String, path: String): DataFrame = {
    import graft.functions.Exact.roundx
    import graft.functions.VectorFunctions._
    val snap = CommitLog.snapshot(spark, path)
    // the LIVE projection store: outstanding ANN tombstones hide a
    // taken-down vector from the shortlist AND from the stored-query
    // side — the rangeProbe convention, and what keeps this verb
    // bit-invariant across compactAnn's physical prune
    val proj = AnnTomb.live(snap, snap.read(projPath(path)), path)
    val qp = proj.filter(col("vec_id") === 0).select(col("p").as("qp"))
    val short = proj.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qp))
      .withColumn("d2", sqdist(col("p"), col("qp")))
      .orderBy(col("d2"), col("vec_id"))
      .limit(Pca.Shortlist)
      .select(col("vec_id"))
    val e = Tables(spark, dir).embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), norm(col("v")).as("qnrm"))
    e.join(broadcast(short), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .withColumn("cos",
        roundx(dot(col("v"), col("qv")) / (norm(col("v")) * col("qnrm")), 6))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("cos").as("cosine"))
  }

  private val AnnTomb = Tombstones("vec_id", ".proj.tomb")
  private def stagingPath(path: String) = s"$path.staged"

  /** RETRACT on the ANN leg — takedown of vectors from the projection
    * table.  The Ivf/Lsh/Pq tombstone rung verbatim: a projection
    * row depends only on its own vector — the FROZEN projector is corpus-level
    * state a member deletion does not change — so pruning IS the
    * rebuild-on-survivors-under-frozen-projector.  O(removed) append;
    * probes drop tombstoned candidates on the candidate set;
    * `compactAnn` physically purges.  The moments-side forget is the
    * existing `retract` (exact negated moments) — a full takedown
    * calls both, as the monitor build does. */
  def retractAnn(removedIds: DataFrame, path: String): Unit =
    AnnTomb.retract(removedIds, path)

  /** COMPACT the ANN leg — purge tombstoned projection rows, clear
    * the tombstones and fold the streaming twin's id part in one
    * transaction (`Tombstones.compact`); probes bit-identical; vacuum
    * is the caller's retention verb. */
  def compactAnn(spark: SparkSession, path: String): Unit =
    AnnTomb.compact(spark, path, Seq(projPath(path) -> Nil))

  /** The SURVIVING projection ids at rest — the population the ANN
    * serving probe can answer from, which is exactly what the at-rest
    * recall monitor must grade truth over (RecallMonitor.pcaRow). */
  private[graft] def standingProjIds(spark: SparkSession, path: String): DataFrame = {
    val snap = CommitLog.snapshot(spark, path)
    AnnTomb.live(snap, snap.read(projPath(path)).select(col("vec_id")).distinct(), path)
  }

  /** BATCHED two-stage serving probe — `annProbe`'s shape under load
    * (the IvfWarehouse.probeBatch rung): a SET of corpus queries
    * against the projection index in ONE scan.  Stage 1 ranks the
    * R-dim L2 distance between each standing projection and each
    * query's STORED projection (the query's own proj row — queries
    * and corpus ride the same frozen arithmetic) and keeps the
    * per-query `Shortlist` via the rank window Spark rewrites to
    * WindowGroupLimit partial heaps; stage 2 fetches JUST the
    * shortlists' vectors from the primary store by a FORCED-broadcast
    * id-semijoin (the PQ discipline — |Q|·Shortlist rows by
    * construction, but the planner cannot know that) and re-ranks on
    * the exact rounded cosine with the vec_id tiebreak — the
    * knnBatchOver ranking key, bit for bit.  Tombstoned vectors are
    * dropped on the candidate side (O(candidates)).
    * `RecallMonitor.pcaRow` grades THIS verb — one definition. */
  def annProbeBatch(spark: SparkSession, path: String, queries: DataFrame,
      vectors: DataFrame, k: Int = 10,
      shortlistN: Int = Pca.Shortlist): DataFrame = {
    import graft.functions.Exact.roundx
    import graft.functions.VectorFunctions._
    val snap = CommitLog.snapshot(spark, path)
    val proj = AnnTomb.live(snap, snap.read(projPath(path)), path)
    val qp = proj.join(broadcast(queries.select(col("query_id"))),
        proj("vec_id") === col("query_id"))
      .select(col("query_id"), col("p").as("qp"))
    val byD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("vec_id"))
    val short = proj
      .crossJoin(broadcast(qp))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", sqdist(col("p"), col("qp")))
      .withColumn("srnk", row_number().over(byD))
      .filter(col("srnk") <= shortlistN)
      .select(col("query_id"), col("vec_id"))
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    broadcast(short)
      .join(vectors.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv"))), Seq("query_id"))
      .withColumn("cos",
        roundx(dot(col("v"), col("qv")) / (norm(col("v")) * norm(col("qv"))), 6))
      .withColumn("rnk", row_number().over(byQ))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"),
        col("cos").as("cosine"), col("rnk").cast("long").as("rnk"))
  }

  /** The gated reproject's verdict — driver scalars. */
  final case class GateReport(truthN: Long, recallStanding: Double,
      recallStaged: Double, swapped: Boolean)

  /** MONITOR-GATED REPROJECT — blue/green projector repair (an
    * UNGATED trainProjector would fall into the training-objective ≠
    * serving-objective trap).  The recluster/requantize rung on the
    * projection index:
    *
    *  1. compact the ANN leg, then derive the CANDIDATE projector from
    *     the CURRENT moments index (KB-scale driver eigensolve — the
    *     moments fold exactly, so the candidate sees every refresh and
    *     exact retraction since the standing projector was trained);
    *  2. stage candidate components + a re-projection of the standing
    *     vectors (fetched from the primary store by the surviving ids)
    *     into `<path>.staged` as ONE transaction;
    *  3. grade standing vs staged through `RecallMonitor.pcaRow` —
    *     the serving probe against the SAME brute truth (same
    *     survivors ⇒ identical truth, `require`d);
    *  4. swap components + projections into `path` ONLY if serving
    *     recall does not regress; staging is cleared in a finally.
    *
    * `seed`/`oneIn` thread the monitor's hash-mod query sampling into
    * the ship decision (ask #4); registered rows stay at the
    * deterministic prefix default.  PcaWarehouseSpec drives both
    * branches. */
  def reprojectIfBetter(spark: SparkSession, path: String, dir: String,
      nQueries: Int = 10, k: Int = 5,
      seed: Option[Long] = None, oneIn: Long = 16L,
      shortlistN: Int = Pca.Shortlist): GateReport = {
    val staging = stagingPath(path)
    compactAnn(spark, path)
    val cand = candidateProjector(spark, path)
    val comps = compsDf(spark, cand)
    val survivors = Tables(spark, dir).embeddings
      .join(standingProjIds(spark, path), Seq("vec_id"))
    CommitLog.transaction(spark, staging) { t =>
      t.replace(comps, compPath(staging))
      t.replace(projectWith(survivors, cand), projPath(staging))
    }
    def grade(p: String): (Long, Double) = {
      val r = RecallMonitor.pcaRow(spark, p, dir, nQueries, k, seed, oneIn,
        shortlistN).head()
      (r.getAs[Long]("truth_n"), r.getAs[Double]("recall"))
    }
    try {
      val (truthOld, recallOld) = grade(path)
      val (truthNew, recallNew) = grade(staging)
      require(truthOld == truthNew,
        s"gated reproject: truth moved across the re-fit ($truthOld -> " +
          s"$truthNew) — staged state does not hold the standing ids")
      val swap = recallNew >= recallOld
      if (swap) {
        val s = CommitLog.snapshot(spark, staging)
        CommitLog.transaction(spark, path) { t =>
          t.replace(s.read(compPath(staging)), compPath(path))
          t.replace(s.read(projPath(staging)), projPath(path))
        }
      }
      GateReport(truthOld, recallOld, recallNew, swap)
    } finally {
      CommitLog.transaction(spark, staging) { t =>
        t.clear(compPath(staging)); t.clear(projPath(staging))
      }
    }
  }

  /** Once-per-JVM ANN build: base moments → frozen projector → project
    * base → refresh-project the incoming split. */
  def builtAnnPath(spark: SparkSession, dir: String): String =
    graft.sources.Materialized.pathFor("pca_ann_warehouse", dir) { p =>
      materialize(spark, dir, p)
      trainProjector(spark, p)
      refreshAnn(spark, Tables(spark, dir).embeddings.filter(isBaseVec), p)
      refreshAnn(spark, Tables(spark, dir).embeddings.filter(!isBaseVec), p)
    }

  /** The ANN LANE's online twin at the exactly-once rung — each
    * arriving (vec_id, embedding) micro-batch folds its moment
    * deltas AND its frozen-projector projections in ONE transaction
    * that also commits the engine batch id: the global statistic and
    * the serving index can never diverge across a crash, and a
    * redelivered committed batch folds NOTHING into either part.
    * The projector is read once per batch from the standing
    * components (frozen-quantizer contract — bit-identical arithmetic
    * to the batch refreshAnn, so any micro-batch split folds to the
    * same index).  ONE streaming twin per base — the single-writer
    * contract; this twin supersedes `streamingRefresh` on bases that
    * carry the ANN leg, because it maintains both parts. */
  def streamingRefreshAnn(vectors: DataFrame, path: String,
      checkpointEvery: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.StreamTwin.exactlyOnce(vectors, path, checkpointEvery)(
      (s, b, id) => { refreshAnnTxn(s, b, path, batchId = Some(id)); () })

  /** The combined refresh transaction body: moments + projections +
    * (optionally) the stream batch id, atomically. */
  private[graft] def refreshAnnTxn(spark: SparkSession, batch: DataFrame,
      path: String, batchId: Option[Long]): Boolean =
    // the projector read (snapshot pin + R×64 collect) lives INSIDE
    // the body: a redelivered committed batch must skip for free,
    // and the body only runs when the fold is real
    graft.sources.StreamTwin.refreshTxnWith(spark, path, batchId) { t =>
      t.append(Pca.moments(batch), path)
      t.append(projectWith(batch, projector(spark, path)), projPath(path))
    }

  /** The refresh's ONLINE twin — the statistic maintained in flight:
    * each arriving micro-batch of vectors folds its moment deltas into
    * the index inside foreachBatch.  Associativity does all the work:
    * any batching of the stream produces a bit-equal index state to
    * the one-shot build over everything seen (PcaWarehouseSpec drives
    * a MemoryStream in two batches and asserts it), so there is no
    * cross-batch state, no watermark, no ordering requirement — the
    * Bm25/Lm streamingProbe stance applied to the WRITE side.  At the
    * EXACTLY-ONCE rung: the moment deltas commit
    * atomically with the engine batch id (StreamTwin), so a
    * redelivered committed batch folds NOTHING. */
  def streamingRefresh(vectors: DataFrame, path: String,
      checkpointEvery: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.StreamTwin.exactlyOnce(vectors, path, checkpointEvery)(
      (s, batch, id) => { refreshTxn(s, batch, path, batchId = Some(id)); () })
}
