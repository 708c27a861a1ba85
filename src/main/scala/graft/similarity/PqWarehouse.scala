package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Exact.{roundx, sumx}
import graft.sources.{CommitLog, Tables, Tombstones}

/** IVF-PQ at rest — the layout a 100 TB deployment actually ships:
  * posting lists partitioned by coarse-centroid id hold 4-bit PQ CODES
  * (8 per vector), not float vectors; the codebook and coarse
  * centroids sit beside the table as KB-scale metadata.  A probe
  * plans a partition-pruned scan of nprobe/K of the CODE table —
  * reading bytes-per-vector where IvfWarehouse reads 256 B of floats —
  * and scores with the broadcast ADC lookup table.  `Pq.ivfPqAnn`
  * computes the identical result inline per query (PqWarehouseSpec
  * asserts row-for-row agreement plus the pruned scan).
  *
  * Driver-side steps are all metadata-bounded: centroid ranking reads
  * K rows, the ADC LUT is M×Ksub=128 entries built from the stored
  * codebook — the same class as IvfWarehouse's list selection.
  */
object PqWarehouse {

  private val M = 8
  private val SubDim = 8

  private def codebookPath(path: String) = s"$path.codebook"
  private def centroidsPath(path: String) = s"$path.centroids"

  /** Ingest: coarse-assign + PQ-encode every embedding; write codes
    * cid-partitioned, codebook and centroids as side tables. */
  def materialize(spark: SparkSession, dir: String, path: String, k: Int = 16): Unit = {
    import graft.functions.VectorFunctions._
    materializeFrom(spark, Tables(spark, dir).embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v")), path, k)
  }

  /** Frame-level ingest (e = (vec_id, v)) — shared with the monitor's
    * drifted build (base split only; the incoming split arrives via
    * `refresh` under the FROZEN quantizers). */
  private[graft] def materializeFrom(spark: SparkSession, e: DataFrame,
      path: String, k: Int = 16): Unit = {
    val (cents, lists) = Knn.coarseQuantizer(e, k)
    val (codebook, codes) = Pq.encode(e)
    // codes + codebook + centroids land as ONE transaction: a
    // crash can never leave codes without the quantizers that decode
    // them, and probes pin all three parts in one snapshot
    CommitLog.transaction(spark, path) { t =>
      t.replace(codes.join(lists.select(col("vec_id"), col("cid")), Seq("vec_id")),
        path, Seq("cid"))
      t.replace(codebook, codebookPath(path))
      t.replace(cents, centroidsPath(path))
    }
  }

  /** REFRESH — fold new vectors into the code table at rest: coarse-
    * assign the batch to the FROZEN stored centroids and PQ-encode it
    * with the FROZEN stored codebook (both bit-identical to the
    * arithmetic that produced the standing rows), append to the cid
    * partitions.  The FAISS add-with-frozen-quantizers contract —
    * quantizer drift is a retrain/recluster maintenance concern, not
    * the ingest path's.  O(batch): K-row + 128-row broadcasts, no
    * standing row read or rewritten; the KB-scale side tables are
    * untouched. */
  def refresh(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val done = refreshTxn(spark, batch, path, batchId = None)
    assert(done, "unreachable: un-id'd refreshes never skip")
  }

  /** The refresh transaction body, optionally committing a STREAM
    * BATCH ID atomically with the code rows — the exactly-once rung
    * (StreamTwin).  Both quantizers are FROZEN state, encoding is
    * per-row, so any micro-batch split folds to the same code table. */
  private[graft] def refreshTxn(spark: SparkSession, batch: DataFrame,
      path: String, batchId: Option[Long]): Boolean =
    graft.sources.StreamTwin.refreshTxnWith(spark, path, batchId) { t =>
      val snap = CommitLog.snapshot(spark, path)
      val lists = Knn.assignTo(batch, snap.read(centroidsPath(path)))
        .select(col("vec_id"), col("cid"))
      t.append(Pq.encodeWith(batch, snap.read(codebookPath(path)))
        .join(lists, Seq("vec_id")), path, Seq("cid"))
    }

  /** The refresh's ONLINE twin at the exactly-once rung: a
    * (vec_id, embedding) stream coarse-assigns and PQ-encodes each
    * micro-batch under the FROZEN stored quantizers and appends in
    * one transaction that also commits the engine batch id
    * (StreamTwin). */
  def streamingRefresh(raw: DataFrame, path: String,
      checkpointEvery: Int = 32): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.VectorFunctions.toDouble
    graft.sources.StreamTwin.exactlyOnce(raw, path, checkpointEvery)((s, b, id) =>
      { refreshTxn(s, b.select(col("vec_id"), toDouble(col("embedding")).as("v")),
          path, batchId = Some(id)); () })
  }

  /** TWO-STAGE serving AT REST — the verb the raw-ADC demotion points
    * to (Pq's Scaladoc: raw ADC is candidate generation; THIS is the
    * PQ lane's serving path, Jégou §VI on the warehouse layout):
    * stage 1 takes the (expand·k)-deep ADC shortlist from
    * `probeBatch` — one partition-pruned scan of the 8 B/vector code
    * table; stage 2 fetches JUST the shortlist's full vectors from
    * `vectors` (the primary store — at rest a keyed point-read; the
    * code table deliberately holds no floats) by broadcast
    * id-semijoin and re-ranks with the EXACT rounded cosine,
    * expression-for-expression Knn.bruteForce's arithmetic — INCLUDING
    * the ranking key: the window orders by roundx(cos, 6) desc with
    * the vec_id tiebreak, exactly knnBatchOver's sort (ranking the
    * raw unrounded cosine could order a 6-dp tie differently from the
    * truth it is graded against, flipping a boundary row of the
    * recall report).  The shortlist side of the stage-2 fetch is a
    * FORCED `broadcast`: it is
    * |Q|·expand·k rows by construction, but statically Spark cannot
    * know that, and an unhinted join would plan a full shuffle of the
    * 100 TB primary store before AQE could demote it — the hint makes
    * the point-read shape the PLANNED shape (PqSpec pins the
    * BroadcastHashJoin with auto-broadcast disabled, so the pin fails
    * if the hint is removed).  Corpus
    * cost: nprobe/K of the codes + |Q|·expand·k float vectors —
    * nothing else touched.  `RecallMonitor.pqRows`' refined row IS
    * this verb (one definition), so the registered at-rest recall
    * number grades exactly what this serves.  PqWarehouseSpec pins
    * shortlist containment, exact stage-2 cosines, and determinism. */
  def probeBatchRefined(spark: SparkSession, path: String,
      queries: DataFrame, vectors: DataFrame, nprobe: Int = 4, k: Int = 10,
      expand: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions._
    import graft.functions.Exact.roundx
    val shortlist = probeBatch(spark, path, queries, nprobe, expand * k,
        excludeSelf)
      .select(col("query_id"), col("vec_id"))
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    broadcast(shortlist)
      .join(vectors.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv"))), Seq("query_id"))
      .withColumn("cos",
        roundx(dot(col("v"), col("qv")) / (norm(col("v")) * norm(col("qv"))), 6))
      .withColumn("rnk", row_number().over(byQ))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"),
        col("cos").as("cosine"), col("rnk").cast("long").as("rnk"))
  }

  private val Tomb = Tombstones("vec_id")
  private def stagingPath(path: String) = s"$path.staged"

  /** The gated requantize's verdict — one driver-side record per run
    * (the IvfWarehouse.GateReport shape, with BOTH serving stages'
    * recalls on record: the gate decides on the REFINED number — the
    * serving path — while the ADC pair documents the candidate-
    * generation stage the same re-train moved). */
  final case class GateReport(truthN: Long,
      adcStanding: Double, adcStaged: Double,
      recallStanding: Double, recallStaged: Double, swapped: Boolean)

  /** MONITOR-GATED REQUANTIZE — blue/green drift repair for the PQ
    * lane (the lane carries TWICE the frozen-quantizer drift surface —
    * coarse centroids AND the PQ codebook — and its at-rest refined
    * recall is the lowest number the monitor prints).
    * The reclusterIfBetter discipline applied to both quantizers:
    *
    *  1. compact, then RE-TRAIN coarse quantizer + codebook from
    *     scratch on the surviving vectors (fetched from the primary
    *     store by the standing ids — the code table holds no floats)
    *     and encode them into a STAGING base (`<path>.staged`) as ONE
    *     transaction — codes + codebook + centroids, the materialize
    *     shape, serving path untouched;
    *  2. grade standing vs staged through `RecallMonitor.pqRows` —
    *     both bases against the SAME brute truth (same survivors ⇒
    *     identical truth, `require`d), both serving stages graded;
    *  3. swap into `path` ONLY if the REFINED recall (the serving
    *     path) does not regress; otherwise the standing quantizers
    *     keep serving bit-for-bit.
    * The staging base is cleared in a finally — a grade that throws
    * leaves no zombie staged state.
    *
    * Cost shape: one compact + one re-train (the k-means passes over
    * the survivors — corpus-linear, the ingest cost paid once per
    * repair) + four pruned monitor probes + two |Q|-bounded brute
    * truth passes; on swap one replace of the code table + the two
    * KB-scale side tables.  `seed`/`oneIn` thread the monitor's
    * hash-mod query sampling into the ship decision — registered rows
    * stay at the deterministic prefix default.
    * PqWarehouseSpec drives both branches (hold: standing state
    * bit-identical; swap: the staged quantizers serve). */
  def requantizeIfBetter(spark: SparkSession, path: String, dir: String,
      k: Int = 16, nQueries: Int = 10, kNn: Int = 5, nprobe: Int = 4,
      seed: Option[Long] = None, oneIn: Long = 16L): GateReport = {
    import graft.functions.VectorFunctions._
    val staging = stagingPath(path)
    // the re-fit must see survivors only (the reclusterIfBetter rung)
    compact(spark, path)
    val survivors = Tables(spark, dir).embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .join(standingIds(spark, path), Seq("vec_id"))
      .localCheckpoint()
    materializeFrom(spark, survivors, staging, k)
    def grade(p: String): (Long, Double, Double) = {
      val rows = RecallMonitor.pqRows(spark, p, dir, nQueries, kNn, nprobe,
          seed, oneIn)
        .collect().map(r => r.getAs[String]("method") -> r).toMap
      (rows("pq_warehouse_refined").getAs[Long]("truth_n"),
        rows("pq_warehouse_adc").getAs[Double]("recall"),
        rows("pq_warehouse_refined").getAs[Double]("recall"))
    }
    try {
      val (truthOld, adcOld, refOld) = grade(path)
      val (truthNew, adcNew, refNew) = grade(staging)
      // same survivors ⇒ same brute truth — the premise that makes the
      // two refined recalls comparable at all
      require(truthOld == truthNew,
        s"gated requantize: truth moved across the re-train ($truthOld -> " +
          s"$truthNew) — staged state does not hold the standing vectors")
      val swap = refNew >= refOld
      if (swap) {
        val s = CommitLog.snapshot(spark, staging)
        CommitLog.transaction(spark, path) { t =>
          t.replace(s.read(staging), path, Seq("cid"))
          t.replace(s.read(codebookPath(staging)), codebookPath(path))
          t.replace(s.read(centroidsPath(staging)), centroidsPath(path))
        }
      }
      GateReport(truthOld, adcOld, adcNew, refOld, refNew, swap)
    } finally {
      CommitLog.transaction(spark, staging) { t =>
        t.clear(staging); t.clear(codebookPath(staging))
        t.clear(centroidsPath(staging))
      }
    }
  }

  /** Registered `s_knn_pq_probe_refined`: the refined serving verb on
    * the MAINTAINED monitor index (refresh + retract + compact — the
    * drifted state a production query actually hits), three corpus
    * queries, primary store = the embeddings table restricted to the
    * surviving ids.  NO SQL oracle (two trained quantizers); PqSpec
    * pins shortlist containment, exact stage-2 cosines, rank shape,
    * and determinism; `s_knn_recall_report_pq`'s refined row carries
    * this verb's at-rest recall every round. */
  def refinedProbeRegistered(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val path = RecallMonitor.pqMonitorPath(spark, dir)
    val standing = Tables(spark, dir).embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .join(standingIds(spark, path), Seq("vec_id"))
      .localCheckpoint()
    val queries = standing.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    probeBatchRefined(spark, path, queries, vectors = standing)
  }

  /** The SURVIVING vec_ids at rest — the code table's id domain minus
    * outstanding tombstones (one id per vector; the code table holds M
    * rows per vector).  The population the serving probes can answer
    * from, which is exactly what the at-rest recall monitor must grade
    * truth over (RecallMonitor.pqRows; vectors themselves live in the
    * primary store — codes are the only corpus-scale state here). */
  private[graft] def standingIds(spark: SparkSession, path: String): DataFrame = {
    val snap = CommitLog.snapshot(spark, path)
    Tomb.live(snap, snap.read(path).select(col("vec_id")).distinct(), path)
  }

  /** RETRACT — the delete verb on the PQ lane: vec_id tombstones,
    * the IvfWarehouse/LshWarehouse rung verbatim — a code row depends
    * only on its own vector; the FROZEN quantizers are corpus-level
    * state a member deletion does not change (FAISS remove_ids).  Probes drop
    * tombstoned candidates on the pruned candidate set; compact
    * physically purges the code table. */
  def retract(removedIds: DataFrame, path: String): Unit =
    Tomb.retract(removedIds, path)

  /** COMPACT — purge tombstoned codes, clear the tombstones and fold
    * the streaming twin's id part in one transaction
    * (`Tombstones.compact`); vacuum is the caller's retention verb. */
  def compact(spark: SparkSession, path: String): Unit =
    Tomb.compact(spark, path, Seq(path -> Seq("cid")))

  /** Probe: rank stored centroids for the query (K-row metadata),
    * build the ADC LUT from the stored codebook (128-row metadata,
    * same sequential-fold arithmetic as the inline path so ADC scores
    * are bit-identical), then scan ONLY the probed cid partitions of
    * the code table.  `excludeId` drops the query's own row when the
    * query vector comes from the corpus. */
  def probe(spark: SparkSession, path: String, qv: Array[Double],
      nprobe: Int = 4, k: Int = 10, excludeId: Long = -1L): DataFrame = {
    import graft.functions.VectorFunctions._
    // normalize exactly like Kmeans.normalize: nrm = sqrt(sequential
    // self-dot), then elementwise divide
    var acc = 0.0
    var i = 0
    while (i < qv.length) { acc += qv(i) * qv(i); i += 1 }
    val qnrm = math.sqrt(acc)
    val qn = qv.map(_ / qnrm)

    val snap = CommitLog.snapshot(spark, path)
    val qvCol = typedLit(qv.toSeq).cast("array<double>")
    val probeCids = snap.read(centroidsPath(path))
      .select(col("cid"), (-dot(col("cv"), qvCol) / norm(col("cv"))).as("dist"))
      .orderBy(col("dist"), col("cid")).limit(nprobe)
      .collect().map(_.getAs[Int]("cid"))

    val lut = snap.read(codebookPath(path)).collect().map { r =>
      val m = r.getAs[Int]("m")
      val cv = r.getSeq[Double](r.fieldIndex("cv"))
      var part = 0.0
      var j = 0
      val base = m * SubDim
      while (j < math.min(SubDim, cv.length)) {
        part += cv(j) * qn(base + j); j += 1
      }
      (m, r.getAs[Int]("cid"), part)
    }
    import spark.implicits._
    val lutDf = lut.toSeq.toDF("m", "code", "part")

    Tomb.live(snap, snap.read(path)
      .filter(col("cid").isin(probeCids.toIndexedSeq.map(Integer.valueOf): _*))
      .filter(col("vec_id") =!= excludeId), path)
      .join(broadcast(lutDf), Seq("m", "code"))
      .groupBy(col("vec_id"))
      .agg(roundx(sumx(col("part")), 6).as("adc_cosine"), first(col("cid")).as("cid"))
      .orderBy(col("adc_cosine").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("adc_cosine"), col("cid"))
  }

  /** BATCHED probe over the code table — IvfWarehouse.probeBatch on
    * the deployable layout: ONE pruned scan of the union of all
    * queries' posting lists, scored entirely through 4-bit codes.
    * Per-query metadata (nprobe centroid ranking, the 128-row ADC
    * LUT) is computed driver-side with EXACTLY the sequential fold
    * `probe` uses, so batch results are bit-identical per query; the
    * broadcast (query_id, cid) assignment restricts each query's
    * scoring to its own lists and the broadcast |Q|×128-row LUT binds
    * on (query_id, m, code).  Everything driver-side is bounded by
    * the serving batch × KB-scale codebook — never the corpus. */
  def probeBatch(spark: SparkSession, path: String, queries: DataFrame,
      nprobe: Int = 4, k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    val snap = CommitLog.snapshot(spark, path)
    val qs = queries.select(col("query_id"), col("qv")).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getSeq[Double](1).toArray))
    val cents = snap.read(centroidsPath(path)).collect()
      .map(r => (r.getAs[Int]("cid"), r.getSeq[Double](r.fieldIndex("cv")).toArray))
    val cb = snap.read(codebookPath(path)).collect()
      .map(r => (r.getAs[Int]("m"), r.getAs[Int]("cid"),
        r.getSeq[Double](r.fieldIndex("cv")).toArray))

    // sequential folds, element order identical to DotProduct/norm —
    // the bit-exactness contract with the single-query path
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    val assign = qs.flatMap { case (qid, qv) =>
      cents.map { case (cid, cv) => (cid, -dotd(cv, qv) / math.sqrt(dotd(cv, cv))) }
        .sortBy { case (cid, dist) => (dist, cid) }.take(nprobe)
        .map { case (cid, _) => (qid, cid) }
    }
    val lutAll = qs.flatMap { case (qid, qv) =>
      val qn = { val n = math.sqrt(dotd(qv, qv)); qv.map(_ / n) }
      cb.map { case (m, code, cv) =>
        var part = 0.0
        var j = 0
        val base = m * SubDim
        while (j < math.min(SubDim, cv.length)) { part += cv(j) * qn(base + j); j += 1 }
        (qid, m, code, part)
      }
    }
    val unionCids = assign.map(_._2).distinct
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc_cosine").desc, col("vec_id"))
    Tomb.live(snap, snap.read(path)
      .filter(col("cid").isin(unionCids.toIndexedSeq.map(Integer.valueOf): _*)), path)
      .join(broadcast(assign.toSeq.toDF("query_id", "cid")), Seq("cid"))
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .join(broadcast(lutAll.toSeq.toDF("query_id", "m", "code", "part")),
        Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(roundx(sumx(col("part")), 6).as("adc_cosine"), first(col("cid")).as("cid"))
      .withColumn("rnk", row_number().over(byQ))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), col("adc_cosine"), col("cid"),
        col("rnk").cast("long").as("rnk"))
  }
}
