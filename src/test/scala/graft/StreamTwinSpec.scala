package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BalanceWarehouse, JoinViewWarehouse, RichlistWarehouse}
import graft.similarity.{KnnGraphWarehouse, Knn, PcaWarehouse}
import graft.sources.Tables

/** The exactly-once rung across the FULL streaming-twin matrix
  * (round 13, VERDICT-r12 ask #3): for every member whose twin folds
  * state, drive a REDELIVERED COMMITTED BATCH directly through the
  * member's refreshTxn — it must fold NOTHING (return false), leave
  * the served state bit-unchanged, and keep skipping after compact
  * (the id part folds without forgetting).  The machinery is shared
  * (StreamTwin.refreshTxnWith / exactlyOnce / compactIds), so one
  * member's green is not another's — each member's verb body routes
  * its own parts through the txn, and each is pinned here.
  * The Rollup members run the shared Replay law (RollupLawsSpec);
  * Bm25 keeps its pin in its own suite; KnnGraphWarehouse
  * additionally gets the MemoryStream end-to-end drive (stream ==
  * one-shot build). */
class StreamTwinSpec extends RollupLawRows {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-twin-$tag").resolve("wh").toString

  /** The shared drill: build, fold batch under id 7, pin state; the
    * redelivery must skip and leave state identical; compact must not
    * forget the id; a fresh id must still fold. */
  private def drill(tag: String,
      fold: (String, Option[Long]) => Boolean,
      compact: String => Unit,
      state: String => Set[String]): Unit = {
    val p = tmp(tag)
    assert(fold(p, Some(7L)), s"$tag: first delivery must fold")
    val after = state(p)
    assert(after.nonEmpty, s"$tag: vacuous — folded state is empty")
    assert(!fold(p, Some(7L)), s"$tag: redelivered committed batch must skip")
    assert(state(p) == after, s"$tag: redelivery changed the state")
    compact(p)
    assert(state(p) == after, s"$tag: compact changed the state")
    assert(!fold(p, Some(7L)), s"$tag: compact forgot a committed batch id")
    assert(fold(p, Some(8L)), s"$tag: a fresh id must fold")
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private lazy val events = Tables(spark, Dir).events.limit(300).localCheckpoint()
  private lazy val docs = Tables(spark, Dir).documents.limit(200).localCheckpoint()

  // lifecycle laws — defined once in RollupLawsSpec
  lawRow("hll twin: redelivered committed batch folds nothing, survives compact",
    RollupLaws.Replay, "hll")
  lawRow("mg twin: redelivered committed batch folds nothing, survives compact",
    RollupLaws.Replay, "mg")
  lawRow("stats twin: redelivered committed batch folds nothing, survives compact",
    RollupLaws.Replay, "stats")

  test("pca twin: redelivered committed batch folds nothing, survives compact") {
    val emb = Tables(spark, Dir).embeddings.limit(100).localCheckpoint()
    drill("pca",
      (p, id) => PcaWarehouse.refreshTxn(spark, emb, p, id),
      p => PcaWarehouse.compact(spark, p),
      p => rows(PcaWarehouse.cov(spark, p)))
  }

  test("balance twin AND its CDC twin: redelivery folds nothing, survives compact") {
    val bal = Tables(spark, Dir).customer.limit(200)
      .join(broadcast(Tables(spark, Dir).nation),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("denom"), col("c_acctbal").as("bal"))
      .localCheckpoint()
    RollupLaws.check(spark, Dir, RollupLaws.Replay, "balance")
    // the CDC ledger: replaying a committed change batch would
    // re-apply −/+ halves — corruption, not noise; it must skip
    val changes = bal.withColumn("op", lit(1)).localCheckpoint()
    drill("balance-cdc",
      (p, id) => BalanceWarehouse.changesTxn(spark, changes, p, id),
      p => BalanceWarehouse.compact(spark, p),
      p => rows(BalanceWarehouse.merged(spark, p)))
  }

  test("richlist twin: redelivery folds nothing (duplicated totals would shift every share)") {
    val rl = RichlistWarehouse.rowsOf(spark, Dir,
      Tables(spark, Dir).customer.limit(200)).localCheckpoint()
    drill("richlist",
      (p, id) => RichlistWarehouse.refreshTxn(spark, rl, p, id),
      p => RichlistWarehouse.compact(spark, p),
      p => rows(RichlistWarehouse.probe(spark, p)))
  }

  test("join-view twins (lines + order changes): redelivery folds nothing, survives compact") {
    val t = Tables(spark, Dir)
    val baseOrders = t.orders.filter(JoinViewWarehouse.isBaseOrder)
    val lineBatch = t.lineitem.filter(!JoinViewWarehouse.isBaseLine)
      .localCheckpoint()
    // lines twin: seed the O side first (the fold joins standing O)
    val p1 = tmp("jv-lines")
    JoinViewWarehouse.materializeFrom(baseOrders,
      t.lineitem.filter(JoinViewWarehouse.isBaseLine), p1)
    assert(JoinViewWarehouse.refreshLinesTxn(spark, lineBatch, p1, Some(7L)))
    val s1 = rows(JoinViewWarehouse.probe(spark, p1))
    assert(!JoinViewWarehouse.refreshLinesTxn(spark, lineBatch, p1, Some(7L)))
    assert(rows(JoinViewWarehouse.probe(spark, p1)) == s1)
    JoinViewWarehouse.compact(spark, p1)
    assert(rows(JoinViewWarehouse.probe(spark, p1)) == s1)
    assert(!JoinViewWarehouse.refreshLinesTxn(spark, lineBatch, p1, Some(7L)),
      "compact forgot a committed line batch id")
    // order-change twin on the same base: ids are per-base, so the
    // change stream gets its own path
    val p2 = tmp("jv-chg")
    JoinViewWarehouse.materializeFrom(baseOrders,
      t.lineitem.filter(JoinViewWarehouse.isBaseLine), p2)
    val chg = t.orders.filter(!JoinViewWarehouse.isBaseOrder)
      .withColumn("op", lit(1)).localCheckpoint()
    assert(JoinViewWarehouse.orderChangesTxn(spark, chg, p2, Some(7L)))
    val s2 = rows(JoinViewWarehouse.probe(spark, p2))
    assert(!JoinViewWarehouse.orderChangesTxn(spark, chg, p2, Some(7L)))
    assert(rows(JoinViewWarehouse.probe(spark, p2)) == s2,
      "a replayed CDC batch re-applied its halves")
  }

  test("knn-graph warehouse: fold == batch refresh; redelivery skips; compact invariant") {
    val e = Knn.graphVecs(Tables(spark, Dir).embeddings)
      .localCheckpoint()
    val isBatch = pmod(col("vec_id"), lit(10L)) >= 8
    val p = tmp("knngraph")
    KnnGraphWarehouse.materializeFrom(e.filter(!isBatch), p)
    assert(KnnGraphWarehouse.refreshTxn(spark, e.filter(isBatch), p, 5, Some(7L)))
    val g = rows(KnnGraphWarehouse.graph(spark, p))
    // base ∪ batch = the whole table ⇒ the warehouse graph equals the
    // registered one-shot build row for row
    assert(g == rows(Knn.knnGraph(spark, Dir)),
      "warehouse-backed fold diverged from the direct build")
    assert(!KnnGraphWarehouse.refreshTxn(spark, e.filter(isBatch), p, 5, Some(7L)),
      "redelivered committed batch must skip")
    assert(rows(KnnGraphWarehouse.graph(spark, p)) == g)
    KnnGraphWarehouse.compact(spark, p)
    assert(rows(KnnGraphWarehouse.graph(spark, p)) == g,
      "compact changed the served graph")
    assert(!KnnGraphWarehouse.refreshTxn(spark, e.filter(isBatch), p, 5, Some(7L)),
      "compact forgot a committed batch id")
  }

  // ---- round 14: the ANN family joins the twin matrix (Ivf/Lsh/Pq
  // refresh under FROZEN quantizers is per-row, hence
  // batching-invariant; each refreshTxn commits the engine batch id
  // atomically with the posting/code/signature rows)

  private lazy val annVecs = Tables(spark, Dir).embeddings
    .select(col("vec_id"),
      graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    .localCheckpoint()
  private lazy val annBase = annVecs.filter(pmod(col("vec_id"), lit(10L)) < 8)
  private lazy val annInc = annVecs.filter(pmod(col("vec_id"), lit(10L)) >= 8)
    .localCheckpoint()
  private lazy val annQv = Tables(spark, Dir).embeddings
    .filter(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble).toArray

  private def builtOnce(p: String)(build: => Unit): Unit =
    if (sources.CommitLog.snapshot(spark, p).maxGen < 0) build

  test("ivf twin: redelivered committed batch folds nothing, survives compact") {
    drill("ivf",
      (p, id) => {
        builtOnce(p)(similarity.IvfWarehouse.materializeFrom(annBase, p))
        similarity.IvfWarehouse.refreshTxn(spark, annInc, p, id)
      },
      p => similarity.IvfWarehouse.compact(spark, p),
      p => rows(similarity.IvfWarehouse.probe(spark, p, annQv)))
  }

  test("lsh twin: redelivered committed batch folds nothing, survives compact") {
    drill("lsh",
      (p, id) => {
        builtOnce(p)(similarity.LshWarehouse.materializeFrom(annBase, p))
        similarity.LshWarehouse.refreshTxn(annInc, p, id)
      },
      p => similarity.LshWarehouse.compact(spark, p),
      p => rows(similarity.LshWarehouse.rangeProbe(spark, p)))
  }

  test("pq twin: redelivered committed batch folds nothing, survives compact") {
    drill("pq",
      (p, id) => {
        builtOnce(p)(similarity.PqWarehouse.materializeFrom(spark, annBase, p))
        similarity.PqWarehouse.refreshTxn(spark, annInc, p, id)
      },
      p => similarity.PqWarehouse.compact(spark, p),
      p => rows(similarity.PqWarehouse.probe(spark, p, annQv, excludeId = 0L)))
  }

  test("ann twin: the id part folds through a REAL compact without forgetting (r14)") {
    // the trio's compact (`Tombstones.compact`) opens no transaction
    // without tombstones, so the drill's compact leg is trivial there;
    // this drives the id fold: retract → compact folds the
    // `.stream` part to ONE replace generation, the committed id
    // still skips, a fresh id still folds
    val p = tmp("ivf-idfold")
    similarity.IvfWarehouse.materializeFrom(annBase, p)
    assert(similarity.IvfWarehouse.refreshTxn(spark, annInc, p, Some(7L)))
    similarity.IvfWarehouse.retract(
      annVecs.filter(col("vec_id") === 3).select(col("vec_id")), p)
    similarity.IvfWarehouse.compact(spark, p)
    val idEntries = sources.CommitLog.history(spark, p)
      .filter(col("part") === ".stream").collect()
      .map(r => r.getAs[String]("kind"))
    assert(idEntries.contains("replace"),
      s"compact did not fold the stream-id part: ${idEntries.toSeq}")
    assert(!similarity.IvfWarehouse.refreshTxn(spark, annInc, p, Some(7L)),
      "compact forgot a committed batch id")
    assert(similarity.IvfWarehouse.refreshTxn(spark, annInc, p, Some(8L)))
  }

  test("ivf warehouse: MemoryStream end-to-end equals the one-shot refresh") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val raw = Tables(spark, Dir).embeddings
    val p = tmp("ivf-stream")
    similarity.IvfWarehouse.materializeFrom(annBase, p)
    // the one-shot reference: same base, same incoming rows in one fold
    val ref = tmp("ivf-stream-ref")
    similarity.IvfWarehouse.materializeFrom(annBase, ref)
    similarity.IvfWarehouse.refresh(spark, annInc, ref)
    val query = similarity.IvfWarehouse.streamingRefresh(
      stream.toDF().toDF("vec_id", "embedding"), p)
    try {
      def batch(m: Int) = raw.filter(col("vec_id") % 10 === m).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      stream.addData(batch(8))
      query.processAllAvailable()
      stream.addData(batch(9))
      query.processAllAvailable()
      assert(rows(similarity.IvfWarehouse.probe(spark, p, annQv)) ==
        rows(similarity.IvfWarehouse.probe(spark, ref, annQv)),
        "streamed IVF index diverged from the one-shot refresh")
    } finally query.stop()
  }

  test("lsh + pq warehouses: MemoryStream end-to-end equals the one-shot refresh") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val raw = Tables(spark, Dir).embeddings
    def batch(m: Int) = raw.filter(col("vec_id") % 10 === m).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    def drive(start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
      val query = start(stream.toDF().toDF("vec_id", "embedding"))
      try {
        stream.addData(batch(8)); query.processAllAvailable()
        stream.addData(batch(9)); query.processAllAvailable()
      } finally query.stop()
    }
    // LSH: streamed two-batch fold == one-shot refresh, via rangeProbe
    val lp = tmp("lsh-stream"); val lref = tmp("lsh-stream-ref")
    similarity.LshWarehouse.materializeFrom(annBase, lp)
    similarity.LshWarehouse.materializeFrom(annBase, lref)
    similarity.LshWarehouse.refresh(annInc, lref)
    drive(df => similarity.LshWarehouse.streamingRefresh(df, lp))
    assert(rows(similarity.LshWarehouse.rangeProbe(spark, lp)) ==
      rows(similarity.LshWarehouse.rangeProbe(spark, lref)),
      "streamed LSH index diverged from the one-shot refresh")
    // NON-DEFAULT band geometry rides through the twin (ADVICE r14
    // #2: the twin used to hardcode bitsPerBand=2/bands=32, silently
    // appending incompatible band keys to a 4/16 index)
    val lp3 = tmp("lsh-stream-g3"); val lref3 = tmp("lsh-stream-g3-ref")
    similarity.LshWarehouse.materializeFrom(annBase, lp3, bitsPerBand = 4, bands = 16)
    similarity.LshWarehouse.materializeFrom(annBase, lref3, bitsPerBand = 4, bands = 16)
    similarity.LshWarehouse.refresh(annInc, lref3, bitsPerBand = 4, bands = 16)
    drive(df => similarity.LshWarehouse.streamingRefresh(df, lp3,
      bitsPerBand = 4, bands = 16))
    assert(rows(similarity.LshWarehouse.rangeProbe(spark, lp3,
        bitsPerBand = 4, bands = 16)) ==
      rows(similarity.LshWarehouse.rangeProbe(spark, lref3,
        bitsPerBand = 4, bands = 16)),
      "streamed non-default-geometry LSH index diverged from the one-shot refresh")
    // PQ: same drill via the code-table probe
    val pp = tmp("pq-stream"); val pref = tmp("pq-stream-ref")
    similarity.PqWarehouse.materializeFrom(spark, annBase, pp)
    similarity.PqWarehouse.materializeFrom(spark, annBase, pref)
    similarity.PqWarehouse.refresh(spark, annInc, pref)
    drive(df => similarity.PqWarehouse.streamingRefresh(df, pp))
    assert(rows(similarity.PqWarehouse.probe(spark, pp, annQv, excludeId = 0L)) ==
      rows(similarity.PqWarehouse.probe(spark, pref, annQv, excludeId = 0L)),
      "streamed PQ index diverged from the one-shot refresh")
  }

  test("pca ANN twin: moments + projections fold atomically; stream == one-shot (r15)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val raw = Tables(spark, Dir).embeddings
    val base = raw.filter(pmod(col("vec_id"), lit(10L)) < 8)
    val inc = raw.filter(pmod(col("vec_id"), lit(10L)) >= 8)
    def build(p: String): Unit = {
      PcaWarehouse.materializeFrom(base, p)
      PcaWarehouse.trainProjector(spark, p)
      PcaWarehouse.refreshAnn(spark, base, p)
    }
    val ref = tmp("pca-ann-ref")
    build(ref)
    PcaWarehouse.refresh(spark, inc, ref)
    PcaWarehouse.refreshAnn(spark, inc, ref)
    val p = tmp("pca-ann-twin")
    build(p)
    def batch(m: Int) = raw.filter(col("vec_id") % 10 === m).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val query = PcaWarehouse.streamingRefreshAnn(
      stream.toDF().toDF("vec_id", "embedding"), p)
    try {
      stream.addData(batch(8)); query.processAllAvailable()
      stream.addData(batch(9)); query.processAllAvailable()
    } finally query.stop()
    // BOTH parts equal the one-shot batch build, bit for bit: the
    // moments fold is associative, the projections ride the frozen
    // projector's per-row arithmetic
    assert(rows(PcaWarehouse.cov(spark, p)) == rows(PcaWarehouse.cov(spark, ref)),
      "streamed moments diverged from the one-shot refresh")
    def proj(b: String) = rows(
      graft.sources.CommitLog.snapshot(spark, b).read(s"$b.proj"))
    assert(proj(p) == proj(ref),
      "streamed projections diverged from the one-shot refresh")
    // the exactly-once rung: redelivering a committed engine batch id
    // folds NOTHING into either part
    val covBefore = rows(PcaWarehouse.cov(spark, p))
    assert(!PcaWarehouse.refreshAnnTxn(spark,
      raw.filter(col("vec_id") % 10 === 9), p, Some(1L)),
      "redelivered committed batch must skip")
    assert(rows(PcaWarehouse.cov(spark, p)) == covBefore && proj(p) == proj(ref),
      "a replayed batch mutated the lane")
  }

  test("knn-graph warehouse: MemoryStream end-to-end equals the one-shot build") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val raw = Tables(spark, Dir).embeddings
    val isBatch = pmod(col("vec_id"), lit(10L)) >= 8
    val p = tmp("knngraph-stream")
    KnnGraphWarehouse.materializeFrom(
      Knn.graphVecs(raw.filter(!isBatch)), p)
    val query = KnnGraphWarehouse.streamingRefresh(
      stream.toDF().toDF("vec_id", "embedding"), p)
    try {
      def batch(m: Int) = raw.filter(col("vec_id") % 10 === m).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      stream.addData(batch(8))
      query.processAllAvailable()
      stream.addData(batch(9))
      query.processAllAvailable()
      val streamed = rows(KnnGraphWarehouse.graph(spark, p))
      assert(streamed == rows(Knn.knnGraph(spark, Dir)),
        "streamed warehouse graph diverged from the one-shot build")
    } finally query.stop()
  }
}
