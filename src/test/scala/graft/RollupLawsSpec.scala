package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.KllFunctions.kllQuantile
import graft.operators.{BalanceWarehouse, HllWarehouse, MgWarehouse,
  QuantileWarehouse, StatsWarehouse, TsWarehouse}
import graft.sources.{AdditiveRollup, CommitLog, Rollup, Tables}

/** The Rollup laws, defined once and checked over every member they
  * apply to:
  *  - Refresh: base generation + one refresh ≡ the one-shot build
  *    (exact members);
  *  - Compact: compaction leaves the served state unchanged at one
  *    stored row per key;
  *  - Retract: retract ∘ refresh ≡ the rebuild on the survivors, also
  *    after compact (additive members);
  *  - Stream: a MemoryStream fold in two micro-batches ≡ the one-shot
  *    build (exact members);
  *  - Replay: a redelivered committed batch folds nothing, also after
  *    compact, while a fresh batch id still folds;
  *  - Scan: the merged read of the built warehouse scans only the
  *    warehouse.
  * A member's `state` is its merged rows where the state is exact
  * sums, probe output where sketch bytes are not canonical; Compact
  * and Retract also compare the member's `probe` output.  Each
  * (law, member) row runs once: the rows listed in
  * `inMemberSpecs` keep the test ids they had in the member specs
  * (one-line `lawRow` calls), every other row runs in RollupLawsSpec. */
object RollupLaws {

  sealed abstract class Law(val name: String)
  case object Refresh extends Law("refresh ≡ one-shot build")
  case object Compact extends Law("compact keeps the served state at one row per key")
  case object Retract extends Law("retract ≡ rebuild on the survivors")
  case object Stream extends Law("streamed two-batch fold ≡ one-shot build")
  case object Replay extends Law("a redelivered committed batch folds nothing, also after compact")
  case object Scan extends Law("the merged read scans only the warehouse")
  val laws: Seq[Law] = Seq(Refresh, Compact, Retract, Stream, Replay, Scan)

  val memberNames: Seq[String] =
    Seq("ts", "stats", "quantile", "balance", "hll", "mg", "kll")
  /** Members whose state is exact, hence bit-comparable to a rebuild. */
  val exact: Set[String] = Set("ts", "stats", "quantile", "balance", "hll")
  val additive: Set[String] = Set("ts", "stats", "quantile", "balance")

  def applies(law: Law, member: String): Boolean = law match {
    case Refresh | Stream => exact(member)
    case Retract => additive(member)
    case _ => true
  }

  /** `corpus` feeds Refresh/Compact/Retract, `stream` the Stream law,
    * `replay` the Replay law; `retractSlice` is the Retract law's
    * removed rows.  `sharedKeys`: the corpus's two generations share
    * keys, so compaction must shrink the stored rows. */
  final case class Member(rollup: Rollup,
      state: String => Set[String], corpus: DataFrame, stream: DataFrame,
      replay: DataFrame, probe: String => Set[String] = _ => Set.empty,
      sharedKeys: Boolean = true, retractSlice: Option[Column] = None) {
    def served(p: String): Set[String] = state(p) ++ probe(p)
  }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  def member(spark: SparkSession, dir: String, name: String): Member = {
    // each table is read (schema and file listing) at most once per row
    val t = Tables(spark, dir)
    lazy val events = t.events
    lazy val docs = t.documents
    lazy val balances = t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("denom"), col("c_acctbal").as("bal"))
    name match {
      case "ts" => Member(TsWarehouse, p => rows(TsWarehouse.merged(spark, p)),
        events, events.select("ts", "event_type", "value").limit(200), events,
        probe = p => rows(TsWarehouse.grid(spark, p)),
        retractSlice = Some(TsWarehouse.isRetractedEvent))
      case "stats" => Member(StatsWarehouse, p => rows(StatsWarehouse.merged(spark, p)),
        docs, docs.select("doc_id", "text", "lang").limit(200), docs.limit(200),
        retractSlice = Some(pmod(col("doc_id"), lit(3L)) === 0))
      case "quantile" => Member(QuantileWarehouse,
        p => rows(QuantileWarehouse.merged(spark, p)),
        events, events.select("ts", "event_type", "value").limit(300), events,
        probe = p => rows(QuantileWarehouse.probe(spark, p)), sharedKeys = false,
        retractSlice = Some(pmod(col("event_id"), lit(3L)) === 0))
      case "balance" => Member(BalanceWarehouse, p => rows(BalanceWarehouse.merged(spark, p)),
        balances, balances.select("denom", "bal").limit(300),
        balances.limit(200), sharedKeys = false,
        retractSlice = Some(BalanceWarehouse.isRetractedCust))
      case "hll" => Member(HllWarehouse, p => rows(HllWarehouse.probe(spark, p)),
        events, events.select("ts", "user_id").limit(300), events.limit(300))
      case "mg" => Member(MgWarehouse, p => rows(MgWarehouse.probe(spark, p)),
        docs, docs, docs.limit(200))
      case "kll" => Member(QuantileWarehouse.Kll,
        p => rows(QuantileWarehouse.Kll.merged(spark, p).select(col("date"),
          col("denom"), kllQuantile(col("sk"), lit(0.5)),
          kllQuantile(col("sk"), lit(0.9)), kllQuantile(col("sk"), lit(0.99)))),
        events, events, events.limit(300))
    }
  }

  /** Rows that run under their member-spec test ids. */
  val inMemberSpecs: Set[(Law, String)] =
    Set("ts", "stats", "quantile", "balance", "hll").flatMap(m =>
      Seq(Refresh, Compact, Stream, Scan).map(_ -> m)) ++
    Set("ts", "stats", "quantile", "balance").map(Retract -> _) ++
    Set("ts", "stats", "quantile", "balance", "hll", "mg").map(Replay -> _) ++
    Set(Compact -> "mg", Scan -> "mg")

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-law-$tag").resolve("wh").toString

  private def rawCount(spark: SparkSession, p: String): Long =
    CommitLog.snapshot(spark, p).read(p).count()

  /** Base generation plus one refresh, split by the member's key. */
  private def twoGen(spark: SparkSession, m: Member, tag: String): String = {
    val p = tmp(tag)
    m.rollup.materializeFrom(m.corpus.filter(m.rollup.isBase), p)
    m.rollup.refresh(spark, m.corpus.filter(!m.rollup.isBase), p)
    p
  }

  def check(spark: SparkSession, dir: String, law: Law, member: String): Unit = {
    assert(applies(law, member), s"${law.name} does not apply to $member")
    val m = this.member(spark, dir, member)
    val r = m.rollup
    law match {
      case Refresh =>
        val oneShot = tmp(s"$member-oneshot")
        r.materializeFrom(m.corpus, oneShot)
        val got = m.state(twoGen(spark, m, s"$member-refresh"))
        assert(got.nonEmpty && got == m.state(oneShot),
          s"$member: refreshed state diverges from the one-shot build")

      case Compact =>
        val p = twoGen(spark, m, s"$member-compact")
        val before = m.served(p)
        val pre = rawCount(spark, p)
        r.compact(spark, p)
        assert(m.served(p) == before, s"$member: compaction changed the served state")
        val post = rawCount(spark, p)
        assert(post == r.merged(spark, p).count(),
          s"$member: compact left $post rows, not one per key")
        assert(if (m.sharedKeys) post < pre else post <= pre,
          s"$member: compact left $post rows of $pre")

      case Retract =>
        val retracting = r.asInstanceOf[AdditiveRollup]
        val slice = m.retractSlice.get
        val p = twoGen(spark, m, s"$member-retract")
        retracting.retract(spark, m.corpus.filter(slice), p)
        val rebuilt = tmp(s"$member-survivors")
        r.materializeFrom(m.corpus.filter(!slice), rebuilt)
        val want = m.served(rebuilt)
        assert(want.nonEmpty && m.served(p) == want,
          s"$member: retracted state diverges from the rebuild on survivors")
        r.compact(spark, p)
        assert(m.served(p) == want, s"$member: compaction broke the retracted state")
        assert(rawCount(spark, p) == r.merged(spark, rebuilt).count(),
          s"$member: compaction kept retracted rows")

      case Stream =>
        val all = m.stream.collect()
        implicit val enc: Encoder[Row] = Encoders.row(m.stream.schema)
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val p = tmp(s"$member-stream")
        val mem = MemoryStream[Row]
        val q = r.streamingRefresh(mem.toDF(), p)
        try {
          val (b1, b2) = all.splitAt(all.length / 3)
          mem.addData(b1.toIndexedSeq)
          q.processAllAvailable()
          mem.addData(b2.toIndexedSeq)
          q.processAllAvailable()
        } finally q.stop()
        val oneShot = tmp(s"$member-stream-ref")
        r.materializeFrom(
          spark.createDataFrame(java.util.Arrays.asList(all: _*), m.stream.schema),
          oneShot)
        val got = m.state(p)
        assert(got.nonEmpty && got == m.state(oneShot),
          s"$member: streamed fold diverges from the one-shot build")

      case Replay =>
        val p = tmp(s"$member-replay")
        val batch = m.replay
        assert(r.refreshTxn(spark, batch, p, batchId = Some(7L)),
          s"$member: first delivery must fold")
        val after = m.state(p)
        assert(after.nonEmpty, s"$member: vacuous — folded state is empty")
        assert(!r.refreshTxn(spark, batch, p, batchId = Some(7L)),
          s"$member: redelivered committed batch must skip")
        assert(m.state(p) == after, s"$member: redelivery changed the state")
        r.compact(spark, p)
        assert(m.state(p) == after, s"$member: compaction changed the state")
        assert(!r.refreshTxn(spark, batch, p, batchId = Some(7L)),
          s"$member: compaction forgot a committed batch id")
        assert(r.refreshTxn(spark, batch.limit(50), p, batchId = Some(8L)),
          s"$member: a fresh id must fold")

      case Scan =>
        val path = r.builtPath(spark, dir)
        val roots = r.merged(spark, path).queryExecution.sparkPlan
          .collect { case f: FileSourceScanExec => f }
          .flatMap(_.relation.location.rootPaths).map(_.toString)
        assert(roots.nonEmpty && roots.forall(_.contains(path)),
          s"$member: merged read scans outside the warehouse: $roots")
    }
  }
}

/** Mixed into a member spec to run one law row under that spec's
  * test id. */
trait RollupLawRows extends GraftSpec {
  protected def lawRow(testName: String, law: RollupLaws.Law, member: String): Unit = {
    require(RollupLaws.inMemberSpecs((law, member)),
      s"(${law.name}, $member) runs in RollupLawsSpec")
    test(testName)(RollupLaws.check(spark, Dir, law, member))
  }
}

class RollupLawsSpec extends GraftSpec {
  import RollupLaws._

  for (law <- laws; m <- memberNames if applies(law, m) && !inMemberSpecs((law, m)))
    test(s"${law.name}: $m")(check(spark, Dir, law, m))
}
