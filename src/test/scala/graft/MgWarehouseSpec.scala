package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words
import graft.operators.MgWarehouse
import graft.sources.Tables

/** The heavy-hitter warehouse contract at GUARANTEE level (the
  * reported set below the guarantee line is merge-order-dependent by
  * design, so the spec pins the bound, not row equality): the probe
  * over refreshed generations covers every true heavy hitter with
  * bounded underestimates, compaction leaves one valid summary row
  * serving the same contract, the probe never scans documents, and
  * the streaming twin's fold satisfies the identical bound.
  */
class MgWarehouseSpec extends RollupLawRows {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-mgw-$tag").resolve("idx").toString

  /** Assert the MG contract of `got` against exact corpus counts. */
  private def assertContract(got: Map[String, Long], tag: String): Unit = {
    val exact = Tables(spark, Dir).documents
      .select(explode(words(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = n.toDouble / (MgWarehouse.K + 1)
    assert(got.size <= MgWarehouse.K, s"$tag: ${got.size} > k rows")
    val trueHeavy = exact.filter { case (_, c) => c > bound }.keySet
    assert(trueHeavy.nonEmpty, "degenerate corpus: no token above n/(k+1)")
    assert((trueHeavy -- got.keySet).isEmpty,
      s"$tag missed true heavy hitters: ${trueHeavy -- got.keySet}")
    got.foreach { case (t, est) =>
      val truth = exact.getOrElse(t, 0L)
      assert(est <= truth, s"$tag: $t estimate $est exceeds true $truth")
      assert(truth - est <= bound + 1e-9,
        s"$tag: $t underestimate ${truth - est} exceeds n/(k+1)=$bound")
    }
  }

  private def probeMap(path: String): Map[String, Long] =
    MgWarehouse.probe(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("refreshed-generation probe satisfies the MG bound vs exact counts") {
    assertContract(probeMap(MgWarehouse.builtPath(spark, Dir)), "refreshed")
  }

  // lifecycle laws — defined once in RollupLawsSpec
  lawRow("compaction leaves one row and the probe keeps the contract",
    RollupLaws.Compact, "mg")
  lawRow("the probe scans ONLY the warehouse — zero documents scans",
    RollupLaws.Scan, "mg")

  test("streaming refresh across micro-batches keeps the contract") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = Tables(spark, Dir).documents
    val p = tmp("stream")
    MgWarehouse.materializeFrom(docs.filter(MgWarehouse.isBase), p)
    val incoming = docs.filter(!MgWarehouse.isBase)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val q = MgWarehouse.streamingRefresh(mem.toDF().toDF("doc_id", "text"), p)
    try {
      val (b1, b2) = incoming.splitAt(incoming.length / 2)
      mem.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assertContract(probeMap(p), "streamed")
  }
}
