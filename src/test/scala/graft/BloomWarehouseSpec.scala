package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{BloomWarehouse, TrainPrep}
import graft.functions.TextFunctions.words
import graft.sources.{CommitLog, Tables}

/** The Bloom decontamination warehouse contract: generation-split
  * delta filters OR-fold to the BYTE-EQUAL array of a one-shot build
  * (fixed-layout compatibility + independent bit-setting), compaction
  * is probe-byte-identical, the probe flags every truly contaminated
  * doc (no false negatives vs exact gram membership) within the FP
  * bound, and the registered probe plan's eval side is a stored
  * bytes row, not a documents rescan.
  */
class BloomWarehouseSpec extends GraftSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-blw-$tag").resolve("idx").toString

  /** The committed generation rows at `path`. */
  private def rowsAt(path: String) = CommitLog.snapshot(spark, path).read(path)

  private def bytesAt(path: String): Seq[Array[Byte]] =
    rowsAt(path).collect().map(_.getAs[Array[Byte]]("bf")).toSeq

  private def docsWithBucket = Tables(spark, Dir).documents
    .select(col("doc_id"), col("text"),
      pmod(TrainPrep.contentHash(col("text")), lit(100L)).as("bucket"))

  private def mergedBytes(path: String): Array[Byte] = {
    val bf = BloomWarehouse.mergedFilter(spark, path)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  test("generation-split refresh OR-folds to the one-shot filter byte-for-byte") {
    val d = docsWithBucket
    val a = tmp("refresh")
    BloomWarehouse.materializeFrom(spark,
      d.filter(col("bucket") >= 90 && col("bucket") < 95), a)
    BloomWarehouse.refresh(spark, d.filter(col("bucket") >= 95), a)
    val b = tmp("oneshot")
    BloomWarehouse.materializeFrom(spark, d.filter(col("bucket") >= 90), b)
    assert(java.util.Arrays.equals(mergedBytes(a), mergedBytes(b)),
      "merged generation filters diverge from the one-shot bit array")
  }

  test("compaction is probe-byte-identical and leaves one row") {
    val d = docsWithBucket
    val p = tmp("compact")
    BloomWarehouse.materializeFrom(spark,
      d.filter(col("bucket") >= 90 && col("bucket") < 95), p)
    BloomWarehouse.refresh(spark, d.filter(col("bucket") >= 95), p)
    val before = mergedBytes(p)
    assert(bytesAt(p).size == 2)
    BloomWarehouse.compact(spark, p)
    assert(java.util.Arrays.equals(before, mergedBytes(p)),
      "compaction changed the merged bit array")
    assert(bytesAt(p).size == 1)
  }

  test("generations record their inserted gram counts; over-capacity refresh fails loudly") {
    val s = spark
    import s.implicits._
    val d = docsWithBucket
    val p = tmp("capacity")
    BloomWarehouse.materializeFrom(spark,
      d.filter(col("bucket") >= 90 && col("bucket") < 95), p)
    // the recorded count is the generation's exact distinct gram count
    val recorded = rowsAt(p).select(col("n_grams")).head().getLong(0)
    val exact = d.filter(col("bucket") >= 90 && col("bucket") < 95)
      .select(explode(graft.functions.GramHashes(words(col("text")), 8)).as("h"))
      .distinct().count()
    assert(recorded == exact, s"recorded $recorded grams, exact $exact")
    // plant a generation row claiming MORE than Capacity: refresh and
    // compact must fail the FP-bound guard instead of silently
    // degrading the filter toward all-positives
    val bf = org.apache.spark.util.sketch.BloomFilter
      .create(BloomWarehouse.Capacity, BloomWarehouse.Fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val full = tmp("over")
    val overRow = Seq((bos.toByteArray, BloomWarehouse.Capacity + 1)).toDF("bf", "n_grams")
    CommitLog.transaction(spark, full)(_.replace(overRow, full))
    val batch = Seq((1L, "eight distinct words are needed for one gram here"))
      .toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      BloomWarehouse.refresh(spark, batch, full)
    }
    intercept[IllegalArgumentException] {
      BloomWarehouse.compact(spark, full)
    }
  }

  test("probe has no false negatives vs exact gram membership, FPs within bound") {
    val path = BloomWarehouse.builtPath(spark, Dir)
    val flagged = BloomWarehouse.probe(spark, Dir, path).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_flagged_grams")).toMap
    // exact contamination: train docs sharing an 8-gram hash with the
    // eval split (the d_decontaminate semantics on the same split)
    val d = docsWithBucket
    def grams(f: org.apache.spark.sql.DataFrame) =
      f.select(col("doc_id"),
        explode(graft.functions.GramHashes(words(col("text")), 8)).as("hsh"))
    val exact = grams(d.filter(col("bucket") < 80))
      .join(grams(d.filter(col("bucket") >= 90))
        .select(col("hsh")).distinct(), Seq("hsh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("hsh")).as("n")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    assert(exact.nonEmpty, "planted corpus has no contamination to flag")
    for ((id, n) <- exact) {
      assert(flagged.contains(id), s"false negative: doc $id not flagged")
      assert(flagged(id) >= n, s"doc $id flagged ${flagged(id)} < exact $n grams")
    }
    // FP budget: at fpp 1e-6 over ≤ millions of probed grams, spurious
    // flags should be essentially absent — allow a whisker
    val spurious = flagged.keySet -- exact.keySet
    assert(spurious.size <= math.max(1, flagged.size / 100),
      s"${spurious.size} spuriously flagged docs of ${flagged.size}")
  }

  test("the probe's eval side is the stored filter — no eval docs rescan in the plan") {
    val path = BloomWarehouse.builtPath(spark, Dir)
    val plan = BloomWarehouse.probe(spark, Dir, path)
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // exactly the TRAIN-side documents scan; the eval set reaches the
    // plan only as the BloomContains literal
    assert(scans.size == 1, s"expected 1 scan, got ${scans.size}")
    assert(plan.toString.contains("bloom_contains") ||
      plan.toString.toLowerCase.contains("bloomcontains"),
      "filter literal not in the probe plan")
  }
}
