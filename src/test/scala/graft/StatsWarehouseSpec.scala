package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, StatsWarehouse}

/** The length-histogram warehouse contract: refresh == one-shot
  * rebuild bit-for-bit (integer-sum associativity), the
  * histogram-served profile equals the inline d_corpus_stats
  * row-for-row including the fixed-point percentile numerators (what
  * backs the verbatim oracle share), the probe plan never rescans
  * documents, compaction is probe-invariant, and the streaming twin
  * folds micro-batches to the same index.
  */
class StatsWarehouseSpec extends RollupLawRows {

  // lifecycle laws — defined once in RollupLawsSpec
  lawRow("refresh equals the one-shot rebuild bit-for-bit",
    RollupLaws.Refresh, "stats")
  lawRow("the probe-side merge scans ONLY the warehouse — zero documents scans",
    RollupLaws.Scan, "stats")
  lawRow("compaction is probe-bit-invariant and leaves one row per key",
    RollupLaws.Compact, "stats")
  lawRow("streaming refresh across micro-batches equals the one-shot fold",
    RollupLaws.Stream, "stats")
  lawRow("RETRACT: negative deltas == rebuild-on-survivors, bit-for-bit on the merged state",
    RollupLaws.Retract, "stats")

  test("histogram-served profile equals inline d_corpus_stats row-for-row") {
    val path = StatsWarehouse.builtPath(spark, Dir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
    val probe = StatsWarehouse.statsProbe(spark, path)
      .collect().map(key).toSet
    val inline = CorpusStats.corpusStats(spark, Dir).collect().map(key).toSet
    assert(probe == inline,
      s"probeOnly=${probe -- inline} inlineOnly=${inline -- probe}")
    assert(probe.nonEmpty)
  }

  test("rank reconstruction matches the sorted-array pctx on a skewed planted corpus") {
    val s = spark
    import s.implicits._
    // heavy ties + a singleton lang: the two places rank arithmetic
    // can slip (repeated values spanning ranks; n = 1 clamps rank_hi)
    val docs = (1L to 9L).map(i =>
        (i, if (i <= 6) "a b c" else ("w " * i.toInt).trim, "en")) :+
      (10L, "solo", "xx")
    val df = docs.toDF("doc_id", "text", "lang")
    val inline = CorpusStats.corpusStatsOf(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val hist = StatsWarehouse.statsOfHist(
      df.select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("nw"),
          length(col("text")).cast("long").as("nc"))
        .groupBy(col("lang"), col("nw"))
        .agg(count(lit(1)).as("cnt"), sum(col("nc")).as("ncs")))
      .collect().map(r => r.getString(0) -> r).toMap
    for (lang <- Seq("en", "xx"); c <- Seq("n_docs", "n_tokens", "min_tokens",
        "max_tokens", "p50_x100", "p90_x100", "p99_x100", "avg_chars_x10000"))
      assert(hist(lang).getAs[Long](c) == inline(lang).getAs[Long](c),
        s"$lang.$c: hist=${hist(lang).getAs[Long](c)} inline=${inline(lang).getAs[Long](c)}")
  }

  test("randomized corpora: rank reconstruction equals the sorted-array path (seeded)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42) // fixed seed — deterministic
    for (trial <- 1 to 5) {
      // skew knobs per trial: few/many docs, heavy ties, 1-3 langs
      val langs = Seq("aa", "bb", "cc").take(1 + rnd.nextInt(3))
      val docs = (1L to (1 + rnd.nextInt(40)).toLong).map { i =>
        val nw = 1 + rnd.nextInt(if (trial % 2 == 0) 4 else 30) // ties vs spread
        (i, Seq.fill(nw)("w").mkString(" "), langs(rnd.nextInt(langs.size)))
      }
      val df = docs.toDF("doc_id", "text", "lang")
      val inline = CorpusStats.corpusStatsOf(df).collect()
        .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val hist = StatsWarehouse.statsOfHist(
        df.select(col("lang"),
            size(split(col("text"), " ")).cast("long").as("nw"),
            length(col("text")).cast("long").as("nc"))
          .groupBy(col("lang"), col("nw"))
          .agg(count(lit(1)).as("cnt"), sum(col("nc")).as("ncs")))
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(hist == inline, s"trial $trial: hist=$hist inline=$inline")
    }
  }

}
