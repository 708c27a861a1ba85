package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** VERDICT-r09 ask #7: one-shot scale spot-check of the most
  * expensive bench rows beyond the largest driver-generated SF.  No
  * sf1 testdata exists in this sandbox (TESTDATA.md: sf0.001/0.01/
  * 0.1 only), so the 10× corpus is DERIVED from sf0.1: documents
  * replicate with REPLICA-PREFIXED words (word w of replica r becomes
  * "r<r>_w"), which makes replicas pairwise-dissimilar in EVERY
  * channel — disjoint shingles, disjoint char grams, distinct md5 —
  * so the derived corpus is `reps` disjoint shards, each isomorphic
  * to sf0.1: a corpus with sf0.1's duplicate DENSITY at reps× the
  * volume, the linear-scaling regime a real 10× crawl has.  (Contrast
  * StressBench, which replicates text VERBATIM on purpose — the
  * re-crawl clique regime; both regimes are now measured.)
  * Embeddings replicate with fresh ids only — the trainers never pair
  * replicas, so verbatim vectors are already the linear regime.  Ids
  * remap as r·10⁶ + id: 10⁶ ≡ 0 (mod 10), so every registered mod-10
  * split keeps its per-shard semantics.
  *
  * Timing: ONE rep per query (the ask's shape) after a tiny-SF warm
  * pass.  Run at reps=1 first for the same-generator baseline — the
  * ratio vs reps=10 is the scaling measurement (comparing against
  * BENCH rows would confound the word-prefix perturbation). */
object ScaleCheck {

  /** The five most expensive BENCH_r09 rows (the ask's list) — the
    * default; extra args override (any registered query whose inputs
    * are documents/embeddings, the two tables `derive` replicates). */
  private val Queries = Seq("s_logreg_ovr5", "d_dedup_groups_lsh",
    "d_dedup_simhash_verified", "s_bm25_probe_compacted", "d_dedup_editdist")

  private def derive(spark: SparkSession, srcDir: String, outDir: String,
      reps: Int): Unit = {
    val t = graft.sources.Tables(spark, srcDir)
    val rep = spark.range(reps).toDF("r")
    t.documents.crossJoin(rep)
      .select((col("r") * 1000000L + col("doc_id")).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(lit("r"), col("r"), lit("_"), w)), " ").as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    t.embeddings.crossJoin(rep)
      .select((col("r") * 1000000L + col("vec_id")).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // orders/lineitem replicate with stride-remapped keys (round 13 —
    // the join-view verbs joined the checkable set): 10⁷ ≡ 0 mod 10,
    // so the mod-10 splits keep per-shard semantics; dates are kept,
    // so the year-cadence build sees the same calendar at reps× rows
    t.orders.crossJoin(rep)
      .withColumn("o_orderkey", col("r") * 10000000L + col("o_orderkey"))
      .drop("r")
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    t.lineitem.crossJoin(rep)
      .withColumn("l_orderkey", col("r") * 10000000L + col("l_orderkey"))
      .drop("r")
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
  }

  /** VERDICT-r13 ask #3's complexity-class measurement: encode the
    * corpus under a DELIBERATELY LARGE merge table — `r` synthetic
    * merges over the corpus's most frequent bigrams (all inputs are
    * base words, so the list is trivially training-ordered and many
    * merges really fire) — once with the production greedy apply and
    * once with the literal R-sweep pinned (`BpeEncode.sweep`).  The
    * sweep is O(len · R) per row, the greedy apply O(len · log len)
    * independent of R: at R in the thousands the ratio IS the
    * demonstration (equality of the two outputs is asserted on a
    * sample first — same semantics, different cost).  Run with
    * `bpe_big_r` in the query list; prints its own SCALE rows. */
  private def bpeBigR(spark: SparkSession, src: String, r: Int): Unit = {
    import graft.functions.TextFunctions.words
    val docs = graft.sources.Tables(spark, src).documents
      .select(col("doc_id"), col("text")).localCheckpoint()
    val bigrams = docs
      .select(words(col("text")).as("w"))
      .select(posexplode(col("w")).as(Seq("i", "a")),
        try_element_at(col("w"), col("i") + 2).as("b"))
      .filter(col("b").isNotNull)
      .groupBy(col("a"), col("b")).count()
      .orderBy(col("count").desc, col("a"), col("b")).limit(r)
      .collect().map(x => (x.getString(0), x.getString(1))).toSeq
    // the corpus's bigram domain caps the head of the list; pad to the
    // requested R by pairing earlier OUTPUTS (still training-ordered —
    // every input is produced strictly earlier), the shape a deep real
    // vocabulary's upper ranks take
    val merges = {
      val buf = scala.collection.mutable.ArrayBuffer(bigrams: _*)
      var level = bigrams.map { case (a, b) => s"$a $b" }
      while (buf.size < r && level.size >= 2) {
        val next = level.grouped(2).collect { case Seq(x, y) => (x, y) }
          .take(r - buf.size).toSeq
        buf ++= next
        level = next.map { case (a, b) => s"$a $b" }
      }
      buf.toSeq
    }
    println(s"SCALE bpe_big_r merges=${merges.size}")
    val greedyCol = graft.functions.BpeEncode(words(col("text")), merges)
    val sweepCol = graft.functions.BpeEncode.sweep(words(col("text")), merges)
    // same semantics first: bit-identical encodings on a sample
    val sample = docs.filter(col("doc_id") < 200)
    val diverged = sample.select(greedyCol.as("g"), sweepCol.as("s"))
      .filter(col("g") =!= col("s")).count()
    require(diverged == 0, s"greedy != sweep on $diverged sample rows")
    def time(c: org.apache.spark.sql.Column, tag: String): Unit = {
      val (_, t) = Measure.timed(Measure.sink(docs.select(col("doc_id"), size(c).as("n"))))
      println(f"SCALE bpe_big_r $tag R=${merges.size} $t%.2f")
      System.out.flush()
    }
    time(greedyCol, "warm") // codegen/classload off the clock
    time(sweepCol, "sweep")
    time(greedyCol, "greedy")
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 10
    val queries0 = if (args.length > 2) args.drop(2).toSeq else Queries
    val out = s"target/scalecheck-x$reps"
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (queries0.contains("bpe_big_r")) bpeBigR(spark, src, r = 2048)
    val queries = queries0.filterNot(_ == "bpe_big_r")
    if (queries.isEmpty) { spark.stop(); return }
    derive(spark, src, out, reps)
    Measure.warm(spark, queries)
    queries.foreach { n =>
      val (_, t) = Measure.timed(Measure.sink(SparkEntry.queries(n)(spark, out)))
      println(f"SCALE x$reps $n $t%.2f")
      System.out.flush()
    }
    spark.stop()
  }
}
