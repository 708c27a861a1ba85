package graft

import org.apache.spark.sql.functions._
import graft.dedup.EditDist

/** d_dedup_editdist: the Ed-Join staged plan must equal the naive
  * all-pairs levenshtein join exactly, including the micro-doc stratum
  * the gram count bound cannot cover. */
class EditDistSpec extends GraftSpec {
  import spark.implicits._

  /** The all-pairs reference: unbanded levenshtein on every pair
    * within the length band.  The band pairs are pinned first, so the
    * distance runs on those pairs only — never inside the nested-loop
    * join, where the optimizer may evaluate it on every pair. */
  private def naive(docs: org.apache.spark.sql.DataFrame, d: Int) = {
    val t = docs.select(col("doc_id"), col("text"), length(col("text")).as("len"))
    t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id") &&
        abs(col("a.len") - col("b.len")) <= d)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.text").as("a_text"), col("b.text").as("b_text"))
      .localCheckpoint()
      .withColumn("ed", levenshtein(col("a_text"), col("b_text")))
      .filter(col("ed") <= d)
      .select(col("a_id"), col("b_id"), col("ed").cast("bigint").as("ed"))
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private lazy val corpus = graft.sources.Tables(spark, Dir).documents

  /** The corpus reference at d = 10, computed once per suite. */
  private lazy val corpusNaive = asSet(naive(corpus, d = 10))

  test("staged pairs equal the naive join on the corpus") {
    val staged = asSet(EditDist.stages(corpus, d = 10).pairs)
    val expected = corpusNaive
    assert(expected.nonEmpty, "corpus has no ed<=10 pairs - test is vacuous")
    assert(staged == expected,
      s"missed ${(expected -- staged).size}, extra ${(staged -- expected).size}")
  }

  test("micro-doc stratum: zero-shared-gram pairs within budget are found") {
    // two wholly different 10-char strings: ed = 10 <= d, but they share
    // no char gram — only the quadratic short stratum can emit this pair
    val docs = Seq(
      (1L, "abcdefghij"), (2L, "klmnopqrst"),
      (3L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val got = asSet(EditDist.stages(docs, d = 10).pairs)
    assert(got == asSet(naive(docs, d = 10)))
    assert(got.contains((1L, 2L, 10L)))
  }

  test("exact duplicates and boundary distances carry the exact ed") {
    val base = "a document long enough that every gram is rare here ok"
    val docs = Seq(
      (1L, base), (2L, base),                        // ed 0
      (3L, base + " plus exactly ten!"),             // +18 chars: ed 18 > 10, dropped
      (4L, base.replace("rare", "ra-e"))             // 1 substitution
    ).toDF("doc_id", "text")
    val got = asSet(EditDist.stages(docs, d = 10).pairs)
    assert(got == asSet(naive(docs, d = 10)))
    assert(got.contains((1L, 2L, 0L)) && got.contains((1L, 4L, 1L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefix index is bounded: <= q*d+1 rows per doc regardless of length") {
    val st = EditDist.stages(corpus, d = 10)
    val nDocs = corpus.count()
    val perDocMax = st.prefix.groupBy(col("doc_id")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(perDocMax <= 4 * 10 + 1,
      s"per-doc prefix $perDocMax exceeds q*d+1") // q=4, d=10
    assert(st.prefix.count() <= nDocs * (4 * 10 + 1))
    assert(st.collisions.count() > 0 && corpusNaive.nonEmpty)
  }

  test("cap-starved boilerplate docs still pair (quadratic fallback)") {
    // 25 identical long docs: every gram has freq 25 > the cap floor
    // (greatest(25*0.1, 20) = 20), so the whole prefix is capped away
    // and the count-bound argument is vacuous — only the starved
    // stratum can emit these 300 ed=0 pairs.  This is the corpus the
    // pre-round-7 length-threshold stratum silently missed.
    val boiler = "a boilerplate header repeated verbatim across every single document"
    val docs = spark.range(25).selectExpr("id as doc_id", s"'$boiler' as text")
    val got = asSet(EditDist.stages(docs, d = 10).pairs)
    assert(got == asSet(naive(docs, d = 10)))
    assert(got.size == 25 * 24 / 2 && got.forall(_._3 == 0L))
  }
}
