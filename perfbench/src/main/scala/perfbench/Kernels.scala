package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{BpeEncode, GramHashes, MinHashSig, VectorFunctions}
import graft.functions.TextFunctions.words
import graft.sources.Tables

/** Microbench of the native column builders: a noop-written select of
  * the kernel over an input pinned in memory, minus a noop-written
  * select of the bare input, per row. */
object Kernels {
  private val Reps = 5

  /** `df` repeated up to about `rows` rows and pinned, so a run times
    * the kernel rather than file reads. */
  private def pinned(df: DataFrame, rows: Long): DataFrame = {
    val reps = math.max(1L, rows / math.max(1L, df.count()))
    df.withColumn("_rep", explode(sequence(lit(1L), lit(reps)))).drop("_rep")
      .localCheckpoint()
  }

  private def nsPerRow(env: Env, in: DataFrame, bare: Column, kernel: Column): Double = {
    val rows = in.count()
    def time(c: Column): Double = {
      val t0 = System.nanoTime()
      env.noop(in.select(c.as("k")))
      (System.nanoTime() - t0).toDouble
    }
    time(bare); time(kernel)
    val runs = (1 to Reps).map(_ => (time(bare), time(kernel)))
    (Stats.median(runs.map(_._2)) - Stats.median(runs.map(_._1))) / rows
  }

  def run(env: Env): Seq[(String, Double)] = {
    val t = Tables(env.spark, env.data)
    val vecs = pinned(t.embeddings.select(VectorFunctions.toDouble(col("embedding")).as("v")), 400000)
    val toks = pinned(t.documents.select(words(col("text")).as("w")), 40000)
    val sets = t.documents.select(col("doc_id"),
      array_sort(GramHashes(words(col("text")), 3)).as("s"))
    val pairs = pinned(sets.as("a").join(sets.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(col("a.s").as("a"), col("b.s").as("b")), 100000)
    val merges = Seq("the" -> "spark", "spark" -> "window", "a" -> "table",
      "data" -> "small", "join" -> "filter", "group" -> "hash",
      "sort" -> "order", "row" -> "agg")
    Seq(
      "functions.dot_ns_per_row" -> nsPerRow(env, vecs, col("v"),
        VectorFunctions.dot(col("v"), col("v"))),
      "functions.minhash_sig_ns_per_row" -> nsPerRow(env, toks, col("w"),
        MinHashSig(col("w"), 3, 128)),
      "functions.sorted_intersect_ns_per_row" -> nsPerRow(env, pairs, col("a"),
        VectorFunctions.sortedIntersectCount(col("a"), col("b"))),
      "functions.bpe_encode_ns_per_row" -> nsPerRow(env, toks, col("w"),
        BpeEncode(col("w"), merges)))
  }
}
