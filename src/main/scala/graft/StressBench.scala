package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stress probes for the dedup/CC/LSH family BEYOND the largest
  * generated SF: replicate the corpus `Reps`× with distinct doc_ids
  * (the re-crawl scenario — every doc becomes an exact-dup clique),
  * then run the pair pipelines and connected components over the
  * inflated corpus.  `probesJson` is embedded in Bench's output line
  * (the `stress` key) so the beyond-ceiling behavior is regression-
  * tracked round over round instead of living in SURVEY prose;
  * the standalone main prints the same object. */
object StressBench {

  /** Run every probe on a `reps`×-replicated corpus; returns one JSON
    * object (no newline).  Probes run once each — they are volume
    * checks (candidate/pair/group counts must scale with output, and
    * the counts are the regression signal; times are secondary on a
    * host whose throughput drifts). */
  def probesJson(spark: SparkSession, sfDir: String, reps: Int): String = {
    val base = graft.sources.Tables(spark, sfDir).documents
    val rep = spark.range(reps).toDF("r")
    // distinct ids per replica; same text -> reps-cliques of exact dups
    val docs = base.crossJoin(rep)
      .select((col("doc_id") * reps + col("r")).as("doc_id"), col("text"))
    val nDocs = docs.count()

    val (nPairs, tPairs) = Measure.timed {
      graft.dedup.Dedup.ngramStages(docs, maxDfRatio = 0.1).pairs.count()
    }
    val (nGroups, tCc) = Measure.timed {
      val hashed = docs.select(md5(col("text")).as("h"), col("doc_id"))
      val exactPairs = hashed.as("x")
        .join(hashed.as("y"), col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      val pairs = graft.dedup.Dedup.ngramStages(docs, maxDfRatio = 0.1).pairs
        .select(col("a_id"), col("b_id")).union(exactPairs).distinct()
      graft.dedup.Dedup.connectedComponents(docs.select(col("doc_id")), pairs)
        .select(col("group_id")).distinct().count()
    }
    // MinHash banded candidates on the same 8-clique corpus — the
    // exactly-once emission path: every dup pair agrees on ~all 32
    // bands, so this is precisely the corpus where the old
    // dropDuplicates aggregate paid ~32× the true candidate volume
    val (nMinhashCand, tMinhash) = Measure.timed {
      graft.dedup.Dedup.minhashBandCandidates(docs).count()
    }

    // embedding near-dup at the PRODUCTION gate (0.95, 16 bands × 8
    // bits — the parameterization documented in Dedup.cosinePairs):
    // replicas are exact vector copies, so every base vector becomes a
    // reps-clique of cosine-1.0 pairs the banding must recover.  The
    // 0.4 test gate is deliberately NOT stressed — it sits in the
    // verify-most-pairs regime where candidate count ~ n²/2 by design.
    val baseE = graft.sources.Tables(spark, sfDir).embeddings
      .select(col("vec_id"), graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val eRep = baseE.crossJoin(rep)
      .select((col("vec_id") * reps + col("r")).as("vec_id"), col("v"))
    val nVecs = eRep.count()
    val cliquePairs = (nVecs / reps) * (reps.toLong * (reps - 1) / 2)
    val (nCos, tCos) = Measure.timed {
      graft.dedup.Dedup.cosinePairsFrom(eRep, threshold = 0.95,
        bitsPerBand = 8, bands = 16).count()
    }
    // INCREMENTAL dedup against the warehouse at rest on the same
    // replicated corpus (base/incoming = doc_id mod 10 on the replica
    // ids): a replica pair shares its text, hence its SIGNATURE, so
    // every cross-split same-text pair is a certain candidate — no
    // banding probability involved — and inc_pairs must cover
    // inc_clique_pairs (cross-split replica pairs) exactly, plus
    // whatever genuine J ≥ 0.8 near-dups cross the split.  Counts are
    // the regression signal, as everywhere in this probe set.
    val cliqueInc = docs
      .select(pmod(col("doc_id"), lit(10)).as("m"), col("text"))
      .groupBy(col("text"))
      .agg(sum(when(col("m") < 8, 1L).otherwise(0L)).as("nb"),
        sum(when(col("m") >= 8, 1L).otherwise(0L)).as("ni"))
      .agg(sum(col("nb") * col("ni")).as("s")).head.getLong(0)
    val (nInc, tInc) = Measure.timed {
      val p = java.nio.file.Files
        .createTempDirectory("graft-stress-mhw-").toString + "/index"
      graft.dedup.MinHashWarehouse.materializeFrom(docs, p)
      graft.dedup.MinHashWarehouse.incrementalDedupFrom(spark, docs, p).count()
    }
    // edit-distance near-dup on the same 8-clique corpus: replica
    // pairs are ed = 0 CERTAINTIES (identical text), so editdist_pairs
    // must cover editdist_clique_pairs — the ngram clique-pair
    // lower-bound argument transfers verbatim.  Prefix grams are the
    // rarest per doc (freq ~1-8 at base, ×reps replicated — far below
    // the 0.1·n cap), so no doc starves into the quadratic stratum.
    val cliqueEd = (nDocs / reps) * (reps.toLong * (reps - 1) / 2)
    val (nEd, tEd) = Measure.timed {
      graft.dedup.EditDist.stages(docs, d = 10).pairs.count()
    }
    // covariance REPLICATION INVARIANCE: exact duplication scales every
    // moment by reps (n→8n, Σx→8Σx, Σxy→8Σxy), and the final statistic
    // (n·Σxy − Σx·Σy)/n² cancels the factor — so the 8× corpus must
    // serve the SAME 2 080 covariance entries as the 1× corpus at the
    // 9-dp round.  A scale-family probe with an EXACT expected value,
    // not just a lower bound: any drift in quantization, the moment
    // identity, or the decimal route shows as cov_equal < 2080.
    val (covEqual, tCov) = Measure.timed {
      val rawE = graft.sources.Tables(spark, sfDir).embeddings
      val eRep8 = rawE.crossJoin(rep)
        .select((col("vec_id") * reps + col("r")).as("vec_id"), col("embedding"))
      val one = graft.similarity.Pca.covFrom(rawE).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      graft.similarity.Pca.covFrom(eRep8).collect()
        .count(r => one((r.getLong(0), r.getLong(1))) == r.getDouble(2)).toLong
    }
    s"""{"stress":"dedup_cc","sf":"$sfDir","reps":$reps,"n_docs":$nDocs,""" +
      s""""editdist_pairs":$nEd,"editdist_clique_pairs":$cliqueEd,"editdist_sec":$tEd,""" +
      s""""ngram_pairs":$nPairs,"ngram_sec":$tPairs,"n_groups":$nGroups,"cc_sec":$tCc,""" +
      s""""minhash_cand":$nMinhashCand,"minhash_sec":$tMinhash,""" +
      s""""n_vecs":$nVecs,"cosine_pairs":$nCos,"cosine_clique_pairs":$cliquePairs,"cosine_sec":$tCos,""" +
      s""""inc_pairs":$nInc,"inc_clique_pairs":$cliqueInc,"inc_sec":$tInc,""" +
      s""""cov_equal":$covEqual,"cov_sec":$tCov}"""
  }

  /** The integer regression signals of a probesJson string, times and
    * string fields stripped — the compact form Bench's digest line
    * embeds under its byte budget (counts ARE the stress signal; the
    * full object with times stays on the detail line).  Also dropped
    * here: run INPUTS (reps, n_docs, n_vecs — constants of the sf,
    * nothing to drift) and the `*_clique_pairs` static lower bounds
    * (deterministic functions of reps; the detail line keeps them) —
    * the digest carries only counts that can MOVE. */
  def countsOnly(probes: String): String = {
    val inputs = Set("reps", "n_docs", "n_vecs")
    """"(\w+)":(\d+)(?=[,}])""".r.findAllMatchIn(probes)
      .filter(m => !inputs(m.group(1)) && !m.group(1).endsWith("_clique_pairs"))
      .map(m => "\"" + m.group(1) + "\":" + m.group(2))
      .mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 8
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(probesJson(spark, sfDir, reps))
    spark.stop()
  }
}
