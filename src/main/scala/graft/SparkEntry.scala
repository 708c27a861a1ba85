package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.operators._
import graft.similarity.{Bm25, Bm25Warehouse, Kmeans, Knn, Logreg, Pca, Pq, SemDedup}
import graft.streaming.StreamOps

/** The library boundary: the registry of every operator in SURVEY.md
  * §2, one `QuerySpec` row each.  A row names the query, its builder,
  * its DuckDB oracle SQL (or the reason it has none) and its bench
  * role.  `queries` and `oracleSql` are views of the rows.
  *
  * Conventions shared by builders and oracles (the correctness gate
  * hash-compares the two results after sorting columns by name):
  *  - every computed column is aliased identically on both sides;
  *  - sums/averages over raw fact rows go through DECIMAL(30,6)
  *    (graft.functions.Exact) so results are bit-identical regardless
  *    of partitioning/summation order;
  *  - timestamps are surfaced as epoch millis (unix_millis ⇔ epoch_ms)
  *    or DATE — never raw timestamps (ns/µs precision differs);
  *  - LIMIT queries carry a total order with a unique tiebreak key.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Olap.q1PricingSummary(spark, "/root/testdata/sf0.001")

  type Builder = (SparkSession, String) => DataFrame

  /** How a row's result is checked: DuckDB SQL that must give the
    * identical rows, or a one-line reason there is none, naming the
    * spec that checks the row instead. */
  sealed trait Check
  final case class Oracle(sql: String) extends Check
  final case class NoOracle(reason: String) extends Check

  /** Where `graft.Bench` times a row: in the headline rounds, in the
    * at-rest probe rounds, or not at all. */
  sealed trait Role
  case object Headline extends Role
  case object Probe extends Role
  case object Untimed extends Role

  /** One registered query.  `warehoused` marks a timed row whose first
    * run builds a warehouse once per JVM; Bench runs those once,
    * itemized and off the clock, so their timed rounds read at rest. */
  final case class QuerySpec(name: String, role: Role, build: Builder,
      check: Check, warehoused: Boolean = false)

  // DuckDB mirrors.  SUMX/AVGX == graft.functions.Exact.
  private def SUMX(e: String) = s"CAST(sum(CAST($e AS DECIMAL(30,6))) AS DOUBLE)"
  private def AVGX(e: String) = s"${SUMX(e)}/count(*)"
  // Bracketing-rank percentile NUMERATOR (100× the percentile, pure
  // BIGINT) over a pre-sorted list `arr` with group size `n_docs` —
  // the integer-exact mirror of CorpusStats.corpusStats' pctx.  No
  // final /100.0 or round(): the r04 driver run proved even that last
  // double step diverges across DuckDB versions (see the corpusStats
  // Scaladoc), so the fixed-point integer IS the output.
  private def PCTX(p: Int, alias: String) = {
    val lo = s"($p*(n_docs-1))//100"
    val rem = s"($p*(n_docs-1))%100"
    s"arr[CAST($lo+1 AS BIGINT)]*100 + " +
      s"(arr[CAST(least($lo+2, n_docs) AS BIGINT)] - arr[CAST($lo+1 AS BIGINT)])*($rem) AS $alias"
  }

  // Shared by s_knn_graph (direct build) and s_knn_graph_refresh
  // (incremental fold): the merge property makes them row-identical.
  private val SKnnGraphSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      |FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM p)
      |SELECT vec_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 5""".stripMargin

  // The mutual-kNN CTE chain (graph → top-k → mutual filter), shared
  // VERBATIM by s_knn_graph_mutual and s_cluster_mutual_knn (which
  // composes it with the recursive reachability closure — the
  // d_dedup_groups CC oracle pairing).
  private val SKnnMutualCtes =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      |FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM p),
      |g AS (SELECT vec_id, neighbor_id, cosine FROM r WHERE rnk <= 5),
      |m AS (SELECT f.vec_id AS a_id, f.neighbor_id AS b_id, f.cosine AS cosine
      |FROM g f JOIN g b ON f.vec_id = b.neighbor_id AND f.neighbor_id = b.vec_id
      |AND f.vec_id < f.neighbor_id)""".stripMargin

  // Shared by s_embed_cov (inline) and s_embed_cov_probe (warehouse):
  // associative integer moments make the two bit-equal by construction.
  private val SEmbedCovSql =
    """WITH g AS (SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS i,
      |CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qx
      |FROM embeddings, range(1, 65) AS t(i)),
      |s AS (SELECT i, sum(qx) AS sx FROM g GROUP BY 1),
      |p AS (SELECT a.i AS i, b.i AS j, sum(a.qx * b.qx) AS sxy
      |FROM g a JOIN g b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
      |SELECT p.i, p.j,
      |round(CAST(n.n * p.sxy - sa.sx * sb.sx AS DOUBLE) / (CAST(n.n AS DOUBLE) * n.n * 1e12), 9) AS cov
      |FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i CROSS JOIN n""".stripMargin

  // Hoisted oracle bodies reused by the d_corpus_funnel composition —
  // one definition, so funnel gates and per-signal queries can't drift.
  // The (nw, sw) sub-select and the 4-dp weight expression are hoisted
  // one level further: d_sample_weighted races on the SAME quality
  // weight, so a change to TextAnalysis.qualityScoreCol's mirror must
  // hit both oracles through one constant or not at all.
  private val TQualityNwSwSql =
    """SELECT doc_id,
      |CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
      |CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) AS sw
      |FROM documents""".stripMargin
  private val TQualityScoreExpr =
    "round(least(nw / 100.0, 1.0) * (0.5 + 0.5 * (sw / nw)), 4)"
  private val TQualitySql =
    s"""WITH x AS (SELECT q.doc_id AS doc_id, q.nw AS nw, q.sw AS sw,
      |CAST(length(d.text) AS DOUBLE) AS nc,
      |CAST(len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
      |  - CAST(len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+')) AS BIGINT) AS np
      |FROM ($TQualityNwSwSql) q JOIN documents d ON q.doc_id = d.doc_id)
      |SELECT doc_id, CAST(nw AS BIGINT) AS n_words, round(nc / nw, 4) AS avg_word_len,
      |np AS n_punct, round(sw / nw, 4) AS stopword_ratio,
      |$TQualityScoreExpr AS quality_score FROM x""".stripMargin
  private val TLangidSql =
    """WITH h AS (SELECT doc_id,
      |CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS en_hits,
      |CAST(len(list_filter(string_split(text, ' '), x -> x IN ('el','la','de','que','y','en'))) AS BIGINT) AS es_hits,
      |CAST(len(list_filter(string_split(text, ' '), x -> x IN ('der','die','und','das','ist','ein'))) AS BIGINT) AS de_hits,
      |CAST(len(list_filter(string_split(text, ' '), x -> x IN ('le','la','de','et','un','est'))) AS BIGINT) AS fr_hits
      |FROM documents)
      |SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
      |CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
      |WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
      |WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
      |WHEN fr_hits > 0 THEN 'fr' ELSE 'unknown' END AS pred_lang FROM h""".stripMargin
  private val TRepetitionSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      |g AS (SELECT doc_id, a,
      |CASE WHEN len(a) >= 2 THEN list_transform(generate_series(1, len(a)-1), i -> a[i] || ' ' || a[i+1]) ELSE [] END AS g2,
      |CASE WHEN len(a) >= 3 THEN list_transform(generate_series(1, len(a)-2), i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2]) ELSE [] END AS g3
      |FROM w),
      |d AS (SELECT doc_id,
      |CASE WHEN len(g2) > 0 THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)/len(g2) ELSE 0.0 END AS dup2,
      |CASE WHEN len(g3) > 0 THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/len(g3) ELSE 0.0 END AS dup3
      |FROM g),
      |t AS (SELECT doc_id, token, count(*) AS cnt
      |FROM (SELECT doc_id, unnest(a) AS token FROM w) GROUP BY 1, 2),
      |tt AS (SELECT doc_id, sum(cnt) AS n_words, max(cnt) AS top_cnt FROM t GROUP BY 1)
      |SELECT d.doc_id, CAST(tt.n_words AS BIGINT) AS n_words,
      |round(CAST(tt.top_cnt AS DOUBLE)/tt.n_words, 4) AS top_word_frac,
      |round(d.dup2, 4) AS dup_2gram_frac, round(d.dup3, 4) AS dup_3gram_frac,
      |CAST(CAST(tt.top_cnt AS DOUBLE)/tt.n_words > 0.12 OR d.dup2 > 0.1 OR d.dup3 > 0.05 AS BIGINT) AS repetitive
      |FROM d JOIN tt ON d.doc_id = tt.doc_id""".stripMargin
  // one SQL body for BOTH range-search plans: the brute scan is the
  // definition, and the LSH-banded plan is recall-1.0 on the fixed
  // corpus+seed so it is held to the identical exact answer
  // parameterized on the CORPUS-side survivor predicate so the
  // warehouse retraction twin runs the identical text over the
  // survivors (queries are external — the takedown slice avoids them)
  private def sRangeSearchSqlOver(where: String) =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |FROM embeddings WHERE vec_id < 10)
      |SELECT query_id, vec_id,
      |round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cosine
      |FROM embeddings, q WHERE vec_id <> query_id$where
      |AND round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) >= 0.3""".stripMargin
  private val SRangeSearchSql = sRangeSearchSqlOver("")
  private val SRangeSearchRetractedSql =
    sRangeSearchSqlOver(" AND NOT (vec_id % 5 = 3 AND vec_id >= 10)")
  // one SQL body for BOTH the refreshed and the refreshed+compacted
  // warehouse probes: compaction merges delta rows without changing
  // any sum, so the compacted index is held to the identical answer
  private def sBm25ProbeSqlVs(basePred: String) =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |bt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk
      |WHERE $basePred GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM bt GROUP BY 1),
      |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |FROM documents WHERE $basePred),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len) AS BIGINT) AS sl FROM dl),
      |q AS (SELECT DISTINCT doc_id AS query_id, term FROM tk
      |WHERE doc_id % 10 >= 8 AND doc_id < 1000),
      |s AS (SELECT q.query_id, bt.doc_id AS doc_id,
      |CAST(sum(CAST(round(
      |  ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
      |  ((bt.tf * 2.2) / (bt.tf + 1.2 * (0.25 + 0.75 * (dl.len / (CAST(st.sl AS DOUBLE) / st.n)))))
      |, 9) AS DECIMAL(30,6))) AS DOUBLE) AS score
      |FROM bt
      |JOIN q ON bt.term = q.term
      |JOIN df ON bt.term = df.term
      |JOIN dl ON bt.doc_id = dl.doc_id
      |CROSS JOIN st
      |GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, round(score, 4) AS bm25,
      |row_number() OVER (PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id) AS rnk FROM s)
      |SELECT query_id, doc_id, bm25, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 10""".stripMargin
  private val SBm25ProbeSql = sBm25ProbeSqlVs("doc_id % 10 < 8")
  // one SQL body for BOTH the refreshed and the refreshed+compacted
  // bigram-LM probes (the SBm25ProbeSql pairing): compaction merges
  // delta rows under integer sums, so the compacted index is held to
  // the identical answer
  private def tPerplexityBigramProbeSqlVs(basePred: String) =
    s"""WITH tk AS (SELECT doc_id,
      |CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
      |unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id % 10 >= 8 AND doc_id < 1000),
      |bt AS (SELECT doc_id,
      |CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
      |unnest(string_split(text, ' ')) AS w FROM documents WHERE $basePred),
      |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM bt GROUP BY 1),
      |c2 AS (SELECT a.w AS pw, b.w AS w, CAST(count(*) AS BIGINT) AS c2
      |FROM bt a JOIN bt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 GROUP BY 1, 2),
      |st AS (SELECT (SELECT count(*) FROM bt) + (SELECT count(DISTINCT w) FROM bt) + 1 AS denom),
      |sc AS (SELECT t.doc_id,
      |CASE WHEN p.w IS NULL THEN round(-ln((coalesce(u.c1, 0) + 1.0) / st.denom), 9)
      |WHEN b2.c2 IS NOT NULL THEN round(-ln(CAST(b2.c2 AS DOUBLE) / up.c1), 9)
      |ELSE round(-ln(0.4 * (coalesce(u.c1, 0) + 1.0) / st.denom), 9) END AS nll_tok,
      |CASE WHEN b2.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit
      |FROM tk t CROSS JOIN st
      |LEFT JOIN tk p ON t.doc_id = p.doc_id AND p.pos = t.pos - 1
      |LEFT JOIN c1 u ON t.w = u.w
      |LEFT JOIN c1 up ON p.w = up.w
      |LEFT JOIN c2 b2 ON p.w = b2.pw AND t.w = b2.w)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |CAST(sum(hit) AS BIGINT) AS bigram_hits,
      |round(CAST(sum(CAST(nll_tok AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS nll
      |FROM sc GROUP BY 1""".stripMargin
  private val TPerplexityBigramProbeSql =
    tPerplexityBigramProbeSqlVs("doc_id % 10 < 8")
  // rebuild-on-survivors: the identical bigram text over base \u2216 removed
  private val TPerplexityBigramProbeRetractedSql =
    tPerplexityBigramProbeSqlVs("doc_id % 10 < 7")

  // parameterized ONLY on the base predicate so the retraction
  // demonstration runs the IDENTICAL text over base ∖ removed
  private def tPerplexityProbeSqlVs(basePred: String) =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE $basePred),
      |lm AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS nb, CAST(count(DISTINCT term) AS BIGINT) AS v FROM tk),
      |pk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE doc_id % 10 >= 8 AND doc_id < 1000)
      |SELECT pk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |round(CAST(sum(CAST(round(-ln((COALESCE(lm.cnt, 0) + 1.0) / CAST(st.nb + st.v + 1 AS DOUBLE)), 9) AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS nll
      |FROM pk LEFT JOIN lm ON pk.term = lm.term CROSS JOIN st GROUP BY 1""".stripMargin
  private val TPerplexityProbeSql = tPerplexityProbeSqlVs("doc_id % 10 < 8")
  // CC body hoisted so d_split_leakage_safe's oracle composes the
  // SAME group structure it assigns splits over (the composition
  // rule); parameterized ONLY on the corpus predicate so the
  // retraction demonstration runs the IDENTICAL text over the
  // survivor corpus (an empty predicate reproduces the round-7 body
  // through a pass-through docs CTE)
  private def dDedupGroupsSqlOver(where: String) =
    s"""WITH RECURSIVE
      |docs AS (SELECT doc_id, text FROM documents$where),
      |w AS (SELECT doc_id, string_split(text, ' ') AS a FROM docs),""".stripMargin +
    """
      |sh AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
      |FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 2, 0))) AS i) t),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |np AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter
      |FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
      |ngram_pairs AS (SELECT a_id, b_id FROM np JOIN sizes sa ON sa.doc_id = a_id
      |JOIN sizes sb ON sb.doc_id = b_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
      |exact_pairs AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id FROM docs x
      |JOIN docs y ON md5(x.text) = md5(y.text) AND x.doc_id < y.doc_id),
      |ed_pairs AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id
      |FROM docs x JOIN docs y
      |ON x.doc_id < y.doc_id AND abs(length(x.text) - length(y.text)) <= 10
      |WHERE levenshtein(x.text, y.text) <= 10),
      |pairs AS (SELECT * FROM ngram_pairs UNION SELECT * FROM exact_pairs
      |UNION SELECT * FROM ed_pairs),
      |edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
      |reach AS (SELECT doc_id AS u, doc_id AS v FROM docs
      |UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (SELECT u AS doc_id, min(v) AS group_id FROM reach GROUP BY 1)
      |SELECT doc_id, group_id, count(*) OVER (PARTITION BY group_id) AS group_size FROM comp""".stripMargin
  private val DDedupGroupsSql = dDedupGroupsSqlOver("")
  /** `sql` with every CTE except the recursive `reach` marked
    * `AS MATERIALIZED`, for oracles that read CTEs more than once:
    * DuckDB 1.0 evaluates an unmarked CTE again at each reference.
    * The marking changes DuckDB's evaluation, not the rows. */
  private def materializedCtes(sql: String): String =
    """\b(\w+) AS \(""".r.replaceAllIn(sql, m =>
      scala.util.matching.Regex.quoteReplacement(
        if (m.group(1) == "reach") m.matched else s"${m.group(1)} AS MATERIALIZED ("))
  // BM25 body hoisted so s_hybrid_rrf's oracle composes the SAME
  // lexical leg it fuses (the d_corpus_funnel composition rule).
  // Mirrors Bm25.bm25 token-for-token: ln's ≤1-ulp license is washed
  // out by the 9-dp round + DECIMAL(30,6) quantization before summing;
  // every other op is integer-derived IEEE-correctly-rounded; ordering
  // and the top-k cut compare the ROUNDED score with doc_id tiebreak.
  private val SBm25Sql =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len) AS BIGINT) AS sl FROM dl),
      |s AS (SELECT q.doc_id AS query_id, tf.doc_id AS doc_id,
      |CAST(sum(CAST(round(
      |  ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
      |  ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.len / (CAST(st.sl AS DOUBLE) / st.n)))))
      |, 9) AS DECIMAL(30,6))) AS DOUBLE) AS score
      |FROM tf
      |JOIN tf q ON tf.term = q.term AND q.doc_id < 10 AND tf.doc_id <> q.doc_id
      |JOIN df ON tf.term = df.term
      |JOIN dl ON tf.doc_id = dl.doc_id
      |CROSS JOIN st
      |GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, round(score, 4) AS bm25,
      |row_number() OVER (PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id) AS rnk FROM s)
      |SELECT query_id, doc_id, bm25, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 10""".stripMargin
  private val DSampleStratifiedSql =
    """WITH h AS (SELECT doc_id, lang,
      |('0x' || substring(md5(text), 1, 15))::BIGINT % 1000 AS bucket FROM documents)
      |SELECT doc_id, lang, bucket,
      |CAST(bucket < CASE WHEN lang = 'en' THEN 400 ELSE 1000 END AS BIGINT) AS kept FROM h""".stripMargin
  // hoisted (not inline in the map) so d_train_shards_read's oracle can
  // compose the SAME funnel body for its keep-filter — the composition
  // rule d_corpus_funnel itself follows
  private val DCorpusFunnelSql =
    s"""WITH q AS ($TQualitySql),
       |l AS ($TLangidSql),
       |r AS ($TRepetitionSql),
       |s AS ($DSampleStratifiedSql),
       |c AS (SELECT doc_id, CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS BIGINT) AS is_canonical FROM documents)
       |SELECT c.doc_id AS doc_id, c.is_canonical,
       |CAST(q.quality_score >= 0.25 AS BIGINT) AS quality_ok,
       |CAST(l.pred_lang <> 'unknown' AS BIGINT) AS lang_known,
       |s.kept AS sample_kept, r.repetitive,
       |CAST(c.is_canonical = 1 AND q.quality_score >= 0.25 AND l.pred_lang <> 'unknown'
       |  AND s.kept = 1 AND r.repetitive = 0 AS BIGINT) AS keep
       |FROM c JOIN q ON q.doc_id = c.doc_id JOIN l ON l.doc_id = c.doc_id
       |JOIN r ON r.doc_id = c.doc_id JOIN s ON s.doc_id = c.doc_id""".stripMargin

  // Hoisted regex-tokenizer pattern (mirrors TextFunctions
  // .regexTokenCount), shared VERBATIM by t_tokens and t_fertility —
  // a tokenizer change must hit both oracles or neither.
  private val TokenRegexSql = "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'"

  // Hoisted t_pack CTE chain (chunking + shard layout + per-shard
  // running sum), shared VERBATIM by t_pack and t_pack_stats — a
  // packing-layout change must hit both or neither.
  private lazy val TPackCtesSql =
    """w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      |c AS (SELECT doc_id, a,
      |CASE WHEN len(a) <= 64 THEN 1 ELSE 1 + (len(a) - 64 + 47) // 48 END AS n_chunks FROM w),
      |x AS (SELECT doc_id, a, i AS chunk_id
      |FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) t),
      |chunks AS (SELECT doc_id, chunk_id,
      |CAST(len(a[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT) AS n_tokens FROM x),
      |h AS (SELECT doc_id, ('0x' || substring(md5(text), 1, 15))::BIGINT AS h FROM documents),
      |layout AS (SELECT doc_id, h % 8 AS shard,
      |CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos FROM h),
      |s AS (SELECT c.doc_id, c.chunk_id, l.shard, l.pos, c.n_tokens,
      |sum(c.n_tokens) OVER (PARTITION BY l.shard ORDER BY l.pos, c.chunk_id) - c.n_tokens AS stream_offset
      |FROM chunks c JOIN layout l ON c.doc_id = l.doc_id)""".stripMargin

  private val DAILY =
    s"SELECT CAST(ts AS DATE) AS date, event_type AS denom, ${SUMX("value")} AS vol, " +
      s"count(*) AS n, ${AVGX("value")} AS avg_value FROM events GROUP BY 1, 2"

  // The zero-filled (date × event_type) daily grid both time-series
  // oracles start from — DECIMAL-exact sums, 3-dp round (mirrors
  // TimeSeries.dailyGrid; the grid must be DENSE so window offsets
  // align).  Parameterized ONLY on the events predicate so the
  // TsWarehouse retraction demonstration runs the identical text over
  // the surviving events (the qRichlistGiniSqlOver convention).
  private def tsGridSqlOver(where: String) =
    s"""daily AS (SELECT CAST(ts AS DATE) AS date, event_type,
       |round(${SUMX("value")}, 3) AS v FROM events$where GROUP BY 1, 2),
       |grid AS (SELECT d.date, t.event_type, COALESCE(daily.v, 0.0) AS v
       |FROM (SELECT DISTINCT date FROM daily) d
       |CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
       |LEFT JOIN daily ON daily.date = d.date AND daily.event_type = t.event_type)""".stripMargin

  private val TsGridSql = tsGridSqlOver("")

  // Explicit left-associative 7-term folds: SQL's binary + chains
  // left, which is the identical IEEE sequence to Spark's sequential
  // aggregate() fold (0 + t₁ + … ; 0 + t₁ == t₁ exactly).
  private def fold7(term: Int => String): String =
    (1 to 7).map(term).mkString(" + ")

  // Hoisted d_corpus_stats body, shared VERBATIM by the
  // histogram-served d_corpus_stats_probe (StatsWarehouse: integer
  // counts at rest reconstruct the exact distribution).
  private lazy val DCorpusStatsSql =
    s"""WITH x AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
       |CAST(length(text) AS BIGINT) AS nc FROM documents),
       |g AS (SELECT lang, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens,
       |min(nw) AS min_tokens, max(nw) AS max_tokens,
       |list_sort(list(nw)) AS arr, sum(nc) AS n_chars
       |FROM x GROUP BY 1)
       |SELECT lang, n_docs, n_tokens, min_tokens, max_tokens,
       |${PCTX(50, "p50_x100")},
       |${PCTX(90, "p90_x100")},
       |${PCTX(99, "p99_x100")},
       |CAST((n_chars*20000 + n_docs)//(2*n_docs) AS BIGINT) AS avg_chars_x10000 FROM g""".stripMargin

  // Hoisted q_ts_corr / q_ts_seasonal bodies, each shared VERBATIM by
  // its rollup-served probe (TsWarehouse: refresh bit-equal to
  // rebuild ⇒ every grid consumer holds its inline oracle).
  private lazy val QTsCorrSql =
    s"""WITH $TsGridSql,
       |g AS (SELECT date, event_type, CAST(floor(v * 1000 + 0.5) AS BIGINT) AS q FROM grid),
       |p AS (SELECT a.event_type AS etype_a, b.event_type AS etype_b,
       |CAST(count(*) AS BIGINT) AS n_days,
       |sum(a.q) AS sa, sum(b.q) AS sb, sum(a.q * b.q) AS sab,
       |sum(a.q * a.q) AS saa, sum(b.q * b.q) AS sbb
       |FROM g a JOIN g b ON a.date = b.date AND a.event_type < b.event_type GROUP BY 1, 2)
       |SELECT etype_a, etype_b, n_days,
       |CASE WHEN (n_days * saa - sa * sa) > 0 AND (n_days * sbb - sb * sb) > 0
       |THEN round(CAST(n_days * sab - sa * sb AS DOUBLE) /
       |sqrt(CAST(n_days * saa - sa * sa AS DOUBLE) * CAST(n_days * sbb - sb * sb AS DOUBLE)), 6)
       |END AS corr FROM p""".stripMargin

  private lazy val QTsSeasonalSql =
    s"""WITH $TsGridSql,
       |bd AS (SELECT event_type, CAST(dayofweek(date) + 1 AS BIGINT) AS dow,
       |CAST(count(*) AS BIGINT) AS n_days, round(${SUMX("v")}, 3) AS sum_v
       |FROM grid GROUP BY 1, 2),
       |ov AS (SELECT event_type, sum(n_days) AS tot_days,
       |round(${SUMX("sum_v")}, 3) AS tot_v FROM bd GROUP BY 1)
       |SELECT bd.event_type, dow, n_days,
       |round(sum_v / n_days, 6) AS dow_mean,
       |CASE WHEN tot_v <> 0 THEN round((sum_v * tot_days) / (n_days * tot_v), 6)
       |END AS seasonal_idx
       |FROM bd JOIN ov ON bd.event_type = ov.event_type""".stripMargin

  // Hoisted q_ts_anomaly body, shared VERBATIM by the rollup-served
  // q_ts_anomaly_probe (TsWarehouse: refresh bit-equal to rebuild)
  // and — parameterized ONLY on the events predicate — by the
  // retraction demonstration (rebuild-on-base∖removed: the identical
  // text over the surviving events).
  private def qTsAnomalySqlOver(where: String) =
    s"""WITH ${tsGridSqlOver(where)},
       |di AS (SELECT date, row_number() OVER (ORDER BY date) AS dn
       |FROM (SELECT DISTINCT date FROM grid)),
       |gi AS (SELECT grid.*, di.dn FROM grid JOIN di USING (date)),
       |w0 AS (SELECT a.event_type, a.date, a.v,
       |array_agg(b.v ORDER BY b.dn) AS arr
       |FROM gi a JOIN gi b ON a.event_type = b.event_type
       |AND b.dn BETWEEN a.dn - 7 AND a.dn - 1
       |GROUP BY 1, 2, 3 HAVING count(*) = 7),
       |st AS (SELECT event_type, date, v, arr,
       |(${fold7(i => s"arr[$i]")}) / 7 AS mu FROM w0),
       |sd AS (SELECT event_type, date, v, mu,
       |sqrt((${fold7(i => s"(arr[$i] - mu) * (arr[$i] - mu)")}) / 7) AS sd FROM st)
       |SELECT event_type, date, v, round(mu, 6) AS baseline_mean,
       |round((v - mu) / sd, 6) AS z
       |FROM sd WHERE sd > 0
       |ORDER BY abs(round((v - mu) / sd, 6)) DESC, event_type, date LIMIT 10""".stripMargin

  private lazy val QTsAnomalySql = qTsAnomalySqlOver("")
  // rebuild-on-base∖removed: the identical anomaly text over the
  // events surviving TsWarehouse.isRetractedEvent
  private lazy val QTsAnomalyRetractedSql =
    qTsAnomalySqlOver(" WHERE event_id % 7 <> 0")

  // Hoisted q_vote_tally_latest body and the one-proposal deposit rows,
  // composed VERBATIM by q_proposal_detail (the corpus-funnel hoisting
  // discipline: a leg change must hit every composition or none).
  private lazy val QVoteTallyLatestSql =
    s"""WITH v AS (SELECT o_orderpriority, o_orderstatus, o_totalprice,
       |row_number() OVER (PARTITION BY o_orderpriority, o_custkey
       |ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
       |SELECT o_orderpriority AS proposal, o_orderstatus AS "option", count(*) AS votes,
       |round(${SUMX("o_totalprice")}, 2) AS voting_power FROM v WHERE rn = 1 GROUP BY 1, 2""".stripMargin
  private lazy val QDepositRowsAllSql =
    """SELECT o_orderpriority AS proposal, o_orderkey, o_custkey,
      |CAST(o_orderdate AS DATE) AS date, round(o_totalprice, 2) AS deposit
      |FROM orders""".stripMargin
  private lazy val QProposalDepositRowsSql =
    s"""SELECT o_orderkey, o_custkey, date, deposit FROM ($QDepositRowsAllSql)
       |WHERE proposal = '1-URGENT'""".stripMargin

  // Hoisted q_richlist_gini body (the naive row_number formula),
  // shared VERBATIM by the histogram-served q_richlist_gini_probe
  // (BalanceWarehouse: value-multiset-preserving integer histogram)
  // and — parameterized ONLY on the account predicate — by the
  // retraction demonstration (rebuild-on-base∖removed: the identical
  // text over the surviving accounts).
  private def qRichlistGiniSqlOver(where: String) =
    s"""WITH q AS (SELECT n_name AS denom, c_custkey,
      |CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS q
      |FROM customer JOIN nation ON c_nationkey = n_nationkey$where),""".stripMargin +
    """
      |r AS (SELECT denom, q,
      |CAST(row_number() OVER (PARTITION BY denom ORDER BY q, c_custkey) AS BIGINT) AS i FROM q),
      |g AS (SELECT denom, CAST(count(*) AS BIGINT) AS n_accounts,
      |sum(CAST(q AS DECIMAL(38,0))) AS sq,
      |sum(CAST(i * q AS DECIMAL(38,0))) AS siq FROM r GROUP BY 1)
      |SELECT denom, n_accounts, CAST(sq AS BIGINT) AS total_bal_x100,
      |CASE WHEN sq <> 0 THEN round(CAST(2 * siq - (n_accounts + 1) * sq AS DOUBLE) /
      |CAST(n_accounts * sq AS DOUBLE), 6) END AS gini
      |FROM g""".stripMargin

  // The join-rollup view JoinViewWarehouse maintains incrementally —
  // parameterized ONLY on the survivor predicate so the retraction
  // twin runs the identical text over base ∖ removed.  The Spark side
  // nests the DECIMAL sum per-orderkey (the pre-aggregated L-side map
  // state) where this text sums flat — equal by decimal associativity.
  private def qRevenueViewSqlOver(where: String) =
    s"""SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS year,
       |round(${SUMX("l_extendedprice * (1 - l_discount)")}, 4) AS revenue,
       |CAST(count(*) AS BIGINT) AS n_lines
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey$where
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // Hoisted q_richlist body, shared VERBATIM by the buffer-served
  // q_richlist_probe (RichlistWarehouse: top-K-preserving order-
  // statistic buffers + additive totals) and — parameterized ONLY on
  // the survivor predicate — by its retraction twin.
  private def qRichlistSqlOver(where: String) =
    s"""WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer$where),
       |t AS (SELECT ${SUMX("c_acctbal")} AS total_bal FROM c),
       |top AS (SELECT * FROM c ORDER BY c_acctbal DESC, c_custkey LIMIT 20)
       |SELECT c_custkey, c_name, round(c_acctbal, 2) AS balance,
       |round(c_acctbal / total_bal, 8) AS share FROM top, t""".stripMargin

  private lazy val QRichlistSql = qRichlistSqlOver("")
  private lazy val QRichlistRetractedSql =
    qRichlistSqlOver(" WHERE c_custkey % 3 <> 0")

  private lazy val QRichlistGiniSql = qRichlistGiniSqlOver("")
  // rebuild-on-base∖removed: the identical gini text over the
  // accounts surviving BalanceWarehouse.isRetractedCust
  private lazy val QRichlistGiniRetractedSql =
    qRichlistGiniSqlOver(" WHERE c_custkey % 3 <> 0")

  // Hoisted d_dedup_incremental body, parameterized ONLY on the
  // standing-side predicate so the retraction demonstration runs the
  // IDENTICAL text over base ∖ removed (tombstoned mod-7 docs out).
  private def dDedupIncrementalSqlVs(basePred: String) =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
       |sh AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
       |FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 2, 0))) AS i) t),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |pairs AS (SELECT x.doc_id AS new_id, y.doc_id AS base_id, count(*) AS inter
       |FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id % 10 >= 8 AND $basePred GROUP BY 1, 2)
       |SELECT new_id, base_id, round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
       |FROM pairs JOIN sizes sa ON sa.doc_id = new_id JOIN sizes sb ON sb.doc_id = base_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8""".stripMargin

  // Hoisted q_ts_decompose CTE chain, shared VERBATIM by the
  // rollup-served q_ts_decompose_probe (bit-equal grid — the
  // QTsAnomalySql pairing) and COMPOSED by q_ts_forecast (which
  // anchors on st's last trend and bd's dow means).
  // The decompose chain parameterized on its grid SOURCE, so the
  // backtest oracle can run the IDENTICAL text over the truncated
  // training grid (src = "tr") while the standing queries keep
  // src = "grid" — a leg change breaks every composition or none.
  private def tsDecomposeChain(src: String): String =
    s"""bd AS (SELECT event_type, CAST(dayofweek(date) + 1 AS BIGINT) AS dow,
       |CAST(count(*) AS BIGINT) AS n_days, round(${SUMX("v")}, 3) AS sum_v
       |FROM $src GROUP BY 1, 2),
       |adj AS (SELECT g.date, g.event_type, g.v,
       |round(sum_v / n_days, 6) AS dow_mean,
       |round(g.v - round(sum_v / n_days, 6), 6) AS adj
       |FROM $src g JOIN bd ON bd.event_type = g.event_type
       |AND bd.dow = dayofweek(g.date) + 1),
       |di AS (SELECT date, row_number() OVER (ORDER BY date) AS dn
       |FROM (SELECT DISTINCT date FROM adj)),
       |gi AS (SELECT adj.*, di.dn FROM adj JOIN di USING (date)),
       |w0 AS (SELECT a.event_type, a.date, a.v, a.dow_mean, a.adj,
       |array_agg(b.adj ORDER BY b.dn) AS arr
       |FROM gi a JOIN gi b ON a.event_type = b.event_type
       |AND b.dn BETWEEN a.dn - 7 AND a.dn - 1
       |GROUP BY 1, 2, 3, 4, 5 HAVING count(*) = 7),
       |st AS (SELECT event_type, date, v, dow_mean, adj,
       |(${fold7(i => s"arr[$i]")}) / 7 AS mu FROM w0)""".stripMargin

  private lazy val QTsDecomposeCtes =
    s"""$TsGridSql,
       |${tsDecomposeChain("grid")}""".stripMargin

  private lazy val QTsDecomposeSql =
    s"""WITH $QTsDecomposeCtes
       |SELECT event_type, date, v, dow_mean, adj AS adjusted,
       |round(mu, 6) AS trend, round(adj - mu, 6) AS residual FROM st""".stripMargin

  // Weekday-aware anomaly: z over the decompose residuals.  Σresidual
  // is exact DECIMAL(30,6) (6-dp values cast losslessly), Σresidual²
  // via a per-row DECIMAL(38,12) cast then exact summation; s/n is
  // recomputed per use — the identical IEEE division each time, so
  // the expression sequences match Spark's.  σ² ≤ 0 excluded both
  // sides; ordering compares the ROUNDED z with a total tiebreak.
  private lazy val QTsAnomalySeasonalSql =
    s"""WITH $QTsDecomposeCtes,
       |r2 AS (SELECT event_type, date, v, round(adj - mu, 6) AS residual FROM st),
       |ss AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |CAST(sum(CAST(residual AS DECIMAL(30,6))) AS DOUBLE) AS s,
       |CAST(sum(CAST(residual*residual AS DECIMAL(38,12))) AS DOUBLE) AS qq
       |FROM r2 GROUP BY 1),
       |zz AS (SELECT r2.event_type AS event_type, r2.date AS date, r2.v AS v, r2.residual AS residual,
       |round((residual - s/n) / sqrt(qq/n - (s/n)*(s/n)), 6) AS z_seasonal,
       |qq/n - (s/n)*(s/n) AS va
       |FROM r2 JOIN ss ON r2.event_type = ss.event_type)
       |SELECT event_type, date, v, residual, z_seasonal FROM zz WHERE va > 0
       |ORDER BY abs(z_seasonal) DESC, event_type, date LIMIT 10""".stripMargin

  // Seasonal-naive forecast: anchor = each series' last decomposed
  // trend (round(mu,6) — the registered trend column), target-day
  // seasonal = bd's dow mean; forecast = ONE IEEE add on identical
  // rounded doubles + round 6.  DuckDB dayofweek is 0-based → +1.
  // The forecast CTE block over whatever bd/st the preceding chain
  // produced — shared VERBATIM by q_ts_forecast{,_probe} and the
  // backtest (which runs it over the truncated chain).
  private lazy val TsForecastCtes =
    s"""dm AS (SELECT event_type, dow, round(sum_v / n_days, 6) AS dow_mean FROM bd),
       |anc AS (SELECT event_type, date AS last_date, round(mu, 6) AS last_trend,
       |row_number() OVER (PARTITION BY event_type ORDER BY date DESC) AS rn FROM st),
       |hz AS (SELECT event_type, last_date, last_trend, CAST(t.h AS BIGINT) AS steps
       |FROM anc, range(1, 8) AS t(h) WHERE rn = 1),
       |f AS (SELECT hz.event_type AS event_type,
       |last_date + CAST(steps AS INT) AS forecast_date, steps, last_trend,
       |CAST(dayofweek(last_date + CAST(steps AS INT)) + 1 AS BIGINT) AS dow FROM hz),
       |fc AS (SELECT f.event_type AS event_type, forecast_date, steps,
       |round(last_trend + dm.dow_mean, 6) AS forecast
       |FROM f JOIN dm ON f.event_type = dm.event_type AND f.dow = dm.dow)""".stripMargin

  private lazy val QTsForecastSql =
    s"""WITH $QTsDecomposeCtes,
       |$TsForecastCtes
       |SELECT event_type, forecast_date, steps, forecast FROM fc""".stripMargin

  // Holdout evaluation: the chain + forecast CTEs VERBATIM over the
  // training grid (dates ≤ max − 7), scored against the full grid's
  // actuals; MAE through the DECIMAL route.
  private lazy val QTsForecastBacktestSql =
    s"""WITH $TsGridSql,
       |cut AS (SELECT max(date) - 7 AS cutoff FROM grid),
       |tr AS (SELECT g.date, g.event_type, g.v FROM grid g, cut WHERE g.date <= cut.cutoff),
       |${tsDecomposeChain("tr")},
       |$TsForecastCtes
       |SELECT fc.event_type, CAST(count(*) AS BIGINT) AS n_scored,
       |round(${AVGX("abs(fc.forecast - g.v)")}, 6) AS mae
       |FROM fc JOIN grid g ON g.event_type = fc.event_type AND g.date = fc.forecast_date
       |GROUP BY 1""".stripMargin

  // q_gas_quantiles_{probe,window} oracle: quantiles of 4-dp-QUANTIZED
  // prices (floor(v·10⁴+0.5), one identical IEEE step both engines) via
  // the naive row_number rank formulation — the corpus-scale sort the
  // histogram warehouse exists to avoid.  All rank/blend arithmetic
  // BIGINT until one division + round 6 (mirrors the Spark tail).  The
  // window variant composes the identical body over date-filtered rows.
  private def gasQuantilesSql(where: String): String =
    s"""WITH qv AS (SELECT event_type AS denom,
       |CAST(floor(value*10000 + 0.5) AS BIGINT) AS q FROM events$where),
       |o AS (SELECT denom, q, row_number() OVER (PARTITION BY denom ORDER BY q) - 1 AS r FROM qv),
       |n AS (SELECT denom, count(*) AS n_obs FROM qv GROUP BY 1),
       |k AS (SELECT n.denom, n.n_obs, CAST(t.p AS BIGINT) AS p,
       |(CAST(t.p AS BIGINT)*(n.n_obs-1))//100 AS lo,
       |(CAST(t.p AS BIGINT)*(n.n_obs-1))%100 AS rem
       |FROM n CROSS JOIN (VALUES (50),(90),(99)) t(p)),
       |v AS (SELECT k.denom, k.n_obs, k.p, k.rem, lo.q AS q_lo, hi.q AS q_hi
       |FROM k JOIN o lo ON lo.denom = k.denom AND lo.r = k.lo
       |JOIN o hi ON hi.denom = k.denom AND hi.r = least(k.lo + 1, k.n_obs - 1))
       |SELECT denom, n_obs,
       |round(CAST(max(CASE WHEN p=50 THEN q_lo*100+(q_hi-q_lo)*rem END) AS DOUBLE)/1000000.0, 6) AS p50,
       |round(CAST(max(CASE WHEN p=90 THEN q_lo*100+(q_hi-q_lo)*rem END) AS DOUBLE)/1000000.0, 6) AS p90,
       |round(CAST(max(CASE WHEN p=99 THEN q_lo*100+(q_hi-q_lo)*rem END) AS DOUBLE)/1000000.0, 6) AS p99
       |FROM v GROUP BY 1, 2""".stripMargin

  // Oracles that two or more rows hold verbatim.
  private val TxVolDailySql =
    s"""WITH d AS ($DAILY)
       |SELECT date, denom, round(vol, 4) AS tx_volume FROM d""".stripMargin
  private val DDedupNgramSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      |sh AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
      |FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 2, 0))) AS i) t),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter
      |FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
      |SELECT a_id, b_id, round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
      |FROM pairs JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8""".stripMargin
  private val DDedupIncrementalSql = dDedupIncrementalSqlVs("y.doc_id % 10 < 8")

  /** Every registered query, one row each; names are unique
    * (RegistrySpec).  Defined after the SQL values above, which the
    * rows read while this object initializes. */
  val registry: Seq[QuerySpec] = Seq(
    // dashboard (reference: src/collector/dashboard/, src/service/dashboard/)
    QuerySpec("q_txvol_daily", Headline, Dashboard.txVolDaily _, Oracle(TxVolDailySql)),
    // materialize-then-read path: same result as q_txvol_daily by
    // construction, so it shares the oracle
    QuerySpec("q_txvol_from_rollup", Untimed, Dashboard.txVolFromRollup _, Oracle(TxVolDailySql)),
    QuerySpec("q_txvol_cumulative", Untimed, Dashboard.txVolCumulative _, Oracle(
      s"""WITH d AS ($DAILY)
         |SELECT date, denom, round(sum(vol) OVER (PARTITION BY denom ORDER BY date), 4) AS cum_volume FROM d""".stripMargin)),
    QuerySpec("q_active_accounts_daily", Untimed, Dashboard.activeAccountsDaily _,
      Oracle("SELECT CAST(ts AS DATE) AS date, count(DISTINCT user_id) AS active_accounts FROM events GROUP BY 1")),
    // daily and trailing-7-day actives off the HLL sketch index at rest
    // (HllWarehouse): the window-distinct statistic no count rollup has
    QuerySpec("q_active_accounts_probe", Probe, (s: SparkSession, d: String) =>
      HllWarehouse.probe(s, HllWarehouse.builtPath(s, d)),
      NoOracle("HLL sketch states; accuracy and probe equality in HllWarehouseSpec"), warehoused = true),
    // any ad-hoc window's actives from that window's sketches at rest
    // (fixed test window Jan 8–21)
    QuerySpec("q_active_accounts_window", Probe, (s: SparkSession, d: String) =>
      HllWarehouse.windowProbe(s, HllWarehouse.builtPath(s, d)),
      NoOracle("HLL sketch states; accuracy and window pruning in HllWarehouseSpec"), warehoused = true),
    // production distinct-count path
    QuerySpec("q_active_accounts_approx", Untimed, Dashboard.activeAccountsApproxDaily _,
      NoOracle("HLL++ sketch; within tolerance of the exact counts in OperatorsSpec")),
    QuerySpec("q_account_growth", Headline, Dashboard.accountGrowth _, Oracle(
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS date FROM events GROUP BY 1),
        |g AS (SELECT date, count(*) AS new_accounts FROM f GROUP BY 1)
        |SELECT date, new_accounts, CAST(sum(new_accounts) OVER (ORDER BY date) AS BIGINT) AS total_accounts FROM g""".stripMargin)),
    // periodic = total[i] − total[i−1] (index 0 against 0), both series
    // slice(1) — getRegisteredAccounts.ts semantics; lag computed in the
    // SAME level as rn so the diff sees the undropped first row
    QuerySpec("q_registered_accounts", Headline, Dashboard.registeredAccounts _, Oracle(
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS date FROM events GROUP BY 1),
        |g AS (SELECT date, count(*) AS new_accounts FROM f GROUP BY 1),
        |c AS (SELECT date,
        |CAST(sum(new_accounts) OVER (ORDER BY date) AS BIGINT) AS total_accounts,
        |row_number() OVER (ORDER BY date) AS rn FROM g),
        |p AS (SELECT date, total_accounts,
        |CAST(total_accounts - lag(total_accounts, 1, 0) OVER (ORDER BY date) AS BIGINT) AS periodic_accounts,
        |rn FROM c)
        |SELECT date, periodic_accounts, total_accounts FROM p WHERE rn > 1""".stripMargin)),
    QuerySpec("q_rewards_by_date_denom", Untimed, Dashboard.rewardsByDateDenom _, Oracle(
      s"""WITH d AS ($DAILY)
         |SELECT date, denom, round(vol, 4) AS reward_sum, n AS reward_count, round(avg_value, 4) AS reward_avg FROM d""".stripMargin)),
    QuerySpec("q_block_rewards", Untimed, Dashboard.blockRewards _, Oracle(
      s"""WITH d AS ($DAILY),
         |r AS (SELECT date, vol AS reward FROM d WHERE denom = 'purchase'),
         |p AS (SELECT date, avg_value AS price FROM d WHERE denom = 'click')
         |SELECT r.date AS date, round(r.reward, 4) AS reward, round(p.price, 4) AS price,
         |round(r.reward * p.price, 4) AS reward_converted FROM r JOIN p USING (date)""".stripMargin)),
    QuerySpec("q_staking_return", Untimed, Dashboard.stakingReturn _, Oracle(
      s"""WITH d AS ($DAILY),
         |r AS (SELECT date, vol AS reward FROM d WHERE denom = 'purchase'),
         |s AS (SELECT date, avg_value AS avg_staking FROM d WHERE denom = 'view')
         |SELECT r.date AS date, round(reward, 4) AS reward, round(avg_staking, 4) AS avg_staking,
         |round(reward / avg_staking, 8) AS daily_return FROM r JOIN s USING (date)""".stripMargin)),
    QuerySpec("q_staking_return_ma", Untimed, Dashboard.stakingReturnMa _, Oracle(
      s"""WITH d AS ($DAILY),
         |r AS (SELECT date, vol AS reward FROM d WHERE denom = 'purchase'),
         |s AS (SELECT date, avg_value AS avg_staking FROM d WHERE denom = 'view'),
         |j AS (SELECT r.date AS date, reward / avg_staking AS dr FROM r JOIN s USING (date))
         |SELECT date, round(avg(dr) OVER w, 8) AS ma7_return, round(avg(dr) OVER w * 365, 8) AS annualized_return
         |FROM j WINDOW w AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),
    QuerySpec("q_staking_ratio", Untimed, Dashboard.stakingRatio _, Oracle(
      """WITH x AS (SELECT CAST(ts AS DATE) AS date, value,
        |row_number() OVER (PARTITION BY CAST(ts AS DATE) ORDER BY ts, event_id) AS rn
        |FROM events WHERE event_type = 'view')
        |SELECT date, round(value, 4) AS staking_ratio FROM x WHERE rn = 1""".stripMargin)),
    QuerySpec("q_seigniorage", Untimed, Dashboard.seigniorage _, Oracle(
      """WITH x AS (SELECT CAST(ts AS DATE) AS date, value,
        |row_number() OVER (PARTITION BY CAST(ts AS DATE) ORDER BY ts, event_id) AS rn
        |FROM events WHERE event_type = 'error')
        |SELECT date, round(value, 4) AS seigniorage FROM x WHERE rn = 1""".stripMargin)),
    QuerySpec("q_last_hour_ops", Untimed, Dashboard.lastHourOps _, Oracle(
      s"""SELECT count(*) AS ops_count, round(${SUMX("value")}, 4) AS ops_value
         |FROM events WHERE ts >= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin)),
    QuerySpec("q_airdrop_avg_return", Untimed, Dashboard.airdropAvgReturn _, Oracle(
      s"""WITH d AS ($DAILY),
         |r AS (SELECT date, vol AS reward FROM d WHERE denom = 'purchase'),
         |s AS (SELECT date, avg_value AS avg_staking FROM d WHERE denom = 'view'),
         |j AS (SELECT reward / avg_staking AS dr FROM r JOIN s USING (date))
         |SELECT round(sum(dr) * 365 / count(*), 8) AS annual_avg_return FROM j""".stripMargin)),
    QuerySpec("q_txvol_grains", Untimed, Dashboard.txVolGrains _, Oracle(
      s"""SELECT CAST(ts AS DATE) AS date, event_type AS denom,
         |CAST(GROUPING(CAST(ts AS DATE), event_type) AS BIGINT) AS gid,
         |round(${SUMX("value")}, 4) AS tx_volume, count(*) AS n
         |FROM events GROUP BY ROLLUP(CAST(ts AS DATE), event_type)""".stripMargin)),
    QuerySpec("q_dormant_accounts", Untimed, Dashboard.dormantAccounts _, Oracle(
      """WITH c AS (SELECT max(epoch_ms(ts)) - 86400000 AS cutoff_ms FROM events),
        |st AS (SELECT user_id, epoch_ms(ts) AS ts_ms, cutoff_ms FROM events, c),
        |recent AS (SELECT DISTINCT user_id FROM st WHERE ts_ms >= cutoff_ms)
        |SELECT user_id, count(*) AS n_events_before, max(ts_ms) AS last_seen_ms
        |FROM st WHERE ts_ms < cutoff_ms
        |AND user_id NOT IN (SELECT user_id FROM recent)
        |GROUP BY 1""".stripMargin)),
    // the explicit hot-key mitigation: a two-phase salted aggregate,
    // oracled by the UNSALTED single groupBy — DECIMAL partials make
    // them hash-identical at any salt count
    QuerySpec("q_txvol_salted", Untimed, Skew.saltedVolume(_, _), Oracle(
      s"""SELECT event_type AS denom, round(${SUMX("value")}, 4) AS tx_volume,
         |count(*) AS n_events FROM events GROUP BY 1""".stripMargin)),
    // the JOIN half of the skew toolkit: a salted fact×dim equi-join,
    // oracled by the unsalted plain join — row-identical join output
    // plus DECIMAL sums make them hash-identical at any salt count
    QuerySpec("q_txvol_salted_join", Probe, Skew.saltedJoinVolume(_, _), Oracle(
      s"""WITH fees(event_type, fee) AS (VALUES ${
           Skew.TypeFees.map { case (t, f) => s"('$t', $f)" }.mkString(", ")})
         |SELECT e.event_type AS denom, count(*) AS n_events,
         |round(${SUMX("e.value * f.fee")}, 4) AS weighted_volume
         |FROM events e JOIN fees f USING (event_type) GROUP BY 1""".stripMargin)),
    QuerySpec("q_general_info", Untimed, Dashboard.generalInfo _, Oracle(
      s"""WITH m AS (SELECT max(ts) AS max_ts FROM events),
         |r AS (SELECT event_type, value, ts, event_id FROM events, m
         |WHERE ts >= max_ts - INTERVAL 5 MINUTE),
         |p AS (SELECT event_type AS denom, round(value, 4) AS price, epoch_ms(ts) AS price_ts_ms,
         |row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn FROM r),
         |panel AS (SELECT round(${SUMX("CASE WHEN event_type = 'signup' THEN value ELSE 0 END")}, 4) AS issued,
         |epoch_ms(max(ts)) AS asof_ms FROM events),
         |lr AS (SELECT round(value, 4) AS staking_ratio FROM events WHERE event_type = 'view'
         |ORDER BY ts DESC, event_id DESC LIMIT 1)
         |SELECT denom, price, price_ts_ms, issued, asof_ms, staking_ratio
         |FROM p, panel, lr WHERE rn = 1""".stripMargin)),
    // market (reference: src/service/market/)
    QuerySpec("q_price_hourly", Untimed, Market.priceHourly _, Oracle(
      s"""SELECT (epoch_ms(ts) // 3600000) * 3600000 AS hour_ms, round(${AVGX("value")}, 4) AS avg_price
         |FROM events WHERE event_type = 'click' GROUP BY 1 ORDER BY hour_ms DESC LIMIT 50""".stripMargin)),
    QuerySpec("q_price_15m", Untimed, Market.price15m _, Oracle(
      s"""SELECT (epoch_ms(ts) // 900000) * 900000 AS bucket_ms, round(${AVGX("value")}, 4) AS avg_price,
         |count(*) AS n_ticks FROM events WHERE event_type = 'click' GROUP BY 1""".stripMargin)),
    QuerySpec("q_price_variation", Untimed, Market.priceVariation _, Oracle(
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS date, event_type AS denom, ${AVGX("value")} AS p
         |FROM events GROUP BY 1, 2)
         |SELECT date, denom, round(p, 4) AS avg_price, round(p - lag(p) OVER w, 4) AS diff,
         |round((p - lag(p) OVER w) / lag(p) OVER w, 6) AS rate
         |FROM d WINDOW w AS (PARTITION BY denom ORDER BY date)""".stripMargin)),
    QuerySpec("q_price_ohlc", Untimed, Market.priceOhlc _, Oracle(
      """WITH x AS (SELECT CAST(ts AS DATE) AS date, event_type AS denom, value,
        |row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type ORDER BY ts, event_id) AS rn_a,
        |row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type ORDER BY ts DESC, event_id DESC) AS rn_z
        |FROM events)
        |SELECT date, denom,
        |round(min(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
        |round(max(value), 4) AS high, round(min(value), 4) AS low,
        |round(min(CASE WHEN rn_z = 1 THEN value END), 4) AS close,
        |count(*) AS n_ticks FROM x GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q_swap_rate", Untimed, Market.swapRate _, Oracle(
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS date, event_type AS denom, ${AVGX("value")} AS p
         |FROM events GROUP BY 1, 2),
         |b AS (SELECT date, p AS bp FROM d WHERE denom = 'click')
         |SELECT d.date AS date, d.denom AS denom, round(d.p / b.bp, 6) AS swap_rate
         |FROM d JOIN b USING (date) WHERE d.denom <> 'click'""".stripMargin)),
    QuerySpec("q_market_cap", Untimed, Market.marketCap _, Oracle(
      s"""WITH s AS (SELECT CAST(ts AS DATE) AS date, ${SUMX("value")} AS supply
         |FROM events WHERE event_type = 'signup' GROUP BY 1),
         |p AS (SELECT CAST(ts AS DATE) AS date, ${AVGX("value")} AS price
         |FROM events WHERE event_type = 'click' GROUP BY 1)
         |SELECT s.date AS date, round(supply, 4) AS supply, round(price, 4) AS price,
         |round(supply * price, 4) AS market_cap FROM s JOIN p USING (date)""".stripMargin)),
    // semi-structured messages (reference: src/service/transaction/parseMsg.ts,
    // src/collector/block/accountTx.ts)
    QuerySpec("q_msg_parse", Headline, Messages.msgParse _, Oracle(
      """SELECT event_id, event_type AS msg_type,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |CASE event_type
        |WHEN 'signup' THEN 'Registered account ' || user_id
        |WHEN 'purchase' THEN 'Bought ' || CAST(json_extract_string(props, '$.k') AS BIGINT) || ' units'
        |WHEN 'click' THEN 'Swapped ' || CAST(json_extract_string(props, '$.k') AS BIGINT) || ' tokens'
        |WHEN 'view' THEN 'Queried contract ' || CAST(json_extract_string(props, '$.k') AS BIGINT)
        |WHEN 'error' THEN 'Failed to execute msg ' || CAST(json_extract_string(props, '$.k') AS BIGINT)
        |ELSE 'Unknown msg' END AS msg_text,
        |round(value, 4) AS amount FROM events""".stripMargin)),
    QuerySpec("q_account_tx_fanout", Headline, Messages.accountTxFanout _, Oracle(
      """SELECT DISTINCT account, event_id, epoch_ms(ts) AS ts_ms FROM (
        |SELECT user_id AS account, event_id, ts FROM events
        |UNION ALL
        |SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS account, event_id, ts FROM events
        |) u WHERE account IS NOT NULL""".stripMargin)),
    QuerySpec("q_account_txs_page", Untimed, Messages.accountTxsPage(_, _), Oracle(
      """WITH fan AS (SELECT DISTINCT account, event_id, epoch_ms(ts) AS ts_ms FROM (
        |SELECT user_id AS account, event_id, ts FROM events
        |UNION ALL
        |SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS account, event_id, ts FROM events
        |) u WHERE account IS NOT NULL),
        |keys AS (SELECT account, event_id, ts_ms FROM fan
        |WHERE account = 7 AND event_id < 8000 ORDER BY event_id DESC LIMIT 20)
        |SELECT k.account, e.event_id, k.ts_ms, e.event_type, round(e.value, 4) AS amount
        |FROM keys k JOIN events e USING (event_id)""".stripMargin)),
    // transactions (reference: src/service/transaction/)
    QuerySpec("q_txs_by_account_page", Untimed, Transactions.txsByAccountPage _, Oracle(
      """SELECT event_id, epoch_ms(ts) AS ts_ms, event_type, round(value, 4) AS amount
        |FROM events WHERE user_id = 7 AND event_id < 800 ORDER BY event_id DESC LIMIT 20""".stripMargin)),
    QuerySpec("q_txs_by_block", Untimed, Transactions.txsByBlock _, Oracle(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_partkey, l_suppkey, round(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_orderkey = 1 ORDER BY l_linenumber""".stripMargin)),
    QuerySpec("q_tx_point_lookup", Untimed, Transactions.txPointLookup _, Oracle(
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, round(o_totalprice, 2) AS o_totalprice,
        |c_name, c_mktsegment FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderkey = 1""".stripMargin)),
    QuerySpec("q_block_lookup", Untimed, Transactions.blockLookup _, Oracle(
      s"""WITH it AS (SELECT l_orderkey, count(*) AS n_txs, round(${SUMX("l_extendedprice")}, 2) AS block_volume
         |FROM lineitem WHERE l_orderkey = 1 GROUP BY 1)
         |SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderstatus, n_txs, block_volume
         |FROM orders JOIN it ON o_orderkey = l_orderkey WHERE o_orderkey = 1""".stripMargin)),
    // median via the explicit blend over the sorted list — the same
    // formula (and so the same IEEE ops) the Spark side evaluates; the
    // quantile_cont builtin is the d_corpus_stats ULP-tie class
    QuerySpec("q_gas_prices", Untimed, Transactions.gasPrices _, Oracle(
      """WITH g AS (SELECT event_type AS denom, round(min(value), 4) AS min_price,
        |list_sort(list(value)) AS arr, count(*) AS n,
        |round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE)/count(*), 4) AS avg_price,
        |round(max(value), 4) AS max_price FROM events GROUP BY 1)
        |SELECT denom, min_price,
        |round(arr[CAST((50*(n-1))//100 + 1 AS BIGINT)] +
        |(arr[CAST(least((50*(n-1))//100 + 2, n) AS BIGINT)] - arr[CAST((50*(n-1))//100 + 1 AS BIGINT)])
        |  * (CAST((50*(n-1))%100 AS DOUBLE) / 100.0), 4) AS median_price,
        |avg_price, max_price FROM g""".stripMargin)),
    // production median path
    QuerySpec("q_gas_prices_approx", Untimed, Transactions.gasPricesApprox _,
      NoOracle("approximate percentile; within tolerance of the exact medians in OperatorsSpec")),
    // EXACT quantiles at rest off the per-day value histogram
    // (QuantileWarehouse): quantiles don't compose from daily quantiles,
    // histograms do.  Both probes are oracled by the naive rank sort
    // over events (the exact lane the bounded 4-dp price domain admits)
    QuerySpec("q_gas_quantiles_probe", Probe, (s: SparkSession, d: String) =>
      QuantileWarehouse.probe(s, QuantileWarehouse.builtPath(s, d)),
      Oracle(gasQuantilesSql("")), warehoused = true),
    QuerySpec("q_gas_quantiles_window", Probe, (s: SparkSession, d: String) =>
      QuantileWarehouse.windowProbe(s, QuantileWarehouse.builtPath(s, d)),
      Oracle(
        gasQuantilesSql(
        " WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'")), warehoused = true),
    // the sketch lane over the same window
    QuerySpec("q_gas_quantiles_window_sketch", Probe, (s: SparkSession, d: String) =>
      QuantileWarehouse.Kll.windowProbe(s, QuantileWarehouse.Kll.builtPath(s, d)),
      NoOracle("randomized KLL states; rank-error bound in QuantileWarehouseSpec"), warehoused = true),
    // staking / treasury (reference: src/service/staking/, src/collector/richlist.ts)
    QuerySpec("q_validators_by_power", Untimed, Staking.validatorsByPower _, Oracle(
      s"""WITH rev AS (SELECT l_suppkey, ${SUMX("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem GROUP BY 1)
         |SELECT s_suppkey, s_name, round(revenue, 2) AS revenue,
         |round(revenue / sum(revenue) OVER (), 8) AS voting_power_weight,
         |CAST(rank() OVER (ORDER BY revenue DESC, l_suppkey) AS BIGINT) AS power_rank
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey""".stripMargin)),
    QuerySpec("q_validator_return", Untimed, Staking.validatorReturn _, Oracle(
      s"""SELECT l_suppkey, CAST(l_shipdate AS DATE) AS date,
         |round(${SUMX("l_extendedprice * l_discount")}, 4) AS reward,
         |round(${AVGX("l_extendedprice")}, 4) AS avg_power,
         |round(${SUMX("l_extendedprice * l_discount")} / (${AVGX("l_extendedprice")}), 8) AS daily_return
         |FROM lineitem GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q_delegations_page", Untimed, Staking.delegationsPage _, Oracle(
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, round(value, 4) AS amount
        |FROM events WHERE event_type IN ('signup', 'purchase') ORDER BY event_id DESC LIMIT 25""".stripMargin)),
    QuerySpec("q_delegators_top", Untimed, Staking.delegatorsTop _, Oracle(
      s"""WITH pp AS (SELECT l_suppkey, o_custkey, ${SUMX("l_extendedprice * (1 - l_discount)")} AS delegated
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
         |r AS (SELECT l_suppkey, o_custkey, delegated,
         |CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY delegated DESC, o_custkey) AS BIGINT) AS delegator_rank FROM pp)
         |SELECT l_suppkey, o_custkey, round(delegated, 2) AS delegated, delegator_rank
         |FROM r WHERE delegator_rank <= 5""".stripMargin)),
    QuerySpec("q_richlist", Untimed, Staking.richlist _, Oracle(QRichlistSql)),
    // the richlist collector (richlist.ts materializes top holders
    // nightly) as a maintained top-k view: per-denom top-K buffers merge
    // bit-equal by the truncation-semilattice identity; the probe
    // re-ranks KB-scale buffer rows and never rescans accounts.  Buffers
    // keep the top-K multiset and the folded total equals sumx, so the
    // row holds q_richlist's oracle verbatim
    QuerySpec("q_richlist_probe", Probe, (s: SparkSession, d: String) =>
      RichlistWarehouse.probe(s, RichlistWarehouse.builtPath(s, d)),
      Oracle(QRichlistSql), warehoused = true),
    // the delete verb on an ORDER STATISTIC: exact total subtraction +
    // key tombstones + refill of ONLY the denoms whose buffers lost a
    // row (deletion can promote truncated-away rows); oracled with the
    // richlist text over base ∖ removed (the mod-3 takedown slice)
    QuerySpec("q_richlist_retracted", Probe, (s: SparkSession, d: String) =>
      RichlistWarehouse.probe(s, RichlistWarehouse.builtRetractedPath(s, d)),
      Oracle(QRichlistRetractedSql), warehoused = true),
    QuerySpec("q_richlist_denom", Untimed, Staking.richlistByDenom(_, _), Oracle(
      s"""WITH mem AS (SELECT c_custkey, c_name, c_acctbal FROM customer
         |JOIN nation ON c_nationkey = n_nationkey WHERE n_name = 'NATION_7'),
         |t AS (SELECT ${SUMX("c_acctbal")} AS total_bal FROM mem),
         |top AS (SELECT * FROM mem ORDER BY c_acctbal DESC, c_custkey LIMIT 20)
         |SELECT c_custkey, c_name, 'NATION_7' AS denom, round(c_acctbal, 2) AS balance,
         |round(c_acctbal / total_bal, 8) AS share FROM top, t""".stripMargin)),
    // per-denom wealth concentration: histogram-computed Gini; the
    // naive row_number oracle is equal by the tie-block identity
    QuerySpec("q_richlist_gini", Untimed, Staking.richlistGini _, Oracle(QRichlistGiniSql)),
    // the concentration alert at rest (BalanceWarehouse): the same
    // (denom, cents) histogram maintained by O(batch) integer-delta
    // appends, served through the identical giniOfHist tail; the histogram
    // preserves the value multiset, so the row holds q_richlist_gini's
    // oracle verbatim
    QuerySpec("q_richlist_gini_probe", Probe, (s: SparkSession, d: String) =>
      BalanceWarehouse.giniProbe(s, BalanceWarehouse.builtPath(s, d)),
      Oracle(QRichlistGiniSql), warehoused = true),
    // ingest + refresh + retract a cross-cutting slice of accounts
    // (negative-count deltas), probe the survivors' concentration:
    // retract∘refresh == rebuild, so the gini text holds verbatim over
    // base ∖ removed
    QuerySpec("q_richlist_gini_retracted", Probe, (s: SparkSession, d: String) =>
      BalanceWarehouse.giniProbe(s, BalanceWarehouse.builtRetractedPath(s, d)),
      Oracle(QRichlistGiniRetractedSql), warehoused = true),
    // the snapshot log's as-of read: asOf(1) re-serves the
    // pre-retraction state bit-for-bit from a log whose head has already
    // deleted every third account, so the oracle is the plain
    // full-corpus gini text verbatim
    QuerySpec("q_richlist_gini_asof", Probe, (s: SparkSession, d: String) =>
      BalanceWarehouse.giniAsOf(s, BalanceWarehouse.builtGenPath(s, d), 1),
      Oracle(QRichlistGiniSql), warehoused = true),
    QuerySpec("q_total_supply", Untimed, Staking.totalSupply _, Oracle(
      s"""SELECT n_name AS denom, round(${SUMX("c_acctbal")}, 2) AS total_supply, count(*) AS n_accounts
         |FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""".stripMargin)),
    QuerySpec("q_balance_lookup", Untimed, Staking.balanceLookup _, Oracle(
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS balance, n_name AS denom
        |FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey = 42""".stripMargin)),
    QuerySpec("q_claims_page", Untimed, Staking.claimsPage _, Oracle(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, CAST(l_shipdate AS DATE) AS date,
        |round(l_extendedprice * l_discount, 4) AS claim_amount
        |FROM lineitem WHERE l_suppkey = 3 ORDER BY l_orderkey DESC, l_linenumber DESC LIMIT 15""".stripMargin)),
    QuerySpec("q_validator_detail", Untimed, Staking.validatorDetail _, Oracle(
      s"""WITH rev AS (SELECT l_suppkey, round(${SUMX("l_extendedprice * (1 - l_discount)")}, 2) AS revenue,
         |count(*) AS n_rewards FROM lineitem WHERE l_suppkey = 3 GROUP BY 1)
         |SELECT s_suppkey, s_name, n_name AS denom, round(s_acctbal, 2) AS self_delegation, revenue, n_rewards
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey""".stripMargin)),
    QuerySpec("q_account_staking", Untimed, Staking.accountStaking(_, _), Oracle(
      s"""WITH mine AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey = 7)
         |SELECT o_custkey AS account, l_suppkey, s_name,
         |round(${SUMX("CASE WHEN l_returnflag <> 'R' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}, 2) AS delegated,
         |round(${SUMX("CASE WHEN l_returnflag = 'R' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}, 2) AS undelegated,
         |round(${SUMX("l_extendedprice * l_discount")}, 4) AS rewards,
         |count(*) AS n_entries
         |FROM lineitem JOIN mine ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1, 2, 3""".stripMargin)),
    // governance (reference: src/service/governance/)
    QuerySpec("q_vote_tally", Untimed, Governance.voteTally _, Oracle(
      s"""SELECT o_orderpriority AS proposal, o_orderstatus AS "option", count(*) AS votes,
         |round(${SUMX("o_totalprice")}, 2) AS voting_power FROM orders GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q_vote_pivot", Untimed, Governance.votePivot _, Oracle(
      """SELECT o_orderpriority AS proposal,
        |count(*) FILTER (WHERE o_orderstatus = 'F') AS votes_f,
        |count(*) FILTER (WHERE o_orderstatus = 'O') AS votes_o,
        |count(*) FILTER (WHERE o_orderstatus = 'P') AS votes_p
        |FROM orders GROUP BY 1""".stripMargin)),
    QuerySpec("q_votes_latest", Untimed, Governance.votesLatest(_, _), Oracle(
      """WITH v AS (SELECT o_custkey AS voter, o_orderstatus AS "option",
        |CAST(o_orderdate AS DATE) AS vote_date, o_orderkey AS vote_id,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT voter, "option", vote_date, vote_id FROM v WHERE rn = 1
        |ORDER BY vote_id DESC LIMIT 25""".stripMargin)),
    QuerySpec("q_vote_tally_latest", Untimed, Governance.voteTallyLatest _,
      Oracle(QVoteTallyLatestSql)),
    QuerySpec("q_proposals_summary", Untimed, Governance.proposalsSummary _, Oracle(
      s"""SELECT o_orderstatus AS status, count(*) AS n_proposals,
         |round(${SUMX("o_totalprice")}, 2) AS total_deposit, round(${AVGX("o_totalprice")}, 4) AS avg_deposit,
         |min(CAST(o_orderdate AS DATE)) AS first_date, max(CAST(o_orderdate AS DATE)) AS last_date
         |FROM orders GROUP BY 1""".stripMargin)),
    QuerySpec("q_proposal_deposits", Untimed, Governance.proposalDeposits _,
      Oracle(s"""$QProposalDepositRowsSql ORDER BY o_orderkey DESC LIMIT 20""")),
    // the /proposals/:id composite payload: point row + latest-vote
    // per-option tally + deposit rollup, broadcast-1-row-joined; the
    // oracle composes the hoisted tally and deposit bodies verbatim
    QuerySpec("q_proposal_detail", Untimed, Governance.proposalDetail(_, _), Oracle(
      s"""WITH tl AS ($QVoteTallyLatestSql),
         |votes AS (SELECT proposal,
         |CAST(coalesce(sum(votes) FILTER (WHERE "option" = 'F'), 0) AS BIGINT) AS votes_f,
         |CAST(coalesce(sum(votes) FILTER (WHERE "option" = 'O'), 0) AS BIGINT) AS votes_o,
         |CAST(coalesce(sum(votes) FILTER (WHERE "option" = 'P'), 0) AS BIGINT) AS votes_p,
         |round(${SUMX("voting_power")}, 2) AS voting_power
         |FROM tl WHERE proposal = '1-URGENT' GROUP BY 1),
         |d AS ($QProposalDepositRowsSql),
         |dep AS (SELECT count(*) AS n_deposits,
         |round(${SUMX("deposit")}, 2) AS total_deposit,
         |min(date) AS first_deposit_date, max(date) AS last_deposit_date FROM d)
         |SELECT proposal, votes_f, votes_o, votes_p, voting_power,
         |n_deposits, total_deposit, first_deposit_date, last_deposit_date
         |FROM votes, dep""".stripMargin)),
    // the proposals LIST page as ONE plan (the reference's N+1 made
    // structural, getProposals.ts:25): group-keyed tally + deposit legs
    // joined on proposal, newest-first; the oracle composes the hoisted
    // bodies verbatim (the detail oracle minus its point filter)
    QuerySpec("q_proposals_page", Probe, Governance.proposalsPage(_, _), Oracle(
      s"""WITH tl AS ($QVoteTallyLatestSql),
         |votes AS (SELECT proposal,
         |CAST(coalesce(sum(votes) FILTER (WHERE "option" = 'F'), 0) AS BIGINT) AS votes_f,
         |CAST(coalesce(sum(votes) FILTER (WHERE "option" = 'O'), 0) AS BIGINT) AS votes_o,
         |CAST(coalesce(sum(votes) FILTER (WHERE "option" = 'P'), 0) AS BIGINT) AS votes_p,
         |round(${SUMX("voting_power")}, 2) AS voting_power
         |FROM tl GROUP BY 1),
         |d AS ($QDepositRowsAllSql),
         |dep AS (SELECT proposal, count(*) AS n_deposits,
         |round(${SUMX("deposit")}, 2) AS total_deposit,
         |min(date) AS first_deposit_date, max(date) AS last_deposit_date
         |FROM d GROUP BY 1)
         |SELECT proposal, votes_f, votes_o, votes_p, voting_power,
         |n_deposits, total_deposit, first_deposit_date, last_deposit_date
         |FROM votes JOIN dep USING (proposal)
         |ORDER BY last_deposit_date DESC, proposal LIMIT 20""".stripMargin)),
    // treasury (reference: src/service/treasury/)
    QuerySpec("q_circulating_supply", Untimed, Treasury.circulatingSupply _, Oracle(
      s"""SELECT round(${SUMX("CASE WHEN event_type = 'signup' THEN value ELSE 0 END")}, 4) AS issued,
         |round(${SUMX("CASE WHEN event_type = 'error' THEN value ELSE 0 END")}, 4) AS locked,
         |round(${SUMX("CASE WHEN event_type = 'signup' THEN value ELSE 0 END")} - ${SUMX("CASE WHEN event_type = 'error' THEN value ELSE 0 END")}, 4) AS circulating
         |FROM events""".stripMargin)),
    QuerySpec("q_vesting_supply", Untimed, Treasury.vestingSupply _, Oracle(
      s"""WITH m AS (SELECT epoch_ms(max(ts)) AS asof_ms FROM events),
         |s AS (SELECT epoch_ms(ts) AS ts_ms, value FROM events WHERE event_type = 'signup'),
         |tr AS (SELECT ts_ms + i * 604800000 AS unlock_ms, value / 4 AS amt
         |FROM s, (SELECT unnest(generate_series(1, 4)) AS i) g)
         |SELECT round(${SUMX("amt")}, 4) AS issued,
         |round(${SUMX("CASE WHEN unlock_ms > asof_ms THEN amt ELSE 0 END")}, 4) AS unvested,
         |round(${SUMX("CASE WHEN unlock_ms <= asof_ms THEN amt ELSE 0 END")}, 4) AS circulating
         |FROM tr, m""".stripMargin)),
    QuerySpec("q_tax_proceeds", Untimed, Treasury.taxProceeds _, Oracle(
      s"""SELECT CAST(l_shipdate AS DATE) AS date, round(${SUMX("l_extendedprice * l_tax")}, 4) AS tax_proceeds,
         |count(*) AS n_items FROM lineitem GROUP BY 1""".stripMargin)),
    QuerySpec("q_trailing_tax_30d", Untimed, Treasury.trailingTaxProceeds _, Oracle(
      """WITH d AS (SELECT CAST(l_shipdate AS DATE) AS date, l_returnflag AS flag,
        |sum(CAST(l_extendedprice * l_tax AS DECIMAL(30,6))) AS vol,
        |date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day_n
        |FROM lineitem GROUP BY 1, 2, 4)
        |SELECT date, flag, round(CAST(sum(vol) OVER w AS DOUBLE), 4) AS trailing_30d
        |FROM d WINDOW w AS (PARTITION BY flag ORDER BY day_n
        |RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin)),
    // OLAP core
    QuerySpec("q1_pricing_summary", Headline, Olap.q1PricingSummary _, Oracle(
      s"""SELECT l_returnflag, l_linestatus,
         |round(${SUMX("l_quantity")}, 2) AS sum_qty,
         |round(${SUMX("l_extendedprice")}, 2) AS sum_base_price,
         |round(${SUMX("l_extendedprice * (1 - l_discount)")}, 2) AS sum_disc_price,
         |round(${SUMX("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}, 2) AS sum_charge,
         |round(${AVGX("l_quantity")}, 4) AS avg_qty,
         |round(${AVGX("l_extendedprice")}, 4) AS avg_price,
         |round(${AVGX("l_discount")}, 4) AS avg_disc,
         |count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q3_shipping_priority", Headline, Olap.q3ShippingPriority _, Oracle(
      s"""SELECT l_orderkey, round(${SUMX("l_extendedprice * (1 - l_discount)")}, 2) AS revenue,
         |CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
         |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1998-03-15' AND l_shipdate > DATE '1998-03-15'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    QuerySpec("q5_local_supplier", Headline, Olap.q5LocalSupplier _, Oracle(
      s"""SELECT n_name, round(${SUMX("l_extendedprice * (1 - l_discount)")}, 2) AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
         |AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |AND r_name = 'ASIA' AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1999-01-01'
         |GROUP BY 1""".stripMargin)),
    QuerySpec("q_asof_join", Headline, Olap.asofJoin _, Oracle(
      """WITH p AS (SELECT ts AS p_ts, value AS p_value, lead(ts) OVER (ORDER BY ts, event_id) AS p_next_ts
        |FROM events WHERE event_type = 'click')
        |SELECT e.event_id, round(e.value, 4) AS amount, round(p.p_value, 4) AS price_at_ts
        |FROM events e LEFT JOIN p ON e.ts >= p.p_ts AND (p.p_next_ts IS NULL OR e.ts < p.p_next_ts)
        |WHERE e.event_type = 'purchase'""".stripMargin)),
    // incremental maintenance of a JOIN view — the delta rule
    // Δ(O⋈L) = ΔO⋈L ∪ O⋈ΔL ∪ ΔO⋈ΔL as sequenced unary refreshes
    // over bucketed-by-join-key side states; served at rest from the
    // additive (DECIMAL, LONG) view deltas — ORACLED with the plain
    // join-rollup SQL
    QuerySpec("q_revenue_view_probe", Probe, (s: SparkSession, d: String) =>
      JoinViewWarehouse.probe(s, JoinViewWarehouse.builtPath(s, d)),
      Oracle(qRevenueViewSqlOver("")), warehoused = true),
    // the delete verb on a BINARY view: retract a cross-cutting order
    // slice (−R⋈L deltas + op −1 side rows), probe the survivors; oracled
    // with the join-rollup text over the orders surviving
    // JoinViewWarehouse.isRetractedOrder
    QuerySpec("q_revenue_view_retracted", Probe, (s: SparkSession, d: String) =>
      JoinViewWarehouse.probe(s, JoinViewWarehouse.builtRetractedPath(s, d)),
      Oracle(qRevenueViewSqlOver(" WHERE o_orderkey % 7 <> 0")), warehoused = true),
    // the trailing-years window over the maintained view with LOG-LEVEL
    // DATA SKIPPING: year-cadence build (one refreshBoth generation per
    // calendar year); the probe proves pre-window years empty from the
    // commit entries' year stats and never lists their directories.  The
    // skip is a pure optimization, so the oracle is the join-rollup text
    // under the trailing-2-year predicate
    QuerySpec("q_revenue_view_recent", Probe, (s: SparkSession, d: String) =>
      JoinViewWarehouse.recentYears(s, JoinViewWarehouse.builtYearlyPath(s, d)),
      Oracle(
        qRevenueViewSqlOver(
          " WHERE year(o_orderdate) >= (SELECT max(year(o_orderdate)) FROM orders) - 1")), warehoused = true),
    // the skipping metadata on the BINARY member, oracled: each yearly
    // generation's recorded min/max(year) must equal the true per-year
    // bounds over raw orders (builtYearlyPath ingests years in sorted
    // order, so gen == the year's rank)
    QuerySpec("q_revenue_view_index_stats", Untimed, (s: SparkSession, d: String) => {
      val p = JoinViewWarehouse.builtYearlyPath(s, d)
      graft.sources.CommitLog.statsCatalog(s, p, p)
    },
      Oracle(
        """SELECT CAST(row_number() OVER (ORDER BY y) - 1 AS BIGINT) AS gen,
          |'year' AS stat_col, 'num' AS kind,
          |CAST(y AS VARCHAR) AS min_v, CAST(y AS VARCHAR) AS max_v
          |FROM (SELECT DISTINCT year(o_orderdate) AS y FROM orders)""".stripMargin)),
    QuerySpec("q_sessionize", Headline, Olap.sessionize _, Oracle(
      """WITH e AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ts_ms FROM events),
        |l AS (SELECT user_id, event_id, ts, ts_ms,
        |CASE WHEN lag(ts_ms) OVER w IS NULL OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts_ms, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq FROM l)
        |SELECT user_id, session_seq, count(*) AS n_events, min(ts_ms) AS session_start_ms,
        |max(ts_ms) - min(ts_ms) AS duration_ms FROM s GROUP BY 1, 2""".stripMargin)),
    QuerySpec("q_retention_cohort", Headline, Olap.retentionCohort _, Oracle(
      """WITH p AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM p GROUP BY 1),
        |c AS (SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS day_offset, count(*) AS n_active
        |FROM p JOIN f USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort_day, count(*) AS cohort_size FROM f GROUP BY 1)
        |SELECT c.cohort_day, day_offset, n_active, cohort_size,
        |round(CAST(n_active AS DOUBLE) / cohort_size, 4) AS retention
        |FROM c JOIN s USING (cohort_day)""".stripMargin)),
    QuerySpec("q_funnel_steps", Headline, Olap.funnelSteps _, Oracle(
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |WHERE e.event_type = 'view' AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 6 HOUR GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
        |WHERE e.event_type = 'purchase' AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 24 HOUR GROUP BY 1),
        |u AS (SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type, count(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'view', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
        |w AS (SELECT step, event_type, CAST(n_users AS BIGINT) AS n_users,
        |lag(n_users) OVER (ORDER BY step) AS prev,
        |first_value(n_users) OVER (ORDER BY step) AS f FROM u)
        |SELECT step, event_type, n_users,
        |round(CAST(n_users AS DOUBLE) / coalesce(prev, n_users), 4) AS conv_from_prev,
        |round(CAST(n_users AS DOUBLE) / f, 4) AS conv_from_first FROM w""".stripMargin)),
    // time-series legs over the daily event grid (papers: streaming
    // similarity search / top-k subsequence retrieval).  Correlation
    // uses the s_embed_cov discipline at 1e-3 fixed point over the grid
    // pair join; zero-variance series → NULL corr in both engines
    QuerySpec("q_ts_corr", Headline, TimeSeries.tsCorr _, Oracle(QTsCorrSql)),
    // windows = 7-row ordered array_aggs on the dense grid; all folds
    // explicit left-assoc (see fold7); flat (σ=0) windows excluded on
    // both sides — z undefined, and NULL ordering differs by engine
    QuerySpec("q_ts_window_search", Headline, TimeSeries.tsWindowSearch(_, _), Oracle(
      s"""WITH $TsGridSql,
         |di AS (SELECT date, row_number() OVER (ORDER BY date) AS dn
         |FROM (SELECT DISTINCT date FROM grid)),
         |gi AS (SELECT grid.*, di.dn FROM grid JOIN di USING (date)),
         |w0 AS (SELECT a.event_type, a.date AS start_date,
         |array_agg(b.v ORDER BY b.dn) AS arr
         |FROM gi a JOIN gi b ON a.event_type = b.event_type
         |AND b.dn BETWEEN a.dn AND a.dn + 6
         |GROUP BY 1, 2 HAVING count(*) = 7),
         |st AS (SELECT event_type, start_date, arr,
         |(${fold7(i => s"arr[$i]")}) / 7 AS mu FROM w0),
         |sd AS (SELECT event_type, start_date, arr, mu,
         |sqrt((${fold7(i => s"(arr[$i] - mu) * (arr[$i] - mu)")}) / 7) AS sd FROM st),
         |zw AS (SELECT event_type, start_date,
         |list_transform(arr, x -> (x - mu) / sd) AS z FROM sd WHERE sd > 0),
         |q AS (SELECT z AS qz, start_date AS qd FROM zw
         |WHERE event_type = 'click' ORDER BY start_date LIMIT 1)
         |SELECT w.event_type, w.start_date,
         |round(sqrt(${fold7(i => s"(w.z[$i] - qz[$i]) * (w.z[$i] - qz[$i])")}), 6) AS dist
         |FROM zw w CROSS JOIN q
         |WHERE w.event_type <> 'click' OR w.start_date <> q.qd
         |ORDER BY dist, w.event_type, w.start_date LIMIT 10""".stripMargin)),
    // trailing-baseline z: same date-index ROW semantics and explicit
    // left-assoc folds as q_ts_window_search; σ=0 baselines excluded
    QuerySpec("q_ts_anomaly", Headline, TimeSeries.tsAnomaly(_, _), Oracle(QTsAnomalySql)),
    // dow index over the dense grid: DECIMAL-exact dow sums, then two
    // IEEE multiplies + one divide on exactly-rounded inputs; DuckDB
    // dayofweek is 0-based (Sunday=0) vs Spark's 1-based → +1
    QuerySpec("q_ts_seasonal", Untimed, TimeSeries.tsSeasonal _, Oracle(QTsSeasonalSql)),
    // seasonal-trend-residual split of every series.  Adjusted values
    // round BEFORE the trailing fold (both engines fold identical
    // inputs); same date-index ROW semantics and left-assoc folds as
    // q_ts_anomaly
    QuerySpec("q_ts_decompose", Probe, TimeSeries.tsDecompose(_, _), Oracle(QTsDecomposeSql)),
    // seasonal-naive forecast with trend: last decomposed trend +
    // target-day dow mean, 7-day horizon per series; the oracle composes
    // the decompose CTE chain verbatim + pure date/int math
    QuerySpec("q_ts_forecast", Untimed, TimeSeries.tsForecast(_, _), Oracle(QTsForecastSql)),
    // the forecast's evaluation loop: hold out the last 7 days, fit on
    // the rest, per-series MAE vs actuals; the oracle runs the chain +
    // forecast CTEs verbatim over the truncated training grid
    QuerySpec("q_ts_forecast_backtest", Untimed, TimeSeries.tsForecastBacktest(_, _),
      Oracle(QTsForecastBacktestSql)),
    // the same evaluation at refresh cadence off the standing grid
    QuerySpec("q_ts_forecast_backtest_probe", Probe, (s: SparkSession, d: String) =>
      TsWarehouse.backtestProbe(s, TsWarehouse.builtPath(s, d)),
      Oracle(QTsForecastBacktestSql), warehoused = true),
    // the alerting leg off the daily rollup AT REST (TsWarehouse:
    // DECIMAL-delta grid, refresh bit-equal to rebuild, base ∪ incoming
    // = all events) — the probe never rescans events (TsWarehouseSpec)
    // and holds the inline oracle verbatim
    QuerySpec("q_ts_anomaly_probe", Probe, (s: SparkSession, d: String) =>
      TsWarehouse.anomalyProbe(s, TsWarehouse.builtPath(s, d)),
      Oracle(QTsAnomalySql), warehoused = true),
    // the (vsum, n) state gives the rollup a bit-equal retract
    // (fully-retracted keys drop at merge, zero-sum days keep n > 0):
    // ingest + refresh + retract a cross-cutting mod-7 slice of events,
    // serve the alerting probe off the survivors; oracled with the
    // anomaly text over base ∖ removed
    QuerySpec("q_ts_anomaly_probe_retracted", Probe, (s: SparkSession, d: String) =>
      TsWarehouse.anomalyProbe(s, TsWarehouse.builtRetractedPath(s, d)),
      Oracle(QTsAnomalyRetractedSql), warehoused = true),
    // the other grid consumers off the same rollup each hold their
    // inline oracle verbatim (bit-equal grid); window search stays
    // inline-only by design (ad-hoc query window)
    QuerySpec("q_ts_corr_probe", Probe, (s: SparkSession, d: String) =>
      TsWarehouse.corrProbe(s, TsWarehouse.builtPath(s, d)),
      Oracle(QTsCorrSql), warehoused = true),
    // rollup-served: bit-equal grid ⇒ the inline oracle VERBATIM
    QuerySpec("q_ts_seasonal_probe", Probe, (s: SparkSession, d: String) =>
      TsWarehouse.seasonalProbe(s, TsWarehouse.builtPath(s, d)),
      Oracle(QTsSeasonalSql), warehoused = true),
    // rollup-served: bit-equal grid ⇒ the inline oracle VERBATIM
    QuerySpec("q_ts_decompose_probe", Probe, (s: SparkSession, d: String) =>
      TsWarehouse.decomposeProbe(s, TsWarehouse.builtPath(s, d)),
      Oracle(QTsDecomposeSql), warehoused = true),
    // rollup-served: bit-equal grid ⇒ the inline oracle VERBATIM
    QuerySpec("q_ts_forecast_probe", Probe, (s: SparkSession, d: String) =>
      TsWarehouse.forecastProbe(s, TsWarehouse.builtPath(s, d)),
      Oracle(QTsForecastSql), warehoused = true),
    // the trailing-window monitoring read with LOG-LEVEL DATA
    // SKIPPING: week-cadence build (five generations); the probe proves
    // pre-window weeks empty from the commit entries' date stats and never
    // lists their directories (TsWarehouseSpec).  Delta sums fold exactly
    // across the generations, so the oracle is the raw-events
    // trailing-window text
    QuerySpec("q_ts_recent_window", Probe, (s: SparkSession, d: String) =>
      TsWarehouse.recentWindow(s, TsWarehouse.builtWeeklyPath(s, d)),
      Oracle(
        s"""WITH daily AS (SELECT CAST(ts AS DATE) AS date, event_type,
           |round(${SUMX("value")}, 3) AS v FROM events GROUP BY 1, 2)
           |SELECT date, event_type, v FROM daily
           |WHERE date >= (SELECT max(date) FROM daily) - 6""".stripMargin), warehoused = true),
    // the skipping metadata ITSELF, oracled: the catalog's recorded
    // per-generation min/max(date) must equal the true per-week bounds
    // over raw events (builtWeeklyPath: gen w == week w) — a wrong
    // min/max would both fail this AND silently mis-skip
    QuerySpec("q_ts_index_stats", Untimed, (s: SparkSession, d: String) => {
      val p = TsWarehouse.builtWeeklyPath(s, d)
      graft.sources.CommitLog.statsCatalog(s, p, p)
    },
      Oracle(
        """SELECT CAST((day(CAST(ts AS DATE)) - 1) // 7 AS BIGINT) AS gen,
          |'date' AS stat_col, 'lex' AS kind,
          |CAST(min(CAST(ts AS DATE)) AS VARCHAR) AS min_v,
          |CAST(max(CAST(ts AS DATE)) AS VARCHAR) AS max_v
          |FROM events GROUP BY 1""".stripMargin)),
    // the weekday-aware anomaly alerter (z over decompose residuals —
    // fixes the flat-baseline Sunday false-positive) + its probe
    QuerySpec("q_ts_anomaly_seasonal", Untimed, TimeSeries.tsAnomalySeasonal(_, _),
      Oracle(QTsAnomalySeasonalSql)),
    // rollup-served: bit-equal grid ⇒ the inline oracles VERBATIM
    QuerySpec("q_ts_anomaly_seasonal_probe", Probe, (s: SparkSession, d: String) =>
      TsWarehouse.anomalySeasonalProbe(s, TsWarehouse.builtPath(s, d)),
      Oracle(QTsAnomalySeasonalSql), warehoused = true),
    // LLM-data-pipeline
    QuerySpec("d_dedup_exact", Headline, Dedup.exact _,
      Oracle("SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY 1")),
    // the t_chunk CTE + two windows over the chunk hash
    QuerySpec("d_dedup_chunk", Headline, Dedup.dedupChunks _, Oracle(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |c AS (SELECT doc_id, a,
        |CASE WHEN len(a) <= 64 THEN 1 ELSE 1 + (len(a) - 64 + 47) // 48 END AS n_chunks FROM w),
        |x AS (SELECT doc_id, a, i AS chunk_id
        |FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) t),
        |chunks AS (SELECT doc_id, chunk_id,
        |CAST(len(a[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT) AS n_tokens,
        |md5(array_to_string(a[chunk_id*48+1 : chunk_id*48+64], ' ')) AS h FROM x)
        |SELECT doc_id, chunk_id, n_tokens,
        |CAST(count(*) OVER (PARTITION BY h) AS BIGINT) AS n_dups,
        |CAST(CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) = 1
        |THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM chunks""".stripMargin)),
    QuerySpec("d_dedup_stream", Untimed, Dedup.dedupSurvivors _, Oracle(
      """WITH k AS (SELECT md5(text) AS content_hash, min(doc_id) AS doc_id FROM documents GROUP BY 1)
        |SELECT k.doc_id, k.content_hash, CAST(length(d.text) AS BIGINT) AS n_chars
        |FROM k JOIN documents d ON k.doc_id = d.doc_id""".stripMargin)),
    // cross-doc line dedup (the C4/Dolma paragraph channel): shared-
    // line fraction per doc + the <= 0.3 boilerplate gate; docs_with
    // counts DISTINCT docs per line hash, so a line repeated only within
    // its own doc is not flagged
    QuerySpec("d_dedup_lines", Probe, Dedup.dedupLines _, Oracle(
      """WITH l AS (SELECT doc_id, md5(line) AS h
        |FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents)),
        |dw AS (SELECT h, CAST(count(*) AS BIGINT) AS docs_with
        |FROM (SELECT DISTINCT doc_id, h FROM l) GROUP BY 1),
        |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |CAST(sum(CAST(docs_with >= 2 AS BIGINT)) AS BIGINT) AS n_shared_lines
        |FROM l JOIN dw USING (h) GROUP BY 1)
        |SELECT doc_id, n_lines, n_shared_lines,
        |round(CAST(n_shared_lines AS DOUBLE) / n_lines, 4) AS shared_line_frac,
        |CAST(round(CAST(n_shared_lines AS DOUBLE) / n_lines, 4) <= 0.3 AS BIGINT) AS para_keep
        |FROM g""".stripMargin)),
    QuerySpec("d_dedup_ngram", Headline, Dedup.ngramJaccard _, Oracle(DDedupNgramSql)),
    // all-integer output; Spark and DuckDB both implement unit-cost
    // Levenshtein, so the exact distance compares bit-free of floats.
    // The naive oracle IS the declared semantics (the staged Ed-Join
    // plan is an optimization, proven equal in EditDistSpec).
    QuerySpec("d_dedup_editdist", Headline, graft.dedup.EditDist.editDistPairs _, Oracle(
      """WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents)
        |SELECT x.doc_id AS a_id, y.doc_id AS b_id,
        |CAST(levenshtein(x.text, y.text) AS BIGINT) AS ed
        |FROM d x JOIN d y ON x.doc_id < y.doc_id AND abs(x.L - y.L) <= 10
        |WHERE levenshtein(x.text, y.text) <= 10""".stripMargin)),
    QuerySpec("d_dedup_minhash", Headline, Dedup.minhashLsh _,
      NoOracle("MinHash-LSH banding internals; DedupSpec")),
    // runs the LSH candidates through the EXACT set verify, so it
    // shares d_dedup_ngram's naive-join oracle.  Like d_neardup_cosine,
    // pairing a probabilistic candidate stage with a bit-exact oracle
    // leans on the spec-asserted recall 1.0 at the FIXED test data +
    // hash seeds (miss ~5e-8/pair at J=0.8)
    QuerySpec("d_dedup_minhash_verified", Headline, Dedup.minhashVerified _,
      Oracle(DDedupNgramSql)),
    // incremental dedup vs the MinHash index at rest: the warehouse
    // materializes once per (view, dir) per JVM, probes are pure reads;
    // same recall argument as d_dedup_minhash_verified (both sides
    // restricted to the doc_id mod 10 base/incoming split)
    QuerySpec("d_dedup_incremental", Headline, (s: SparkSession, d: String) =>
      graft.dedup.MinHashWarehouse.incrementalDedup(s, d,
        graft.sources.Materialized.pathFor("minhash_warehouse", d)(
          graft.dedup.MinHashWarehouse.materialize(s, d, _))),
      Oracle(DDedupIncrementalSql), warehoused = true),
    // the delete verb's doc-keyed rung: tombstone retraction of the
    // mod-7 base docs, probe via pruned anti-join; probe-after-retract
    // must equal the incremental text over base ∖ removed
    QuerySpec("d_dedup_retracted", Probe, (s: SparkSession, d: String) =>
      graft.dedup.MinHashWarehouse.retractedDedup(s, d,
        graft.sources.Materialized.pathFor("minhash_retracted", d)(
          graft.dedup.MinHashWarehouse.materializeRetracted(s, d, _))),
      Oracle(dDedupIncrementalSqlVs("y.doc_id % 10 < 7")), warehoused = true),
    // the snapshot verb on the doc-keyed rung (bitemporal: tombstones
    // carry their takedown generation): dedup as of gen 1, BEFORE the
    // gen-2 takedown of the mod-7 docs, so the incremental text holds
    // verbatim over the full base
    QuerySpec("d_dedup_asof", Probe, (s: SparkSession, d: String) =>
      graft.dedup.MinHashWarehouse.asOfDedup(s, d, 1),
      Oracle(DDedupIncrementalSql), warehoused = true),
    // DESCRIBE HISTORY: the committed log of the three-generation dedup
    // index as a DataFrame.  CommitLog allocates gens/seqs by transaction
    // order, so the oracle is the literal table: gen 0 = ingest (replace
    // docs+index), gen 1 = refresh (append docs+index), gen 2 = takedown
    // (append tomb); horizon -1 = not a rebase
    QuerySpec("d_dedup_index_history", Untimed, (s: SparkSession, d: String) =>
      graft.sources.CommitLog.history(s,
        graft.dedup.MinHashWarehouse.builtGenPath(s, d)),
      Oracle(
        """
        |SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), '.docs', 'replace', CAST(-1 AS BIGINT), CAST(0 AS BIGINT)),
        |  (0, '', 'replace', -1, 0),
        |  (1, '.docs', 'append', -1, 1),
        |  (1, '', 'append', -1, 1),
        |  (2, '.tomb', 'append', -1, 2)) AS t(gen, part, kind, horizon, seq)""".stripMargin)),
    // the crawl loop closed: generation A (doc_id ≡ 8 mod 10) dedups
    // against the base index, its survivors fold into the index at rest,
    // generation B (≡ 9) probes the refreshed index — B-docs can match
    // accepted A-docs.  The oracle applies d_dedup_incremental's recall
    // argument twice
    QuerySpec("d_dedup_refresh", Headline, (s: SparkSession, d: String) =>
      graft.dedup.MinHashWarehouse.refreshedDedup(s, d,
        graft.sources.Materialized.pathFor("minhash_refresh", d)(
          graft.dedup.MinHashWarehouse.materializeRefreshed(s, d, _))),
      Oracle(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
          |sh AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
          |FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 2, 0))) AS i) t),
          |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |pa AS (SELECT x.doc_id AS new_id, y.doc_id AS base_id, count(*) AS inter
          |FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id % 10 = 8 AND y.doc_id % 10 < 8 GROUP BY 1, 2),
          |amatched AS (SELECT DISTINCT new_id FROM pa
          |JOIN sizes sa ON sa.doc_id = new_id JOIN sizes sb ON sb.doc_id = base_id
          |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
          |base2 AS (SELECT doc_id FROM documents WHERE doc_id % 10 < 8
          |UNION ALL SELECT doc_id FROM documents WHERE doc_id % 10 = 8
          |AND doc_id NOT IN (SELECT new_id FROM amatched)),
          |pb AS (SELECT x.doc_id AS new_id, y.doc_id AS base_id, count(*) AS inter
          |FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id % 10 = 9
          |JOIN base2 ON y.doc_id = base2.doc_id GROUP BY 1, 2)
          |SELECT new_id, base_id, round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
          |FROM pb JOIN sizes sa ON sa.doc_id = new_id JOIN sizes sb ON sb.doc_id = base_id
          |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8""".stripMargin), warehoused = true),
    QuerySpec("d_dedup_simhash", Headline, Dedup.simhash _,
      NoOracle("SimHash banding internals; DedupSpec")),
    QuerySpec("d_dedup_simhash_verified", Headline, Dedup.simhashVerified(_, _),
      NoOracle("the naive J >= 0.8 join is unsound for SimHash banding; NgramCapSpec")),
    QuerySpec("d_dedup_groups", Headline, Dedup.dedupGroups _,
      Oracle(DDedupGroupsSql), warehoused = true),
    // the crawl loop's GROUPING leg: standing labels at rest, the
    // incoming 20% folds in via contracted CC + broadcast relabel; must
    // equal the full recompute, so it holds d_dedup_groups' oracle
    QuerySpec("d_dedup_groups_incremental", Headline, Dedup.dedupGroupsIncremental _,
      Oracle(DDedupGroupsSql), warehoused = true),
    // the delete verb on the GRAPH rung: retraction re-runs CC only over
    // components containing removed docs; labels at rest must equal the
    // recursive-CTE text over corpus ∖ removed
    QuerySpec("d_dedup_groups_retracted", Probe, graft.dedup.EdgeWarehouse.retractedGroups(_, _),
      Oracle(dDedupGroupsSqlOver(" WHERE doc_id % 13 <> 0")), warehoused = true),
    // one representative per near-dup cluster by quality argmax (not
    // min-id — near-dup members are different texts); the oracle joins
    // the hoisted groups and quality bodies verbatim, argmax by
    // (quality DESC, doc_id) per group
    QuerySpec("d_dedup_keep_best", Probe, Dedup.keepBest _, Oracle(materializedCtes(
      s"""WITH g AS ($DDedupGroupsSql), q AS ($TQualitySql),
         |j AS (SELECT g.doc_id AS doc_id, g.group_id AS group_id,
         |g.group_size AS group_size, q.quality_score AS quality_score
         |FROM g JOIN q ON g.doc_id = q.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY group_id
         |ORDER BY quality_score DESC, doc_id) AS rn FROM j)
         |SELECT group_id, doc_id AS kept_doc_id, group_size,
         |quality_score AS best_quality FROM r WHERE rn = 1""".stripMargin)), warehoused = true),
    // the grouping's scale path: the J-channel from MinHash-LSH-verified
    // pairs instead of the AllPairs prefix join, registered inline so its
    // bench row prices the edge-generation swap.  Both J-channels verify
    // exactly at J >= 0.8 and banding recall is 1.0 on this corpus, so
    // the labels equal the full recompute's: d_dedup_groups' oracle
    QuerySpec("d_dedup_groups_lsh", Headline, Dedup.dedupGroupsLsh _, Oracle(DDedupGroupsSql)),
    QuerySpec("d_neardup_cosine", Headline, Dedup.cosinePairs _, Oracle(
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""".stripMargin)),
    QuerySpec("d_substring_overlap", Headline, Dedup.substringOverlap(_, _), Oracle(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(a[i : i+7], ' ') AS gram
        |FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 7, 0))) AS i) t),
        |df AS (SELECT gram, count(*) AS df FROM sh GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_grams
        |FROM sh JOIN df USING (gram) GROUP BY 1""".stripMargin)),
    // positional grams via generate_series indexing (the DuckDB
    // unnest-with-ordinality form); island merge mirrors the Spark
    // window: flagged grams chain iff gap ≤ n (= 8)
    QuerySpec("d_substring_spans", Headline, Dedup.substringSpans(_, _), Oracle(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(a[i : i+7], ' ') AS gram
        |FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 7, 0))) AS i) t),
        |df AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY 1),
        |f AS (SELECT doc_id, pos FROM g JOIN df USING (gram) WHERE df >= 2),
        |l AS (SELECT doc_id, pos,
        |CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8 THEN 0 ELSE 1 END AS brk FROM f),
        |s AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM l)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_word,
        |CAST(max(pos) + 7 AS BIGINT) AS end_word, count(*) AS n_grams
        |FROM s GROUP BY doc_id, island""".stripMargin)),
    // the excision rewrite: flagged gram starts → covered positions →
    // anti-join the token table → order-preserving re-assembly.  Docs
    // with every word covered drop (no unique remainder), both sides.
    QuerySpec("d_substring_excised", Headline, Dedup.substringExcise(_, _), Oracle(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(a[i : i+7], ' ') AS gram
        |FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 7, 0))) AS i) t),
        |df AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY 1),
        |f AS (SELECT doc_id, pos FROM g JOIN df USING (gram) WHERE df >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos + i AS wpos
        |FROM f, LATERAL (SELECT unnest(range(0, 8)) AS i) t),
        |toks AS (SELECT doc_id, i - 1 AS wpos, a[i] AS tok
        |FROM w, LATERAL (SELECT unnest(generate_series(1, len(a))) AS i) t)
        |SELECT t.doc_id, count(*) AS n_kept,
        |string_agg(t.tok, ' ' ORDER BY t.wpos) AS excised_text
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.wpos = c.wpos
        |WHERE c.doc_id IS NULL GROUP BY 1""".stripMargin)),
    QuerySpec("s_knn_brute", Headline, Knn.bruteForce _, Oracle(
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cosine
        |FROM embeddings, q WHERE vec_id <> 0 ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin)),
    QuerySpec("s_knn_batch", Untimed, Knn.knnBatch(_, _), Oracle(
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.query_id, e.vec_id,
        |round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine,
        |row_number() OVER (PARTITION BY q.query_id
        |ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC, e.vec_id) AS rnk
        |FROM embeddings e, q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, vec_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM s WHERE rnk <= 5""".stripMargin)),
    QuerySpec("s_range_search", Untimed, Knn.rangeSearch(_, _), Oracle(SRangeSearchSql)),
    // the LSH plan's recall is 1.0 on the fixed corpus+seed
    // (RangeSearchSpec), so the banded path is held to the SAME exact
    // brute-force SQL — the d_neardup_cosine oracle pairing
    QuerySpec("s_range_search_lsh", Headline, Knn.rangeSearchLsh(_, _), Oracle(SRangeSearchSql)),
    // the banded layout AT REST (LshWarehouse): probe band keys become
    // a literal partition-pruning predicate; the serving-path twin of
    // s_range_search_lsh answers the identical range query
    QuerySpec("s_range_search_probe", Probe, (s: SparkSession, d: String) =>
      graft.similarity.LshWarehouse.rangeProbe(s,
        graft.sources.Materialized.pathFor("lsh_warehouse_reg", d)(
          graft.similarity.LshWarehouse.materialize(s, d, _))),
      Oracle(SRangeSearchSql), warehoused = true),
    // the delete verb on the ANN family: tombstone takedown of a
    // cross-cutting corpus slice (vec_id % 5 == 3; queries exempt — a
    // takedown changes which vectors can answer, not who can ask);
    // oracled with the range-search text over the survivors
    QuerySpec("s_range_search_retracted", Probe, (s: SparkSession, d: String) =>
      graft.similarity.LshWarehouse.rangeProbe(s,
        graft.sources.Materialized.pathFor("lsh_warehouse_retracted", d) { p =>
          graft.similarity.LshWarehouse.materialize(s, d, p)
          graft.similarity.LshWarehouse.retract(
            graft.sources.Tables(s, d).embeddings
              .filter(pmod(col("vec_id"), lit(5L)) === 3 && col("vec_id") >= 10)
              .select(col("vec_id")), p)
        }),
      Oracle(SRangeSearchRetractedSql), warehoused = true),
    QuerySpec("s_knn_lsh", Untimed, Knn.lshAnn _,
      NoOracle("random-hyperplane LSH internals; DedupSpec")),
    QuerySpec("s_knn_lsh_mp", Untimed, Knn.lshAnnMulti _,
      NoOracle("multi-probe LSH internals; DedupSpec")),
    // batched multi-probe serving shape
    QuerySpec("s_knn_lsh_batch", Untimed, Knn.lshBatch(_, _),
      NoOracle("multi-probe LSH; equals the single-query ranking per query in DedupSpec")),
    // recall@k of the LSH serving paths vs the brute-force truth, per
    // probing strategy — the index-quality monitor a deployment polls
    QuerySpec("s_knn_recall_report", Untimed, Knn.recallReport(_, _),
      NoOracle("grades LSH paths; arithmetic and multi-probe lift in RecallMonitorSpec")),
    // the monitor at rest: grades the MAINTAINED LshWarehouse +
    // IvfWarehouse after refresh + retract + compact, each family on its
    // own serving verb (probeBatch / rangeProbe)
    QuerySpec("s_knn_recall_report_probe", Probe, graft.similarity.RecallMonitor.report(_, _),
      NoOracle("grades LSH/IVF indexes at rest; RecallMonitorSpec"), warehoused = true),
    // the same drifted IVF index graded before and after the recluster
    // pass — same brute truth, so the recall delta isolates the quantizer
    QuerySpec("s_knn_recall_drift_repair", Probe, graft.similarity.RecallMonitor.driftRepairReport(_, _),
      NoOracle("grades a trained IVF quantizer; RecallMonitorSpec"), warehoused = true),
    // the drifted build repaired via the blue/green reclusterIfBetter;
    // on this corpus the re-fit regresses recall, so the row is the gate
    // holding (swapped = false, standing state untouched)
    QuerySpec("s_knn_recluster_gated", Untimed, graft.similarity.RecallMonitor.gatedRepairReport(_, _),
      NoOracle("trained quantizer; ScaleSpec drives both gate branches")),
    // the maintained IVF-PQ code table graded after refresh + retract +
    // compact: raw ADC (candidate generation) and the refined serving
    // stage side by side
    QuerySpec("s_knn_recall_report_pq", Probe, graft.similarity.RecallMonitor.pqReport(_, _),
      NoOracle("two trained quantizers; PqSpec"), warehoused = true),
    // the drifted IVF-PQ build repaired via requantizeIfBetter: both
    // quantizers re-trained on the compacted survivors into staging,
    // swapped only on refined-recall non-regression
    QuerySpec("s_knn_requantize_gated", Probe, graft.similarity.RecallMonitor.gatedRequantizeReport(_, _),
      NoOracle("trained quantizers; PqSpec drives both gate branches"), warehoused = true),
    // the maintained indexes graded on a seeded hash-mod sample of the
    // standing ids — the rotating production poll
    QuerySpec("s_knn_recall_report_seeded", Untimed, graft.similarity.RecallMonitor.seededReport(_, _),
      NoOracle("monitor over trained indexes; determinism in RecallMonitorSpec")),
    // the PQ lane's serving verb at rest: raw ADC generates, the exact
    // re-rank against the primary store serves
    QuerySpec("s_knn_pq_probe_refined", Untimed, graft.similarity.PqWarehouse.refinedProbeRegistered(_, _),
      NoOracle("trained quantizers; containment and exactness in PqSpec")),
    // batched IVF serving: knnBatch's shape on the centroid-partitioned
    // layout
    QuerySpec("s_knn_ivf_batch", Untimed, Knn.ivfBatch(_, _),
      NoOracle("trained IVF quantizer; equals single-query ivfAnn in DedupSpec")),
    // the kNN GRAPH pair: exact baseline (oracled; tie-stable on the
    // 6-dp rounded cosine then neighbor id) + the LSH-blocked scale path
    QuerySpec("s_knn_graph", Untimed, Knn.knnGraph(_, _), Oracle(SKnnGraphSql)),
    QuerySpec("s_knn_graph_lsh", Untimed, Knn.knnGraphLsh(_, _),
      NoOracle("LSH bucket internals; exactly-once and recall in KnnGraphSpec")),
    // incremental maintenance: standing graph + one ×batch scored pass;
    // base ∪ batch = the whole table, so the fold must equal the direct
    // build: s_knn_graph's oracle
    QuerySpec("s_knn_graph_refresh", Untimed, Knn.knnGraphRefresh(_, _), Oracle(SKnnGraphSql)),
    // the graph SQL + a swapped self-join; cosine symmetric, either
    // side serves
    QuerySpec("s_knn_graph_mutual", Untimed, Knn.knnGraphMutual(_, _), Oracle(
      s"""WITH $SKnnMutualCtes
        |SELECT a_id, b_id, cosine FROM m""".stripMargin)),
    // embedding clustering: CC (the Dedup fold) over the mutual graph;
    // the oracle composes the mutual CTEs with the recursive
    // reachability closure (the d_dedup_groups pairing)
    QuerySpec("s_cluster_mutual_knn", Untimed, Knn.clusterMutualKnn(_, _), Oracle(
      s"""WITH RECURSIVE $SKnnMutualCtes,
        |edges AS (SELECT a_id AS u, b_id AS v FROM m UNION SELECT b_id, a_id FROM m),
        |reach AS (SELECT vec_id AS u, vec_id AS v FROM embeddings
        |UNION SELECT r2.u, e2.v FROM reach r2 JOIN edges e2 ON r2.v = e2.u),
        |comp AS (SELECT u AS vec_id, min(v) AS cluster_id FROM reach GROUP BY 1)
        |SELECT vec_id, cluster_id,
        |count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM comp""".stripMargin)),
    // the clustering's scale path over the LSH-blocked graph
    QuerySpec("s_cluster_mutual_knn_lsh", Untimed, Knn.clusterMutualKnnLsh(_, _),
      NoOracle("clusters the LSH-blocked graph; KnnGraphSpec")),
    QuerySpec("s_graph_centrality", Untimed, graft.similarity.Centrality.graphCentrality _,
      NoOracle("iterative, 8 fixed rounds; KnnGraphSpec")),
    QuerySpec("s_knn_ivf", Untimed, Knn.ivfAnn _, NoOracle("trained IVF quantizer; DedupSpec")),
    // the ANN delete verb on the coarse-quantized family: ingest →
    // frozen-quantizer refresh → retract → tombstone-aware probe
    QuerySpec("s_knn_ivf_retracted", Probe, graft.similarity.IvfWarehouse.retractedProbe(_, _),
      NoOracle("trained IVF quantizer; probe equals rebuild on survivors in ScaleSpec"), warehoused = true),
    QuerySpec("s_kmeans", Untimed, Kmeans.kmeansHistory _,
      NoOracle("iterative trainer; KmeansSpec")),
    // logistic-regression quality classifier + the scoring pass it feeds
    QuerySpec("s_logreg", Headline, Logreg.logregHistory _,
      NoOracle("iterative GD trainer; gradient parity and determinism in LogregSpec")),
    QuerySpec("s_logreg_score", Untimed, Logreg.logregScore _,
      NoOracle("scores with an iteratively trained model; LogregSpec")),
    // one-vs-rest multiclass: K classifiers advance jointly, one
    // dims-group shuffle per GD iteration regardless of K
    QuerySpec("s_logreg_ovr", Untimed, Logreg.logregOvr _,
      NoOracle("iterative GD trainer; accuracy and determinism in LogregOvrSpec")),
    QuerySpec("s_logreg_ovr5", Headline, Logreg.logregOvr5 _,
      NoOracle("iterative GD trainer; LogregOvrSpec")),
    QuerySpec("s_knn_pq", Headline, Pq.pqAnn _, NoOracle("trained k-means codebooks; PqSpec")),
    QuerySpec("s_bm25", Headline, Bm25.bm25(_, _), Oracle(SBm25Sql)),
    // the hybrid fuses the SAME lexical leg (SBm25Sql as a CTE) with
    // the exact knnBatch body at k=10; RRF arithmetic is all-rational
    // (1.0/(60+rank)) through the DECIMAL route — engine-exact
    QuerySpec("s_hybrid_rrf", Headline, Bm25.hybridRrf(_, _), Oracle(
      s"""WITH lex AS ($SBm25Sql),
         |vq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |FROM embeddings WHERE vec_id < 10),
         |vs AS (SELECT vq.query_id, e.vec_id AS doc_id,
         |row_number() OVER (PARTITION BY vq.query_id
         |ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], vq.qv), 6) DESC, e.vec_id) AS rnk
         |FROM embeddings e, vq WHERE e.vec_id <> vq.query_id),
         |vec AS (SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS rnk FROM vs WHERE rnk <= 10),
         |u AS (SELECT query_id, doc_id, rnk FROM lex
         |UNION ALL SELECT query_id, doc_id, rnk FROM vec),
         |g AS (SELECT query_id, doc_id,
         |CAST(sum(CAST(round(1.0 / (60 + rnk), 9) AS DECIMAL(30,6))) AS DOUBLE) AS score,
         |CAST(count(*) AS BIGINT) AS n_legs
         |FROM u GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, round(score, 6) AS rrf, n_legs,
         |row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id) AS rnk FROM g)
         |SELECT query_id, doc_id, rrf, n_legs, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 10""".stripMargin)),
    // the at-rest probe: same BM25 arithmetic, base/incoming split
    // (doc_id mod 10, 8:2 — the MinHashWarehouse split) with the probe
    // batch bounded at doc_id < 1000; df/N/avgdl are BASE-corpus stats
    QuerySpec("s_bm25_probe", Headline, (s: SparkSession, d: String) =>
      Bm25Warehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("bm25_warehouse", d)(
          Bm25Warehouse.materialize(s, d, _))),
      Oracle(SBm25ProbeSql), warehoused = true),
    // the maintenance loop end-to-end: ingest 7/10 of the base, fold
    // the last base slice in by refresh, COMPACT the delta side, then
    // probe.  Compaction changes no per-term sum, so the row holds
    // s_bm25_probe's oracle while its bench row tracks the probe cost
    // compaction buys back
    QuerySpec("s_bm25_probe_compacted", Headline, (s: SparkSession, d: String) =>
      Bm25Warehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("bm25_compacted", d) { p =>
          val docs = graft.sources.Tables(s, d).documents
          Bm25Warehouse.materializeFrom(s,
            docs.filter(pmod(col("doc_id"), lit(10)) < 7), p)
          Bm25Warehouse.refresh(s,
            docs.filter(pmod(col("doc_id"), lit(10)) === 7), p)
          Bm25Warehouse.compact(s, p)
        }),
      Oracle(SBm25ProbeSql), warehoused = true),
    // retention end-to-end: ingest -> refresh -> compact -> VACUUM ->
    // probe.  Vacuum deletes only the dead pre-compact generations, so
    // the probe still answers s_bm25_probe's oracle (a probe pinned
    // before vacuum fails loudly: Bm25WarehouseSpec)
    QuerySpec("s_bm25_probe_vacuumed", Probe, (s: SparkSession, d: String) =>
      Bm25Warehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("bm25_vacuumed", d) { p =>
          val docs = graft.sources.Tables(s, d).documents
          Bm25Warehouse.materializeFrom(s,
            docs.filter(pmod(col("doc_id"), lit(10)) < 7), p)
          Bm25Warehouse.refresh(s,
            docs.filter(pmod(col("doc_id"), lit(10)) === 7), p)
          Bm25Warehouse.compact(s, p)
          graft.sources.CommitLog.vacuum(s, p)
          graft.sources.CommitLog.checkpoint(s, p)
        }),
      Oracle(SBm25ProbeSql), warehoused = true),
    // the delete verb on the scored index (tombstoned postings +
    // NEGATIVE df deltas + stats decrement): must equal the probe text
    // over base ∖ removed
    QuerySpec("s_bm25_probe_retracted", Probe, (s: SparkSession, d: String) =>
      Bm25Warehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("bm25_retracted", d)(
          Bm25Warehouse.materializeRetracted(s, d, _))),
      Oracle(sBm25ProbeSqlVs("doc_id % 10 < 7")), warehoused = true),
    // two-stage serving: ADC shortlist -> exact re-rank.  A true #10
    // sat below ADC rank 500/1999 at sf0.1, so no brute-SQL pairing
    // holds (see Pq.pqRefine)
    QuerySpec("s_knn_pq_refined", Headline, Pq.pqRefine(_, _),
      NoOracle("shortlist misses the true top-10 on this corpus; PqSpec")),
    QuerySpec("s_knn_ivfpq", Untimed, Pq.ivfPqAnn(_, _),
      NoOracle("two trained quantizers; PqSpec")),
    // the full serving stack: IVF pruning + PQ codes + exact re-rank
    QuerySpec("s_knn_ivfpq_refined", Headline, Pq.ivfPqRefine(_, _),
      NoOracle("two trained quantizers; stage-2 exactness in PqSpec")),
    // the PCA family: the covariance statistic is exactly
    // SQL-expressible — the fixed-point moment identity n·Σxy − Σx·Σy,
    // integer end-to-end (HUGEINT sums), one double division + 9-dp round
    // — while the eigensolver legs are iterative
    QuerySpec("s_embed_cov", Headline, Pca.embedCov _, Oracle(SEmbedCovSql)),
    QuerySpec("s_pca", Untimed, Pca.pcaComponents _, NoOracle("iterative eigensolver; PcaSpec")),
    QuerySpec("s_knn_pca", Headline, Pca.knnPca _, NoOracle("iterative eigensolver; PcaSpec")),
    // moments at rest: ingest(base) → refresh(incoming) → serve; the
    // union covers the whole table and integer moments are associative,
    // so the probe holds s_embed_cov's oracle
    QuerySpec("s_embed_cov_probe", Headline, (s: SparkSession, d: String) =>
      graft.similarity.PcaWarehouse.covProbe(s, d,
        graft.similarity.PcaWarehouse.builtPath(s, d)),
      Oracle(SEmbedCovSql), warehoused = true),
    QuerySpec("s_pca_probe", Untimed, (s: SparkSession, d: String) =>
      graft.similarity.PcaWarehouse.pcaProbe(s, d,
        graft.similarity.PcaWarehouse.builtPath(s, d)),
      NoOracle("iterative eigensolver; PcaWarehouseSpec")),
    // per-dim base-vs-incoming mean/variance — the signal that
    // schedules quantizer retraining.  Per-split integer moments, one
    // division + roundx per statistic; drift_z is two correctly-rounded
    // IEEE ops on already-rounded inputs
    QuerySpec("d_embed_drift", Untimed, graft.similarity.EmbedDrift.embedDrift _, Oracle(
      """WITH g AS (SELECT vec_id % 10 < 8 AS is_base, CAST(t.i - 1 AS BIGINT) AS i,
        |CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qx
        |FROM embeddings, range(1, 65) AS t(i)),
        |a AS (SELECT i, is_base, CAST(count(*) AS BIGINT) AS n, sum(qx) AS sx, sum(qx * qx) AS sxx
        |FROM g GROUP BY 1, 2),
        |b AS (SELECT i, n AS n_base,
        |round(CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 9) AS mean_base,
        |round(CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12), 9) AS var_base
        |FROM a WHERE is_base),
        |c AS (SELECT i, n AS n_inc,
        |round(CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 9) AS mean_inc,
        |round(CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12), 9) AS var_inc
        |FROM a WHERE NOT is_base)
        |SELECT b.i, n_base, n_inc, mean_base, mean_inc, var_base, var_inc,
        |round(mean_inc - mean_base, 9) AS mean_delta,
        |CASE WHEN var_base > 0 THEN round(abs(mean_inc - mean_base) / sqrt(var_base), 6) END AS drift_z
        |FROM b JOIN c ON b.i = c.i""".stripMargin)),
    // projections at rest (frozen projector trained off the moments
    // index): R-dim index scan + keyed exact re-rank
    QuerySpec("s_knn_pca_probe", Untimed, (s: SparkSession, d: String) =>
      graft.similarity.PcaWarehouse.annProbe(s, d,
        graft.similarity.PcaWarehouse.builtAnnPath(s, d)),
      NoOracle("trained projector; PcaWarehouseSpec")),
    // the maintained projection index — frozen projector, refreshed +
    // retracted + compacted — graded on its own two-stage serving verb
    QuerySpec("s_knn_recall_report_pca", Probe, graft.similarity.RecallMonitor.pcaReport(_, _),
      NoOracle("trained projector; PcaWarehouseSpec"), warehoused = true),
    // the drifted build repaired through reprojectIfBetter: swap only
    // on serving-recall non-regression
    QuerySpec("s_knn_reproject_gated", Probe, graft.similarity.RecallMonitor.gatedReprojectReport(_, _),
      NoOracle("trained projector; PcaWarehouseSpec drives both gate branches"), warehoused = true),
    QuerySpec("d_semdedup", Untimed, SemDedup.semDedup(_, _),
      NoOracle("trained coarse quantizer; SemDedupSpec")),
    // SemDeDup at rest: the incoming batch assigns to the IVF
    // warehouse's frozen centroids and sweeps ONLY the cid partitions it
    // lands in
    QuerySpec("d_semdedup_probe", Probe, (s: SparkSession, d: String) =>
      SemDedup.semDedupProbe(s, d, SemDedup.ivfPath(s, d)),
      NoOracle("trained coarse quantizer; probe equals inline sweep in SemDedupSpec"), warehoused = true),
    QuerySpec("d_bloom_decontaminate", Untimed, TrainPrep.bloomDecontaminate(_, _),
      NoOracle("Bloom false-positive class; TrainPrepSpec")),
    // the eval filter at rest (BloomWarehouse): benchmark generations
    // fold in as OR-mergeable delta filters; train ingest probes without
    // rescanning eval docs
    QuerySpec("d_bloom_decontaminate_probe", Probe, (s: SparkSession, d: String) =>
      BloomWarehouse.probe(s, d, BloomWarehouse.builtPath(s, d)),
      NoOracle("Bloom false-positive class; BloomWarehouseSpec"), warehoused = true),
    // training-data preparation (chunking, split, shards, scrub)
    QuerySpec("t_chunk", Untimed, TrainPrep.chunkDocs(_, _), Oracle(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |c AS (SELECT doc_id, a,
        |CASE WHEN len(a) <= 64 THEN 1 ELSE 1 + (len(a) - 64 + 47) // 48 END AS n_chunks FROM w),
        |x AS (SELECT doc_id, a, i AS chunk_id
        |FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) t)
        |SELECT doc_id, chunk_id,
        |CAST(len(a[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT) AS n_tokens,
        |array_to_string(a[chunk_id*48+1 : chunk_id*48+64], ' ') AS chunk_text FROM x""".stripMargin)),
    QuerySpec("d_sample_split", Untimed, TrainPrep.sampleSplit _, Oracle(
      """WITH h AS (SELECT doc_id, ('0x' || substring(md5(text), 1, 15))::BIGINT % 100 AS bucket FROM documents)
        |SELECT doc_id, bucket,
        |CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM h""".stripMargin)),
    QuerySpec("d_sample_stratified", Untimed, TrainPrep.sampleStratified(_, _),
      Oracle(DSampleStratifiedSql)),
    // exponential race: u is an exact rational from the md5-52-bit
    // parse (the t_fingerprint pattern), ln 9-dp-licensed, weight the
    // HOISTED 4-dp quality expression (TQualityScoreExpr — shared with
    // TQualitySql so the two oracles can't desynchronize), ties on
    // doc_id.  NULLS LAST pins the engine-divergent NULL sort default
    // (DuckDB: last; Spark ASC: first) — mirrored by asc_nulls_last in
    // TrainPrep.sampleWeighted so a degenerate null/empty text can
    // never flip the top-k boundary between engines.
    QuerySpec("d_sample_weighted", Untimed, TrainPrep.sampleWeighted(_, _), Oracle(
      s"""WITH x AS ($TQualityNwSwSql),
        |r AS (SELECT doc_id,
        |$TQualityScoreExpr AS weight,
        |(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1) / 4503599627370497.0 AS u
        |FROM x)
        |SELECT doc_id, weight, round(-ln(u) / weight, 9) AS race_key
        |FROM r ORDER BY race_key NULLS LAST, doc_id LIMIT 64""".stripMargin)),
    // mixture→rates arithmetic is all-integer at ppm scale (no double
    // division near the keep/drop boundary); weights: src0 boosted 6×
    QuerySpec("d_domain_mix", Untimed, TrainPrep.domainMix(_, _), Oracle(
      """WITH d AS (SELECT doc_id, source, text,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
        |CAST(CASE WHEN source = 'src0' THEN 240 ELSE 40 END AS BIGINT) AS target_w
        |FROM d GROUP BY 1),
        |m AS (SELECT min((src_tokens * 1000000) // target_w) AS m_scaled FROM s),
        |r AS (SELECT source,
        |CAST(least(1000000, (target_w * m_scaled) // src_tokens) AS BIGINT) AS keep_ppm
        |FROM s, m),
        |b AS (SELECT doc_id, source, n_tokens,
        |('0x' || substring(md5(text), 1, 15))::BIGINT % 1000000 AS bucket FROM d)
        |SELECT b.doc_id, b.source, b.n_tokens, r.keep_ppm, b.bucket,
        |CAST(CASE WHEN b.bucket < r.keep_ppm THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM b JOIN r USING (source)""".stripMargin)),
    // quality_score composes the hoisted t_quality body verbatim;
    // ordering is engine-stable because the score is rounded to 4 dp
    // (exact ties), doc_id breaks them
    QuerySpec("d_domain_cap", Headline, TrainPrep.domainCap(_, _), Oracle(
      s"""WITH q AS ($TQualitySql)
         |SELECT doc_id, source, rk, quality_score FROM (
         |SELECT d.doc_id, d.source, q.quality_score,
         |row_number() OVER (PARTITION BY d.source
         |ORDER BY q.quality_score DESC, d.doc_id) AS rk
         |FROM documents d JOIN q ON q.doc_id = d.doc_id) t
         |WHERE rk <= 20""".stripMargin)),
    QuerySpec("d_train_shards", Untimed, TrainPrep.trainShards(_, _), Oracle(
      """WITH h AS (SELECT doc_id, ('0x' || substring(md5(text), 1, 15))::BIGINT AS h FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        |CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos FROM h""".stripMargin)),
    // training set at rest, materialized once per (view, dir) per JVM;
    // the oracle gates on the hoisted funnel body, then runs the
    // d_train_shards window over the survivors
    QuerySpec("d_train_shards_read", Untimed, (s: SparkSession, d: String) =>
      TrainWarehouse.shardLayout(s,
        graft.sources.Materialized.pathFor("train_warehouse", d)(
          TrainWarehouse.materialize(s, d, _))),
      Oracle(
        s"""WITH fn AS ($DCorpusFunnelSql),
           |kd AS (SELECT d.doc_id, d.text FROM documents d
           |JOIN fn ON fn.doc_id = d.doc_id WHERE fn.keep = 1),
           |h AS (SELECT doc_id, ('0x' || substring(md5(text), 1, 15))::BIGINT AS h FROM kd)
           |SELECT doc_id, h % 8 AS shard,
           |CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos FROM h""".stripMargin)),
    QuerySpec("t_redact", Untimed, TrainPrep.redact _, Oracle(
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[0-9]{2,}')) AS BIGINT) AS n_redacted,
        |regexp_replace(text, '[0-9]{2,}', '<NUM>', 'g') AS redacted_text FROM documents""".stripMargin)),
    // packing = the t_chunk body joined to the d_train_shards body +
    // one per-shard running sum; all-integer math, 256-token
    // sequences.  The CTE chain is hoisted (TPackCtesSql) and shared
    // VERBATIM by the packing-efficiency report below.
    QuerySpec("t_pack", Untimed, TrainPrep.packSequences(_, _), Oracle(
      s"""WITH $TPackCtesSql
        |SELECT doc_id, chunk_id, shard, CAST(stream_offset AS BIGINT) AS stream_offset,
        |CAST(stream_offset // 256 AS BIGINT) AS seq_id FROM s""".stripMargin)),
    // packing-efficiency telemetry off the t_pack stream frame, per
    // shard; all-integer (ceil-div sequence count, boundary straddlers,
    // ppm fill rate), so the report hash-matches exactly
    QuerySpec("t_pack_stats", Untimed, TrainPrep.packStats(_, _), Oracle(
      s"""WITH $TPackCtesSql,
        |t AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_chunks,
        |CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |CAST(sum(CASE WHEN stream_offset // 256 <> (stream_offset + n_tokens - 1) // 256
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
        |FROM s GROUP BY 1)
        |SELECT shard, n_chunks, n_tokens,
        |CAST((n_tokens + 255) // 256 AS BIGINT) AS n_seqs, n_straddlers,
        |CAST(n_tokens * 1000000 // (((n_tokens + 255) // 256) * 256) AS BIGINT) AS fill_ppm
        |FROM t""".stripMargin)),
    QuerySpec("d_decontaminate", Untimed, TrainPrep.decontaminate(_, _), Oracle(
      """WITH docs AS (SELECT doc_id, ('0x' || substring(md5(text), 1, 15))::BIGINT % 100 AS bucket,
        |string_split(text, ' ') AS a FROM documents),
        |g AS (SELECT DISTINCT doc_id, bucket, array_to_string(a[i : i+7], ' ') AS gram
        |FROM docs, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 7, 0))) AS i) t),
        |tr AS (SELECT doc_id, gram FROM g WHERE bucket < 80),
        |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE bucket >= 90)
        |SELECT doc_id, count(DISTINCT gram) AS n_shared_grams, count(DISTINCT eval_id) AS n_eval_docs
        |FROM tr JOIN ev USING (gram) GROUP BY 1""".stripMargin)),
    // the same overlap, aggregated on the EVAL side
    QuerySpec("d_contamination_report", Headline, TrainPrep.contaminationReport(_, _), Oracle(
      """WITH docs AS (SELECT doc_id, ('0x' || substring(md5(text), 1, 15))::BIGINT % 100 AS bucket,
        |string_split(text, ' ') AS a FROM documents),
        |g AS (SELECT DISTINCT doc_id, bucket, array_to_string(a[i : i+7], ' ') AS gram
        |FROM docs, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 7, 0))) AS i) t),
        |tr AS (SELECT doc_id, gram FROM g WHERE bucket < 80),
        |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE bucket >= 90)
        |SELECT eval_id, count(DISTINCT gram) AS n_shared_grams, count(DISTINCT doc_id) AS n_train_docs
        |FROM tr JOIN ev USING (gram) GROUP BY 1""".stripMargin)),
    // the funnel's gates are the per-signal oracle bodies verbatim
    // (hoisted vals above) — composition can't drift from the signals
    QuerySpec("d_corpus_funnel", Headline, TrainPrep.corpusFunnel(_, _), Oracle(DCorpusFunnelSql)),
    // λ's ratio is a quotient of quotients of exact integers (no
    // product form — nothing to overflow), ln through the s_bm25 9-dp +
    // DECIMAL route; ordering/cut compare the 6-dp round
    QuerySpec("d_dsir_sample", Headline, TrainPrep.dsirSample(_, _), Oracle(
      """WITH tk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |tb AS (SELECT doc_id, lang, ('0x' || substring(md5(term), 1, 15))::BIGINT % 1024 AS b FROM tk),
        |bc AS (SELECT b, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cr FROM tb GROUP BY 1),
        |st AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM bc),
        |lam AS (SELECT b, round(ln(((ct + 1.0) / CAST(st.nt + 1024 AS DOUBLE)) /
        |((cr + 1.0) / CAST(st.nr + 1024 AS DOUBLE))), 9) AS lam FROM bc CROSS JOIN st),
        |w AS (SELECT tb.doc_id, tb.lang, CAST(sum(CAST(lam AS DECIMAL(30,6))) AS DOUBLE) AS score
        |FROM tb JOIN lam ON tb.b = lam.b WHERE tb.lang <> 'en' GROUP BY 1, 2),
        |r AS (SELECT doc_id, lang, round(score, 6) AS dsir,
        |row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rnk FROM w)
        |SELECT doc_id, lang, dsir, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 100""".stripMargin)),
    // greedy selection under a token budget: the plan is the threshold
    // decomposition (bucket totals + a prefix fold + a window over ONLY
    // the boundary bucket), oracled per row by the naive global cumsum —
    // the equality is the decomposition's correctness proof
    QuerySpec("d_budget_select", Probe, TrainPrep.budgetSelect(_, _), Oracle(
      s"""WITH q AS ($TQualitySql),
         |j AS (SELECT q.doc_id AS doc_id, q.quality_score AS quality_score,
         |CAST(len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS re_tokens
         |FROM q JOIN documents d ON q.doc_id = d.doc_id)
         |SELECT doc_id, quality_score, re_tokens,
         |CAST(sum(re_tokens) OVER (ORDER BY quality_score DESC, doc_id) <= 10000 AS BIGINT) AS kept
         |FROM j""".stripMargin)),
    // the corpus → training-set funnel end-to-end: gate → group/keep-best
    // → decontaminate → budget-select → pack → shard, reported as
    // per-stage (n_in, n_out).  Each oracle stage is its registered body
    // verbatim, chained on the previous stage's survivor ids
    QuerySpec("d_pipeline_e2e", Probe, TrainPrep.pipelineE2e(_, _), Oracle(materializedCtes(
      s"""WITH fn AS ($DCorpusFunnelSql),
         |gated AS (SELECT doc_id FROM fn WHERE keep = 1),
         |g AS ($DDedupGroupsSql), q AS ($TQualitySql),
         |jg AS (SELECT g.doc_id AS doc_id, g.group_id AS group_id,
         |q.quality_score AS quality_score FROM g
         |JOIN q ON g.doc_id = q.doc_id JOIN gated ON g.doc_id = gated.doc_id),
         |kb AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER
         |(PARTITION BY group_id ORDER BY quality_score DESC, doc_id) AS rn
         |FROM jg) WHERE rn = 1),
         |docs8 AS (SELECT doc_id, ('0x' || substring(md5(text), 1, 15))::BIGINT % 100 AS bucket,
         |string_split(text, ' ') AS a FROM documents),
         |g8 AS (SELECT DISTINCT doc_id, bucket, array_to_string(a[i : i+7], ' ') AS gram
         |FROM docs8, LATERAL (SELECT unnest(generate_series(1, greatest(len(a) - 7, 0))) AS i) t),
         |cand AS (SELECT d.doc_id FROM docs8 d JOIN kb ON d.doc_id = kb.doc_id
         |WHERE d.bucket < 80),
         |tr AS (SELECT g8.doc_id AS doc_id, gram FROM g8 JOIN cand ON g8.doc_id = cand.doc_id),
         |ev AS (SELECT gram FROM g8 WHERE bucket >= 90),
         |contaminated AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (gram)),
         |clean AS (SELECT doc_id FROM cand
         |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |bsj AS (SELECT q.doc_id AS doc_id, q.quality_score AS quality_score,
         |CAST(len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS re_tokens
         |FROM q JOIN documents d ON q.doc_id = d.doc_id
         |JOIN clean c ON q.doc_id = c.doc_id),
         |sel AS (SELECT doc_id FROM (SELECT doc_id,
         |CAST(sum(re_tokens) OVER (ORDER BY quality_score DESC, doc_id) <= 10000 AS BIGINT) AS kept
         |FROM bsj) WHERE kept = 1),
         |sw AS (SELECT w.doc_id AS doc_id, w.a AS a FROM
         |(SELECT doc_id, string_split(text, ' ') AS a FROM documents) w
         |JOIN sel ON w.doc_id = sel.doc_id),
         |sc AS (SELECT doc_id, a,
         |CASE WHEN len(a) <= 64 THEN 1 ELSE 1 + (len(a) - 64 + 47) // 48 END AS n_chunks FROM sw),
         |chunks AS (SELECT doc_id, i AS chunk_id,
         |CAST(len(a[i*48+1 : i*48+64]) AS BIGINT) AS n_tokens
         |FROM sc, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) t),
         |hh AS (SELECT d.doc_id AS doc_id, ('0x' || substring(md5(d.text), 1, 15))::BIGINT AS h
         |FROM documents d JOIN sel ON d.doc_id = sel.doc_id),
         |layout AS (SELECT doc_id, h % 8 AS shard,
         |CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos FROM hh),
         |pk AS (SELECT l.shard AS shard,
         |(sum(c.n_tokens) OVER (PARTITION BY l.shard ORDER BY l.pos, c.chunk_id) - c.n_tokens) // 256 AS seq_id
         |FROM chunks c JOIN layout l ON c.doc_id = l.doc_id)
         |SELECT '1_gate' AS stage, (SELECT count(*) FROM documents) AS n_in,
         |(SELECT count(*) FROM gated) AS n_out
         |UNION ALL SELECT '2_keep_best', (SELECT count(*) FROM gated), (SELECT count(*) FROM kb)
         |UNION ALL SELECT '3_decontaminate', (SELECT count(*) FROM kb), (SELECT count(*) FROM clean)
         |UNION ALL SELECT '4_budget_select', (SELECT count(*) FROM clean), (SELECT count(*) FROM sel)
         |UNION ALL SELECT '5_pack', (SELECT count(*) FROM sel), (SELECT count(*) FROM chunks)
         |UNION ALL SELECT '6_shard', (SELECT count(*) FROM chunks),
         |(SELECT count(*) FROM (SELECT DISTINCT shard, seq_id FROM pk))""".stripMargin)),
      warehoused = true),
    // composes the hoisted CC body: split rides the GROUP's canonical
    // content hash, same 80/10/10 bucket rule as d_sample_split
    QuerySpec("d_split_leakage_safe", Headline, TrainPrep.leakageSafeSplit _, Oracle(
      s"""WITH g AS ($DDedupGroupsSql),
         |c AS (SELECT doc_id AS group_id,
         |('0x' || substring(md5(text), 1, 15))::BIGINT % 100 AS bucket FROM documents)
         |SELECT g.doc_id, g.group_id, c.bucket,
         |CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM g JOIN c USING (group_id)""".stripMargin), warehoused = true),
    // corpus profiling (vocabulary, length distributions, repetition)
    QuerySpec("t_vocab_topk", Untimed, CorpusStats.vocabTopK(_, _), Oracle(
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM w GROUP BY 1 ORDER BY tf DESC, token LIMIT 100""".stripMargin)),
    // Misra-Gries summary: the contract is the guarantee (coverage
    // above n/(k+1), bounded underestimates), not the surviving rows
    QuerySpec("t_heavy_hitters", Headline, CorpusStats.heavyHitters(_, _),
      NoOracle("Misra-Gries guarantee, not a row set; HeavyHittersSpec")),
    // heavy hitters at rest (MgWarehouse): per-generation MG summaries
    // merged at probe time
    QuerySpec("t_heavy_hitters_probe", Probe, (s: SparkSession, d: String) =>
      MgWarehouse.probe(s, MgWarehouse.builtPath(s, d)),
      NoOracle("Misra-Gries guarantee, not a row set; MgWarehouseSpec"), warehoused = true),
    QuerySpec("t_bpe_pairs", Untimed, CorpusStats.bpePairs(_, _), Oracle(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |p AS (SELECT doc_id, unnest(CASE WHEN len(a) >= 2
        |THEN list_transform(generate_series(1, len(a) - 1), i -> a[i] || ' ' || a[i+1])
        |ELSE [] END) AS pair FROM w)
        |SELECT pair, count(*) AS n, count(DISTINCT doc_id) AS df
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 100""".stripMargin)),
    QuerySpec("t_bpe_merges", Headline, CorpusStats.bpeMerges(_, _),
      NoOracle("iterative trainer; BpeSpec checks a reference implementation")),
    // tokenizer application: trained merges replayed by the native
    // BpeEncode expression in one scan
    QuerySpec("t_bpe_encode", Headline, CorpusStats.bpeEncode(_, _),
      NoOracle("replays trained merges; BpeSpec checks the reference encode")),
    // the tokenizer as a versioned warehouse artifact: the incoming
    // split encoded under the FROZEN base-trained merge table
    // (t_bpe_encode retrains per run)
    QuerySpec("t_bpe_encode_probe", Probe, TokenizerWarehouse.encodeIncoming(_, _),
      NoOracle("frozen trained merges; TokenizerWarehouseSpec"), warehoused = true),
    // ship a candidate merge table only if its holdout fertility does
    // not regress
    QuerySpec("t_bpe_retrain_gate", Untimed, TokenizerWarehouse.gateReport(_, _),
      NoOracle("iterative trainer; TokenizerWarehouseSpec drives both gate branches")),
    // percentiles mirror CorpusStats.corpusStats' bracketing-rank
    // integer arithmetic exactly — NOT quantile_cont, whose double
    // interpolation order differs from Spark's percentile by up to one
    // ULP and once flipped round(…,4) on a tie
    QuerySpec("d_corpus_stats", Untimed, CorpusStats.corpusStats _, Oracle(DCorpusStatsSql)),
    // the GK-sketch production swap
    QuerySpec("d_corpus_stats_approx", Untimed, CorpusStats.corpusStatsApprox _,
      NoOracle("GK sketch; rank guarantee in CorpusStatsSpec")),
    // the profile served from the length histogram at rest
    // (StatsWarehouse): integer counts reconstruct the exact
    // distribution, so the probe holds d_corpus_stats' oracle
    QuerySpec("d_corpus_stats_probe", Probe, (s: SparkSession, d: String) =>
      StatsWarehouse.statsProbe(s, StatsWarehouse.builtPath(s, d)),
      Oracle(DCorpusStatsSql), warehoused = true),
    QuerySpec("t_token_rarity", Untimed, CorpusStats.tokenRarity _, Oracle(
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
         |SELECT doc_id, count(*) AS n_tokens, min(df) AS min_df,
         |round(${AVGX("df")}, 4) AS mean_token_df,
         |round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)/count(*), 4) AS hapax_frac
         |FROM toks JOIN df USING (token) GROUP BY 1""".stripMargin)),
    // the unigram-LM numerator/denominator are exact integers, ln
    // through the s_bm25 9-dp + DECIMAL route, final per-token
    // division on a DECIMAL-exact sum — engine-stable at 6 dp
    QuerySpec("t_perplexity", Headline, CorpusStats.perplexity _, Oracle(
      """WITH tk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |lm AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tk WHERE doc_id % 10 < 8 GROUP BY 1),
        |st AS (SELECT CAST(sum(CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |CAST(count(DISTINCT term) AS BIGINT) AS v FROM tk)
        |SELECT tk.doc_id, tk.lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |round(CAST(sum(CAST(round(-ln((COALESCE(lm.cnt, 0) + 1.0) / CAST(st.nb + st.v AS DOUBLE)), 9) AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS nll
        |FROM tk LEFT JOIN lm ON tk.term = lm.term CROSS JOIN st GROUP BY 1, 2""".stripMargin)),
    // stupid backoff: every branch is an integer/integer quotient (or
    // α× one), ln washed by the same 9-dp + DECIMAL route; the branch
    // condition is bigram-count NULL-ness — integer, engine-stable
    QuerySpec("t_perplexity_bigram", Headline, BigramLm.perplexityBigram _, Oracle(
      """WITH tk AS (SELECT doc_id,
        |CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
        |unnest(string_split(text, ' ')) AS w FROM documents),
        |base AS (SELECT * FROM tk WHERE doc_id % 10 < 8),
        |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM base GROUP BY 1),
        |c2 AS (SELECT a.w AS pw, b.w AS w, CAST(count(*) AS BIGINT) AS c2
        |FROM base a JOIN base b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 GROUP BY 1, 2),
        |st AS (SELECT (SELECT count(*) FROM base) + (SELECT count(DISTINCT w) FROM tk) AS denom),
        |sc AS (SELECT t.doc_id,
        |CASE WHEN p.w IS NULL THEN round(-ln((coalesce(u.c1, 0) + 1.0) / st.denom), 9)
        |WHEN b2.c2 IS NOT NULL THEN round(-ln(CAST(b2.c2 AS DOUBLE) / up.c1), 9)
        |ELSE round(-ln(0.4 * (coalesce(u.c1, 0) + 1.0) / st.denom), 9) END AS nll_tok,
        |CASE WHEN b2.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit
        |FROM tk t CROSS JOIN st
        |LEFT JOIN tk p ON t.doc_id = p.doc_id AND p.pos = t.pos - 1
        |LEFT JOIN c1 u ON t.w = u.w
        |LEFT JOIN c1 up ON p.w = up.w
        |LEFT JOIN c2 b2 ON p.w = b2.pw AND t.w = b2.w)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |CAST(sum(hit) AS BIGINT) AS bigram_hits,
        |round(CAST(sum(CAST(nll_tok AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS nll
        |FROM sc GROUP BY 1""".stripMargin)),
    // the context LM at rest: open-vocab stupid backoff (nb + v + 1,
    // base-split v) against the frozen (c1, c2) index, batch-only
    // tokenize, pruned buckets
    QuerySpec("t_perplexity_bigram_probe", Untimed, (s: SparkSession, d: String) =>
      BigramLmWarehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("bigram_lm_warehouse", d)(
          BigramLmWarehouse.materialize(s, d, _))),
      Oracle(TPerplexityBigramProbeSql)),
    // the bigram LM's maintenance loop: ingest 7/10 of the base, fold
    // the last slice in by refresh, COMPACT both delta tables, then probe;
    // compaction changes no integer sum, so t_perplexity_bigram_probe's
    // oracle holds
    QuerySpec("t_perplexity_bigram_probe_compacted", Untimed, (s: SparkSession, d: String) =>
      BigramLmWarehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("bigram_lm_compacted", d) { p =>
          val docs = graft.sources.Tables(s, d).documents
          BigramLmWarehouse.materializeFrom(
            docs.filter(pmod(col("doc_id"), lit(10)) < 7), p)
          BigramLmWarehouse.refresh(s,
            docs.filter(pmod(col("doc_id"), lit(10)) === 7), p)
          BigramLmWarehouse.compact(s, p)
        }),
      Oracle(TPerplexityBigramProbeSql)),
    // the context LM's delete verb: negative unigram AND bigram deltas
    // + exact (nb, v) decrement; retract∘train == train-on-survivors, so
    // the bigram text holds over base minus the mod-7 slice
    QuerySpec("t_perplexity_bigram_probe_retracted", Probe, (s: SparkSession, d: String) =>
      BigramLmWarehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("bigram_lm_retracted", d) { p =>
          val docs = graft.sources.Tables(s, d).documents
          BigramLmWarehouse.materialize(s, d, p)
          BigramLmWarehouse.retract(s,
            docs.filter(pmod(col("doc_id"), lit(10)) === 7), p)
        }),
      Oracle(TPerplexityBigramProbeRetractedSql), warehoused = true),
    // the LM at rest: OPEN-vocab smoothing over v+1 classes (v = BASE
    // vocab + shared UNK — an index cannot know future probes'
    // vocabularies), base/incoming split + batch bound mirrored
    QuerySpec("t_perplexity_probe", Headline, (s: SparkSession, d: String) =>
      LmWarehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("lm_warehouse", d)(
          LmWarehouse.materialize(s, d, _))),
      Oracle(TPerplexityProbeSql), warehoused = true),
    // ingest → refresh → COMPACT → probe; oracle shared with
    // t_perplexity_probe
    QuerySpec("t_perplexity_probe_compacted", Untimed, (s: SparkSession, d: String) =>
      LmWarehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("lm_compacted", d) { p =>
          val docs = graft.sources.Tables(s, d).documents
          LmWarehouse.materializeFrom(
            docs.filter(pmod(col("doc_id"), lit(10)) < 7), p)
          LmWarehouse.refresh(s,
            docs.filter(pmod(col("doc_id"), lit(10)) === 7), p)
          LmWarehouse.compact(s, p)
        }),
      Oracle(TPerplexityProbeSql)),
    // the delete verb on the LM (NEGATIVE count deltas, nb/v
    // decremented exactly): must equal the probe text over base ∖ removed
    QuerySpec("t_perplexity_probe_retracted", Probe, (s: SparkSession, d: String) =>
      LmWarehouse.probeIncoming(s, d,
        graft.sources.Materialized.pathFor("lm_retracted", d)(
          LmWarehouse.materializeRetracted(s, d, _))),
      Oracle(tPerplexityProbeSqlVs("doc_id % 10 < 7")), warehoused = true),
    QuerySpec("t_repetition", Untimed, CorpusStats.repetition _, Oracle(TRepetitionSql)),
    QuerySpec("t_langid", Untimed, TextAnalysis.langId _, Oracle(TLangidSql)),
    QuerySpec("t_quality", Untimed, TextAnalysis.quality _, Oracle(TQualitySql)),
    QuerySpec("t_tokens", Untimed, TextAnalysis.tokens _, Oracle(
      s"""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, $TokenRegexSql)) AS BIGINT) AS re_tokens,
        |CAST(length(text) AS BIGINT) AS n_chars_computed FROM documents""".stripMargin)),
    // tokenizer fertility by language (regex tokens per whitespace
    // word, integer ppm); the regex is the hoisted TokenRegexSql, so a
    // tokenizer change hits t_tokens and this row or neither
    QuerySpec("t_fertility", Untimed, TextAnalysis.fertility _, Oracle(
      s"""WITH x AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |CAST(len(regexp_extract_all(text, $TokenRegexSql)) AS BIGINT) AS re
        |FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(sum(ws) AS BIGINT) AS ws_tokens, CAST(sum(re) AS BIGINT) AS re_tokens,
        |CAST(CAST(sum(re) AS BIGINT) * 1000000 // CAST(sum(ws) AS BIGINT) AS BIGINT) AS fertility_ppm
        |FROM x GROUP BY 1""".stripMargin)),
    // Gopher-style heuristic gate (rule flags + conjunction) and the
    // unigram-entropy repetition signal — the two published-filter
    // legs t_quality's composite score doesn't cover
    QuerySpec("t_gopher_rules", Untimed, TextAnalysis.gopherRules _, Oracle(
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
        |string_split(text, chr(10)) AS ls FROM documents),
        |m AS (SELECT doc_id,
        |CAST(len(ws) AS BIGINT) AS n_words,
        |round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws), 4) AS mean_word_len,
        |round(CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(ws), 4) AS symbol_ratio,
        |round(CAST(len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %')) AS DOUBLE) / len(ls), 4) AS bullet_frac,
        |round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(ws), 4) AS alpha_frac,
        |CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS stop_hits
        |FROM w)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac, alpha_frac, stop_hits,
        |CAST(n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
        |AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND alpha_frac >= 0.8
        |AND stop_hits >= 2 AS BIGINT) AS gopher_pass
        |FROM m""".stripMargin)),
    // C4's line-shaped heuristics (Raffel et al. 2020 §2.2): list_filter
    // over chr(10) lines, page flags as 0/1 BIGINTs
    QuerySpec("t_c4_rules", Untimed, TextAnalysis.c4Rules _, Oracle(
      """WITH w AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM documents),
        |m AS (SELECT doc_id,
        |CAST(len(ls) AS BIGINT) AS n_lines,
        |CAST(len(list_filter(ls, l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"') AND len(string_split(l, ' ')) >= 5)) AS BIGINT) AS n_kept,
        |CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS n_sentences,
        |CAST(contains(lower(text), 'lorem ipsum') AS BIGINT) AS has_lorem,
        |CAST(contains(text, '{') AS BIGINT) AS has_brace
        |FROM w)
        |SELECT doc_id, n_lines, n_kept,
        |round(CAST(n_kept AS DOUBLE) / n_lines, 4) AS kept_frac,
        |n_sentences, has_lorem, has_brace,
        |CAST(n_sentences >= 3 AND has_lorem = 0 AND has_brace = 0 AND n_kept >= 1 AS BIGINT) AS c4_pass
        |FROM m""".stripMargin)),
    QuerySpec("t_word_entropy", Untimed, TextAnalysis.wordEntropy _, Oracle(
      """WITH tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |CAST(count(*) AS BIGINT) AS n_distinct,
        |CAST(sum(CAST(round(-(c * ln(c)), 9) AS DECIMAL(30,6))) AS DOUBLE) AS clog
        |FROM tf GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |round(ln(n_tokens) + clog / n_tokens, 6) AS entropy FROM d""".stripMargin)),
    // per-source top-k tf-idf terms: idf rounded BEFORE the score
    // multiply, rank a total order via the term tie-break
    QuerySpec("t_tfidf_terms", Untimed, CorpusStats.tfidfTerms(_, _), Oracle(
      """WITH tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |s AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM tf),
        |sc AS (SELECT tf.source, tf.term, tf.tf, df.df,
        |round(ln(CAST(n_sources AS DOUBLE) / df.df), 6) AS idf
        |FROM tf JOIN df USING (term) CROSS JOIN s),
        |rk AS (SELECT source, term, tf, df, idf, round(tf * idf, 6) AS score,
        |CAST(row_number() OVER (PARTITION BY source ORDER BY round(tf * idf, 6) DESC, term) AS BIGINT) AS rank
        |FROM sc)
        |SELECT source, term, tf, df, idf, score, rank FROM rk WHERE rank <= 10""".stripMargin)),
    QuerySpec("t_fingerprint", Untimed, TextAnalysis.fingerprint _, Oracle(
      """SELECT doc_id,
        |list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(string_split(text, ' '), w -> ('0x' || substring(md5(w), 1, 15))::BIGINT)),
        |  (a, b) -> (a * 31 + b) % 1000000007) AS rolling_fp,
        |md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp
        |FROM documents""".stripMargin)),
    // first_byte mirrors the stub's payload(0) & 0xff — the first UTF-8
    // BYTE (not codepoint), -1 for empty payloads — via hex(encode())
    QuerySpec("m_multimodal", Untimed, Multimodal.features _, Oracle(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |CAST(octet_length(encode(text)) % 64 + 1 AS BIGINT) AS width,
        |CAST((octet_length(encode(text)) // 64) % 64 + 1 AS BIGINT) AS height,
        |CAST(doc_id % 3 + 1 AS BIGINT) AS channels,
        |CASE WHEN octet_length(encode(text)) = 0 THEN CAST(-1 AS BIGINT)
        |ELSE ('0x' || substring(hex(encode(text)), 1, 2))::BIGINT END AS first_byte FROM documents""".stripMargin)),
    QuerySpec("m_frame_sample", Untimed, Multimodal.frameSample(_, _), Oracle(
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        |f AS (SELECT doc_id, hx, unnest(range(0, (length(hx) + 127) // 128, 4)) AS frame_idx FROM h),
        |s AS (SELECT doc_id, frame_idx, substring(hx, CAST(frame_idx * 128 + 1 AS INTEGER), 128) AS fh FROM f)
        |SELECT doc_id, frame_idx, length(fh) // 2 AS frame_len, md5(fh) AS frame_md5 FROM s""".stripMargin)),
    // streaming (batch-equivalent plan; streaming path spec-tested)
    QuerySpec("q_stream_window", Headline, StreamOps.streamWindow _, Oracle(
      s"""SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_ms, event_type, count(*) AS n_events,
         |round(${SUMX("value")}, 4) AS total_value FROM events GROUP BY 1, 2""".stripMargin)),
  )

  val queries: Map[String, Builder] = registry.map(r => r.name -> r.build).toMap

  val oracleSql: Map[String, String] =
    registry.collect { case QuerySpec(n, _, _, Oracle(sql), _) => n -> sql }.toMap
}
