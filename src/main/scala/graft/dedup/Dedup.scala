package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._
import graft.functions.Exact.roundx
import graft.sources.Tables

/** Document deduplication family over the `documents` table — the
  * core of a training-data pipeline at 100 TB.
  *
  * Scale notes:
  *  - exact: one hash-groupBy; shuffle keys are md5 digests (uniform,
  *    no skew).
  *  - n-gram Jaccard: pair generation happens ONLY inside shingle
  *    buckets (self-join keyed by shingle) — never a document cross
  *    join.  Hot shingles are the skew risk at scale: the rarity-
  *    ordered prefix filter keeps them out of the index structurally,
  *    and the frequency cap (ngramStages maxDfRatio — shingles in >X%
  *    of docs are dropped from the index; they carry no signal)
  *    bounds the candidate join even on adversarial boilerplate
  *    corpora; AQE skew-join covers what remains.
  *  - MinHash/LSH: the candidate space is bands×buckets; shuffle is
  *    keyed by (band, band_hash), bounded skew by construction.  Only
  *    candidate pairs (tiny vs n²) get exact signature comparison.
  *  - SimHash: 60-bit sketch per doc, candidates via 4×15-bit chunk
  *    banding (pigeonhole: hamming ≤ 3 ⇒ some chunk equal — the 4
  *    chunks must cover all 60 bits), verify with bit_count(xor) —
  *    integer ops, codegen'd end to end.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest doc_id. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Chunk-granularity exact dedup — dedup at the TRAINING-SEQUENCE
    * level rather than the document level: chunk every doc with the
    * standard context-window chunker (TrainPrep.chunkDocsOf — the
    * same 64/48 windows t_chunk and t_pack emit), hash each chunk's
    * text, keep the first occurrence corpus-wide (minimal (doc_id,
    * chunk_id)), and report how many copies each chunk has.  Document
    * dedup misses boilerplate chunks shared by otherwise-distinct
    * docs (headers, license blocks, templated intros); this is the
    * granularity at which those repeats would reach training
    * sequences, so it is where a pipeline that packs chunks (t_pack)
    * wants its dedup gate.
    *
    * Scale shape: one explode (the chunker — narrow, scan-speed) then
    * ONE shuffle keyed by the md5 chunk hash (uniform by construction,
    * no skew; same key property as `exact`).  Both window functions
    * (the copy count and the keep decision) share that single
    * partitioning — one Exchange, two WindowExecs, no second shuffle. */
  def dedupChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.operators.TrainPrep.chunkDocsOf(Tables(spark, dir).documents)
    val byHash = Window.partitionBy(col("content_hash"))
    val firstSeen = byHash.orderBy(col("doc_id"), col("chunk_id"))
    chunks
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        md5(col("chunk_text")).as("content_hash"))
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        count(lit(1)).over(byHash).as("n_dups"),
        (row_number().over(firstSeen) === 1).cast("long").as("kept"))
  }

  /** Line-granularity CROSS-DOC dedup report (the C4/Dolma paragraph
    * dedup, adapted to lines since this corpus is line-structured):
    * per doc, how many of its line occurrences carry a line shared
    * with AT LEAST ONE OTHER doc — the boilerplate signal (navbars,
    * footers, license headers) that document dedup cannot see and
    * chunk dedup only catches when the repeat aligns with a 64/48
    * window.  A line repeated only WITHIN its own doc is NOT flagged
    * (docs_with = 1) — within-doc repetition is t_repetition's and
    * t_word_entropy's job; this operator is strictly the cross-doc
    * channel.  para_keep applies the published-style ≤ 0.3 shared-
    * line-fraction gate (4-dp rounded before thresholding — the
    * qualityScoreCol convention).
    *
    * Scale shape: one explode (lines — narrow, scan-speed) then ONE
    * shuffle keyed by the line md5 (uniform, no skew — the `exact`
    * key property) for the distinct-doc counts; the join back is
    * hash-keyed against a vocabulary-of-lines-sized side (the
    * d_dedup_ngram df rule: unhinted, AQE picks broadcast when it
    * fits), one doc-keyed aggregate.  ORACLED. */
  def dedupLines(spark: SparkSession, dir: String): DataFrame =
    dedupLinesOf(Tables(spark, dir).documents)

  /** Same, over an arbitrary (doc_id, text) frame — the spec entry
    * point. */
  private[graft] def dedupLinesOf(documents: DataFrame): DataFrame = {
    val lines = documents
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .select(col("doc_id"), md5(col("line")).as("h"))
    val docsWith = lines.distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("docs_with"))
    lines.join(docsWith, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("docs_with") >= 2).cast("long")).as("n_shared_lines"))
      .select(col("doc_id"), col("n_lines"), col("n_shared_lines"),
        roundx(col("n_shared_lines").cast("double") / col("n_lines"), 4)
          .as("shared_line_frac"),
        (roundx(col("n_shared_lines").cast("double") / col("n_lines"), 4) <= 0.3)
          .cast("long").as("para_keep"))
  }

  /** Streaming-shaped dedup, batch entry: the SURVIVORS of first-seen
    * exact dedup — one row per distinct content, the smallest doc_id
    * kept (what a dedup stage forwards downstream, vs `exact` above
    * which reports the group stats).  The streaming twin is
    * `streamingDedup` below: same keep-one-per-content semantics with
    * the seen-set in the state store. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val hashed = t.documents.select(col("doc_id"), md5(col("text")).as("content_hash"))
    hashed
      .groupBy(col("content_hash")).agg(min(col("doc_id")).as("doc_id"))
      .join(t.documents, Seq("doc_id"))
      .select(col("doc_id"), col("content_hash"), length(col("text")).cast("long").as("n_chars"))
  }

  /** Streaming dedup over a document stream — the training-pipeline
    * stage that drops re-crawled/duplicated content ONLINE instead of
    * re-scanning the corpus per batch.  `dropDuplicates` on the content
    * hash keeps one row per key with the seen-set in the state store,
    * partitioned by hash — state ops scale with the shuffle, and a key
    * seen in ANY earlier micro-batch is dropped in later ones.
    * (Unbounded corpus ⇒ unbounded seen-set: production bounds it with
    * `dropDuplicatesWithinWatermark` when re-crawls cluster in time —
    * same plan shape, one extra eviction rule.)
    *
    * Survivor choice DIFFERS from the batch twin: streaming keeps the
    * FIRST-ARRIVED row per content_hash (arrival-order dependent, so
    * the surviving doc_id is nondeterministic across re-runs with
    * different batch interleavings), while dedupSurvivors keeps
    * min(doc_id) (deterministic).  The kept CONTENT is identical
    * either way; pipelines that key downstream state on doc_id rather
    * than content_hash should run the batch form or re-key on
    * content_hash. */
  def streamingDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")
      .select(col("doc_id"), col("content_hash"))

  /** The BOUNDED-STATE form of streamingDedup — the production choice
    * when re-crawls cluster in time (they do: crawlers revisit within
    * days, not years).  `dropDuplicatesWithinWatermark` keeps each
    * content key's state only while the event-time watermark can still
    * admit a duplicate (key expiry = last event time + `delay`), so
    * the seen-set is bounded by the watermark window's key arrival
    * rate instead of growing with the full corpus history.  The trade,
    * asserted in StreamingSpec: a re-crawl INSIDE the watermark still
    * dedups exactly like the unbounded form; a re-crawl arriving after
    * its key's state expired is re-emitted (downstream exact dedup —
    * one hash-groupBy at training-set build time — catches those, at a
    * volume the watermark makes negligible).
    *
    * `docs` must carry an event-time `ts` TIMESTAMP column. */
  def streamingDedupWithinWatermark(docs: DataFrame,
      delay: String = "10 minutes"): DataFrame =
    docs
      .withWatermark("ts", delay)
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("content_hash"))

  /** 3-word-shingle Jaccard ≥ 0.8 near-dup pairs — EXACT, via prefix
    * filtering (the AllPairs/PPJoin bound, Bayardo et al. 2007):
    * order each doc's shingles by global frequency (rarest first) and
    * index only the first |A| − ⌈0.8·|A|⌉ + 1 of them; any pair with
    * Jaccard ≥ 0.8 must collide inside those prefixes, so the
    * candidate join runs over the RARE shingles only.  A naive
    * self-join on all shingles was O(Σ bucket²) over hot shingles —
    * 289 s at sf0.1 on this small-vocab corpus; prefixes cut it ~100×.
    * Candidates are verified exactly with array_intersect over the
    * full shingle sets, so results are identical to the naive join
    * (the DuckDB oracle computes the naive form). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramStages(Tables(spark, dir).documents, maxDfRatio = 0.1).pairs

  /** The staged AllPairs/PPJoin pipeline, exposed so specs can
    * instrument the intermediate volumes (collision rows are the cost
    * driver at scale). */
  final case class NgramStages(collisions: DataFrame, pairs: DataFrame)

  /** @param maxDfRatio hot-shingle frequency cap: shingles present in
    *   more than this fraction of documents are EXCLUDED from the
    *   prefix index (candidate generation only — rarity positions and
    *   the verify sets are untouched).  A shingle shared by a large
    *   fraction of the corpus generates O((ratio·N)²) collision rows
    *   while carrying no discriminative signal; capping it bounds the
    *   candidate join regardless of corpus pathology (NgramCapSpec
    *   drives an adversarial boilerplate corpus through this).  The
    *   only pairs the cap can lose are those whose EVERY common prefix
    *   shingle is hot — i.e. docs whose content is near-pure
    *   boilerplate; true duplicates among those are still caught by
    *   the exact-hash pass that dedupGroups unions in.  The global
    *   rarity order puts hot shingles last, so at the default 10% cap
    *   nothing changes on an ordinary corpus (the test corpus' most
    *   frequent shingle sits at 1.4% of docs) — the cap is the
    *   guard-rail for the adversarial tail, not a sampling knob. */
  def ngramStages(docs: DataFrame, maxDfRatio: Double): NgramStages = {
    // shingle STRINGS never materialize anywhere in this pipeline:
    // GramHashes emits each doc's distinct 3-gram hashes in one flat
    // native loop (the interpreted shingle HOF built a string per
    // gram), and every downstream stage — freq, prefix index,
    // collision join, set verify — runs on the 8 B hashes with
    // primitive compares (~2⁻⁴⁰ collision odds across the shingle
    // universe, the engine-wide trade).  The rarity order is
    // (freq, hsh) — ANY consistent global order preserves the
    // AllPairs/PPJoin completeness argument, and the verify stage is
    // exact over the full sets, so results are unchanged.
    val shh = docs.select(col("doc_id"),
      explode(graft.functions.GramHashes(words(col("text")), 3)).as("hsh"))
    // freq MUST be a groupBy (map-side combine): a count window
    // partitioned by shingle would put a hot shingle's every
    // occurrence on one task — the exact skew this operator mitigates
    val freq = shh.groupBy(col("hsh")).agg(count(lit(1)).as("freq"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // prefix length |A| − ⌈0.8|A|⌉ + 1, in integer math (0.8·n in FP
    // rounds wrong at multiples of 5): ⌈4n/5⌉ = (4n+4) div 5
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("freq"), col("hsh"))
    // NOTE: per-document stats (n_sh) ride the SAME doc_id exchange as
    // the rarity window — a count window over the unordered doc
    // partition (bounded by doc length, no skew) instead of a separate
    // sizes aggregate + shuffled join.  The freq join itself runs
    // shuffled and unhinted — freq is vocabulary-sized and must never
    // be broadcast by hint; AQE still broadcasts small actuals.
    // Prefix rows carry (rn, n_sh) so the size-ratio and positional
    // filters run INSIDE the candidate join — no post-hoc size joins.
    // The frequency cap drops hot rows from the INDEX only — `rn` is
    // assigned before it, so surviving positions (and the positional
    // bound below) are unchanged.
    val byDoc = Window.partitionBy(col("doc_id"))
    val prefix = shh
      .join(freq, Seq("hsh"))
      .withColumn("rn", row_number().over(byRarity))
      .withColumn("n_sh", count(lit(1)).over(byDoc))
      .filter(col("rn") <= col("n_sh") - floor((col("n_sh") * 4 + 4) / 5) + 1)
      .crossJoin(broadcast(nDocs))
      .filter(col("freq") <= col("n_docs") * maxDfRatio)
      .select(col("doc_id"), col("hsh"), col("rn"), col("n_sh"))
    // size-ratio filter (J ≥ 0.8 ⇒ 0.8·|A| ≤ |B| ≤ 1.25·|A|) prunes
    // pairs in the join itself, before the (heavier) set verification
    val collisions = prefix.as("a")
      .join(prefix.as("b"), col("a.hsh") === col("b.hsh") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("b.n_sh") * 5 >= col("a.n_sh") * 4 && col("b.n_sh") * 4 <= col("a.n_sh") * 5)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.rn").as("a_rn"), col("b.rn").as("b_rn"),
        col("a.n_sh").as("a_n"), col("b.n_sh").as("b_n"))
    // PPJoin positional filter (Xiao et al. 2008): every doc orders its
    // shingles by the SAME global (freq, hsh) key, so a qualifying
    // pair's first prefix collision is provably the globally smallest
    // common shingle (anything smaller and common would sit inside both
    // prefixes and collide earlier).  At that token — positions
    // pa=min(a_rn), pb=min(b_rn) — distinct common shingles beyond it
    // each occupy a later slot, so |A∩B| ≤ 1 + min(|A|−pa, |B|−pb);
    // J ≥ 0.8 needs |A∩B| ≥ 4(|A|+|B|)/9.  Pairs whose bound can't
    // reach that never enter the verify stage.  (The bound survives
    // the frequency cap: the global order ranks hot shingles LAST, so
    // the smallest common shingle is never a capped one unless ALL
    // common prefix shingles are — and then the pair has no collisions
    // at all, the documented cap tradeoff.)
    val cand = collisions
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col("a_rn")).as("pa"), min(col("b_rn")).as("pb"),
        first(col("a_n")).as("a_n"), first(col("b_n")).as("b_n"))
      .filter((lit(1) + least(col("a_n") - col("pa"), col("b_n") - col("pb"))) * 9 >=
        (col("a_n") + col("b_n")) * 4)
      .select(col("a_id"), col("b_id"))
    val pairs = exactJaccardVerify(shh, cand)
    NgramStages(collisions, pairs)
  }

  /** Exact-Jaccard verification of candidate (a_id, b_id) pairs
    * against the FULL shingle sets — shared by the AllPairs path
    * (ngramStages) and the MinHash-LSH path (minhashVerified).  Set
    * sizes come from the collected arrays themselves (`size(shs)` —
    * exact, the hash rows are distinct per doc), so candidates
    * shuffle as bare id pairs and no size table joins in.
    *
    * `sh` carries (doc_id, hsh) — the GramHashes 64-bit shingle
    * hashes: long-array intersect is ~5× cheaper than strings and the
    * arrays shuffle at 8 B/element (collision odds across the
    * distinct-shingle universe are ~2⁻⁴⁰ — nil). */
  private def exactJaccardVerify(sh: DataFrame, cand: DataFrame): DataFrame = {
    // sets are SORTED once per doc so the per-CANDIDATE intersect is a
    // native linear merge (SortedIntersectCount) instead of a hash-set
    // build + intersection-array allocation per pair (optimization
    // r15, guide §1.2 — the verify stage is the candidate-volume
    // multiplier; counts are equal on distinct inputs, property-pinned)
    val sets = sh
      .groupBy(col("doc_id")).agg(array_sort(collect_list(col("hsh"))).as("shs"))
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("shs").as("a_shs")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("shs").as("b_shs")), Seq("b_id"))
      .withColumn("inter", graft.functions.VectorFunctions.sortedIntersectCount(
        col("a_shs"), col("b_shs")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_shs")) + size(col("b_shs")) - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("a_id"), col("b_id"), roundx(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-document substring overlap — the SIGNAL stage of exact-
    * substring deduplication (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better": drop any 50-token span that
    * appears verbatim elsewhere in the corpus; suffix arrays find the
    * spans on one machine, word-gram document frequency is the
    * distributed equivalent at gram granularity): per doc, how many of
    * its distinct `n`-grams appear verbatim in at least one OTHER
    * document.  Downstream either drops high-overlap docs or excises
    * the flagged spans.
    *
    * Scale shape: gram explode → gram-keyed df aggregation (word-count
    * shuffle, partial-aggregated) → join back → doc-keyed count.  The
    * df table is vocabulary-sized and runs shuffled, never broadcast by
    * hint (the d_dedup_ngram rule); grams are distinct per doc so df
    * counts documents directly. */
  def substringOverlap(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    // grams never materialize as strings: GramHashes emits the
    // distinct 8-gram hashes in one flat native loop (the interpreted
    // shingle HOF was the bulk of this query's runtime), and the df
    // join shuffles 8 B primitive keys (the d_dedup_ngram trade —
    // ~2⁻⁶⁴ per-pair collision odds, a collision merges two grams' df)
    val sh = Tables(spark, dir).documents
      .select(col("doc_id"),
        explode(graft.functions.GramHashes(words(col("text")), n)).as("hsh"))
    val df = sh.groupBy(col("hsh")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("hsh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("df") >= 2).cast("int")).cast("long").as("n_shared_grams"))
  }

  /** Span-level exact-substring dedup output — the EXCISION stage of
    * Lee et al. 2021's pipeline (their tool emits the overlapping byte
    * ranges so the pipeline cuts the duplicated spans out of each doc
    * instead of dropping the doc; `substringOverlap` above is the
    * per-doc signal, this is the actionable form): per doc, the merged
    * word ranges covered by `n`-grams that appear verbatim in at least
    * one OTHER document.
    *
    * Plan: positional gram hashes (GramHashes.positional — same native
    * loop and mixing as the distinct form, so identity agrees gram for
    * gram) are flagged against the cross-doc df table (built from the
    * DISTINCT per-doc grams, so df counts documents directly — the
    * substringOverlap aggregation), then flagged positions merge into
    * islands: two flagged grams chain iff their word windows overlap
    * or touch (gap ≤ n).  The island window is partitioned by doc_id
    * and bounded by doc length — the rarity-window shape, no skew; the
    * df join still shuffles 8 B keys and the df table is never
    * broadcast by hint.
    *
    * Output: (doc_id, start_word, end_word, n_grams) with INCLUSIVE
    * 0-based word offsets — end_word = last flagged gram start + n−1. */
  def substringSpans(spark: SparkSession, dir: String, n: Int = 8): DataFrame =
    substringSpansOf(Tables(spark, dir).documents, n)

  /** Frame-level entry (docs = (doc_id, text)) — spec-drivable. */
  def substringSpansOf(docs: DataFrame, n: Int): DataFrame = {
    val byDocPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flaggedGramPositions(docs, n)
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDocPos) <= n, 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(byDocPos))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("start_word"),
        (max(col("pos")) + n - 1).cast("long").as("end_word"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("start_word"), col("end_word"), col("n_grams"))
  }

  /** (doc_id, pos) of every n-gram whose hash occurs in ≥2 docs —
    * shared by the span report (island-merged) and the excision
    * rewrite (exploded to covered word positions). */
  private def flaggedGramPositions(docs: DataFrame, n: Int): DataFrame = {
    val gh = graft.functions.GramHashes
    val pos = docs.select(col("doc_id"),
      posexplode(gh.positional(words(col("text")), n)).as(Seq("pos", "hsh")))
    val df = docs
      .select(col("doc_id"), explode(gh(words(col("text")), n)).as("hsh"))
      .groupBy(col("hsh")).agg(count(lit(1)).as("df"))
    pos.join(df.filter(col("df") >= 2), Seq("hsh"))
      .select(col("doc_id"), col("pos"))
  }

  /** Span excision APPLIED — the rewrite step that closes the Lee et
    * al. pipeline: every word covered by a cross-doc duplicated n-gram
    * is cut out and the surviving words re-join into the cleaned text.
    * Whole-doc dropping (d_dedup_*) loses the unique remainder of a
    * partially-duplicated doc; this keeps it — the common production
    * choice the span report exists for.
    *
    * Plan: flagged gram starts explode to covered word positions
    * (distinct — overlapping grams cover shared words once), the
    * corpus token table anti-joins them on (doc_id, wpos) EQUALITY
    * (positions enumerated, so no range-condition join), and each
    * doc's survivors re-assemble via a bounded per-doc sort inside the
    * aggregate.  Docs whose every word is covered drop out entirely —
    * a fully-duplicated doc has no unique remainder (and the exact
    * dedup family owns that case).
    *
    * Output: (doc_id, n_kept, excised_text). */
  def substringExcise(spark: SparkSession, dir: String, n: Int = 8): DataFrame =
    substringExciseOf(Tables(spark, dir).documents, n)

  def substringExciseOf(docs: DataFrame, n: Int): DataFrame = {
    val covered = flaggedGramPositions(docs, n)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("wpos"))
      .distinct()
    val toks = docs.select(col("doc_id"),
      posexplode(words(col("text"))).as(Seq("wpos", "tok")))
    toks.join(covered, Seq("doc_id", "wpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("wpos"), col("tok")))),
            x => x.getField("tok")),
          " ").as("excised_text"))
  }

  private[graft] val MinhashK = 128
  private[graft] val Bands = 32 // 4 rows per band

  /** Per-doc MinHash(128) signature — native expression (see
    * graft.functions.MinHashSig): one flat primitive loop per row over
    * the WORD array (shingling fused in).  The HOF formulation paid an
    * interpreted lambda per (shingle × k) — 123 s at sf0.1. */
  private def minhashSignature(wordsCol: org.apache.spark.sql.Column) =
    graft.functions.MinHashSig(wordsCol, 3, MinhashK)

  /** MinHash+LSH near-dup candidates: band signatures, bucket-join,
    * then estimated Jaccard = matching signature fraction ≥ 0.7.
    * (No SQL oracle — checked by spec + rows-only.) */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cand = minhashBandCandidates(t.documents)
    val sig = t.documents
      .select(col("doc_id"), minhashSignature(words(col("text"))).as("sig"))
    cand
      .join(sig.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sig.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y), b => b))
          .cast("double") / MinhashK)
      .filter(col("est_jaccard") >= 0.7)
      .select(col("a_id"), col("b_id"), roundx(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** MinHash-LSH banded candidate pairs, emitted exactly once via the
    * first-agreeing-band predicate (FirstEqualIndex over the band-hash
    * arrays — the cosine/simhash construction): the dropDuplicates
    * shuffle+aggregate over candidates is gone, which matters most on
    * re-crawl corpora where an exact-dup pair agrees on ~ALL bands and
    * would otherwise pay ~Bands× its true candidate volume into the
    * dedup aggregate.  Banded rows carry the Bands-long hash array
    * (8 B × 32) alongside (band, bucket); the k-wide signatures still
    * never shuffle. */
  private[graft] def minhashBandCandidates(docs: DataFrame): DataFrame = {
    val bh = graft.functions.MinHashSig.bandHashes(words(col("text")), 3, MinhashK, Bands)
    // bands MUST be a materialized leaf before the explode: selected
    // alongside posexplode as an expression, the full MinHash loop
    // re-evaluates once per generated row — ×Bands per doc (measured
    // 51 s vs 3 s at the 8× stress corpus; the CorpusStats.repetition
    // lesson again)
    val sig = docs.select(col("doc_id"), bh.as("bands")).localCheckpoint()
    val banded = sig
      .select(col("doc_id"), col("bands"),
        posexplode(col("bands")).as(Seq("band", "bucket")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.band") === graft.functions.FirstEqualIndex(col("a.bands"), col("b.bands")))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
  }

  /** MinHash-LSH candidates run through the EXACT Jaccard verify (the
    * same full-shingle-set stage as ngramJaccard) — the production
    * shape when downstream wants true similarities, not estimates:
    * LSH prunes the n² space, one set-intersect per surviving
    * candidate, output = exact pairs at J ≥ 0.8.
    *
    * Oracled against the same DuckDB naive join as d_dedup_ngram: with
    * 32 bands × 4 rows, a true pair at J = 0.8 escapes every band with
    * probability (1 − 0.8⁴)³² ≈ 5·10⁻⁸, so on fixed test data the
    * candidate set provably covers the exact answer (NgramCapSpec also
    * asserts parity with the AllPairs path).  Like d_neardup_cosine,
    * the bit-exact oracle pairing leans on that fixed-data/fixed-seed
    * recall — regenerated data with a borderline pair could in
    * principle flip a band. */
  def minhashVerified(spark: SparkSession, dir: String): DataFrame =
    minhashVerifiedOf(Tables(spark, dir).documents)

  /** Frame-level entry — shared by the registered query and the
    * LSH-channel edge set (nearDupEdgesLsh). */
  private[graft] def minhashVerifiedOf(documents: DataFrame): DataFrame = {
    val sh = documents.select(col("doc_id"),
      explode(graft.functions.GramHashes(words(col("text")), 3)).as("hsh"))
    exactJaccardVerify(sh, minhashBandCandidates(documents))
  }

  /** 60-bit SimHash per doc from word hashes; near-dup pairs at
    * hamming ≤ 3 via 4×15-bit chunk banding + bit_count verify.
    * (No SQL oracle — checked by spec + rows-only.) */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashCandidates(Tables(spark, dir).documents)
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))

  /** SimHash chunk-banded candidate pairs with their hamming distance,
    * emitted exactly once via the first-matching-chunk predicate —
    * shared by the hamming-gated `simhash` query and the exact-verify
    * path (`simhashVerified`).  A pair is a candidate iff SOME 15-bit
    * chunk agrees (pigeonhole: hamming ≤ 3 ⇒ at least one of the 4
    * chunks is untouched, so the ≤3 set is provably covered — and near
    * dups far tighter than the bound agree on ~all chunks). */
  private[graft] def simhashCandidates(docs: DataFrame): DataFrame = {
    // native per-row sketch (see graft.functions.SimHash64) — the HOF
    // fold paid an interpreted lambda per (word × bit), 127 s at sf0.1
    val sk = docs.select(col("doc_id"),
      graft.functions.SimHash64(words(col("text"))).as("simhash"))
    val chunked = sk.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 15).bitwiseAND(lit(32767L)).as("ckey"))): _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk").as("chunk"), col("cc.ckey").as("ckey"))
    // first-matching-chunk predicate instead of a post-join
    // dropDuplicates: each pair is emitted exactly once, no candidate
    // shuffle+aggregate (same construction as cosinePairsLsh)
    val skXor = col("a.simhash").bitwiseXOR(col("b.simhash"))
    val firstMatchingChunk = coalesce((0 until 4).map(c =>
      when(shiftrightunsigned(skXor, c * 15).bitwiseAND(lit(32767L)) === 0, lit(c))): _*)
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc_id") < col("b.doc_id") && col("a.chunk") === firstMatchingChunk)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
  }

  /** SimHash banded candidates run through the EXACT Jaccard verify —
    * the minhashVerified construction applied to the SimHash family:
    * chunk collisions prune the n² space, one set-intersect per
    * surviving candidate, output = candidate pairs at true J ≥ 0.8.
    *
    * Deliberately NO SQL oracle, unlike minhashVerified — the naive
    * J ≥ 0.8 join would be an UNSOUND oracle here, and this is
    * measured, not assumed: on the driver testdata the true J ≥ 0.8
    * pairs carry simhash hamming up to 9 (sf0.001) / 11 (sf0.1), while
    * 4×15-bit pigeonhole banding only guarantees capture at hamming
    * ≤ 3 (the sf0.001 corpus has a J=0.8 pair with flips in all four
    * chunks).  That is the structural difference from MinHash: MinHash
    * rows estimate Jaccard itself (per-pair miss ~5·10⁻⁸ at J = 0.8),
    * while SimHash estimates the tf-vector ANGLE, whose J ≥ 0.8 tail
    * is fat — E[flips] ≈ 60·θ/π stays several bits for textually
    * near-identical docs, and no affordable probing scheme covers
    * hamming 11 with slack (2-bit multi-probe = 484 probe rows/doc for
    * exactly the measured max).  What IS guaranteed: precision 1.0
    * (the verify stage is exact) and that every miss sits in the
    * pigeonhole-uncovered tail (hamming > 3) — SimhashRecallSpec
    * asserts both plus a recall floor.
    *
    * COST is the second measured limit (same root cause): correlated
    * same-language sketches cluster at hamming 10-14, so chunk
    * collisions admit ~604k candidates at 50k docs (389k after the
    * hamming gate) for 256 true pairs — each paying an exact
    * set-intersect — where MinHash banding admits ~hundreds.  SimHash
    * separates by ANGLE, and at J-thresholds on correlated text the
    * near-threshold mass is huge.  Production use is accordingly a
    * cheap pre-gate / re-crawl detector, not a complete J-threshold
    * dedup — that is minhashVerified's job (10× cheaper AND
    * recall-complete here). */
  def simhashVerified(spark: SparkSession, dir: String,
      maxHamming: Int = 12): DataFrame = {
    val t = Tables(spark, dir)
    val sh = t.documents.select(col("doc_id"),
      explode(graft.functions.GramHashes(words(col("text")), 3)).as("hsh"))
    // the hamming gate costs one integer compare on rows the join
    // already produced, and it is what makes the verify stage cheap: a
    // RANDOM pair colliding on one 15-bit chunk (P ≈ 4·2⁻¹⁵ — ~150k
    // pairs at 50k docs) sits at hamming ≈ 30 and would otherwise pay
    // a full shingle-set intersect; true J ≥ 0.8 pairs measure ≤ 11
    // (see the Scaladoc above), so the ≤ maxHamming gate drops noise
    // without touching the measured recall (8.0 s → 1.3 s at sf0.1)
    exactJaccardVerify(sh, simhashCandidates(t.documents)
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id")))
  }

  /** Dedup groups: connected components over the near-dup graph
    * (exact-dup ∪ ngram-Jaccard≥0.8 ∪ edit-distance≤10 edges), labels
    * = min doc_id per component — the step that turns pairwise dedup
    * into "keep one canonical doc per cluster".  The editdist channel
    * (EditDist — Ed-Join staged, exactly the naive semantics) closes
    * the character-edit gap the token-level passes cannot see: an OCR/
    * typo variant at ed ≤ 10 merges into its source's component even
    * when no 3-word shingle survives the edits, so the leakage-safe
    * split (d_split_leakage_safe) inherits the character channel too.
    *
    * Spark-first: iterative min-label propagation over DataFrames —
    * the standard distributed connected-components loop (cf. the
    * large-star/small-star algorithm, Kiveris et al. 2014).  Each
    * round is one shuffled join+agg on the (tiny relative to corpus)
    * label table; `localCheckpoint` truncates lineage so plans don't
    * grow with iterations.  Converges in O(component diameter) rounds
    * — near-dup clusters are shallow, so a capped loop with a
    * convergence check is the right shape at 100 TB too.
    */
  /** Registered form: edges come FROM THE WAREHOUSE (EdgeWarehouse —
    * generated once per JVM per source dir, then a pure parquet
    * read): the three CC-family queries share one materialization
    * instead of each re-deriving the tri-channel set from raw text,
    * which is also the production shape (edges arrive from the
    * refreshed-index probes at rest, not per-query recomputation).
    * The frame-level `dedupGroupsFrom` keeps inline generation for
    * specs and arbitrary frames; EdgeWarehouseSpec pins the two edge
    * sources bit-for-bit equal. */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame =
    withGroupSizes(connectedComponents(
      Tables(spark, dir).documents.select(col("doc_id")),
      EdgeWarehouse.edges(spark, dir)))

  /** Same, over an arbitrary (doc_id, text) frame — the StressBench /
    * spec entry point. */
  def dedupGroupsFrom(documents: DataFrame): DataFrame =
    withGroupSizes(connectedComponents(
      documents.select(col("doc_id")), nearDupEdges(documents)))

  /** `d_dedup_groups_lsh`: the grouping story's SCALE PATH — CC over
    * exact ∪ MinHash-LSH-verified ∪ editdist edges (nearDupEdgesLsh).
    * Registered INLINE (edge generation in the timed path, unlike
    * d_dedup_groups' warehouse read) so the bench row prices exactly
    * what the LSH swap trades: banded candidate generation vs the
    * AllPairs prefix join, under the identical CC fold.  ORACLED with
    * d_dedup_groups' SQL verbatim — the banded J-channel verifies
    * exactly at J ≥ 0.8 with recall 1.0 on this corpus (the
    * minhashVerified oracle argument), so the labels must match the
    * full recompute; DedupSpec additionally pins label equality
    * against dedupGroups frame-for-frame. */
  def dedupGroupsLsh(spark: SparkSession, dir: String): DataFrame =
    dedupGroupsLshFrom(Tables(spark, dir).documents)

  /** Frame-level LSH-edge grouping — the spec entry point. */
  def dedupGroupsLshFrom(documents: DataFrame): DataFrame =
    withGroupSizes(connectedComponents(
      documents.select(col("doc_id")), nearDupEdgesLsh(documents)))

  /** `d_dedup_keep_best`: the dedup ENDGAME — canonical-representative
    * selection.  Grouping alone doesn't finish the pipeline verb: a
    * training corpus keeps ONE document per near-dup cluster, and the
    * right one is the best-quality member, not the lowest doc_id (the
    * md5-exact `is_canonical` convention d_corpus_funnel uses is only
    * correct for byte-identical copies; near-dup clusters hold
    * DIFFERENT texts — a truncated or boilerplate-padded variant can
    * carry the smaller id).  One row per group: argmax by
    * (quality_score DESC, doc_id ASC) over the group members.
    *
    * Scale: quality is scan-speed column math (qualityScoreCol,
    * roundx'd to 4 so the ordering is engine-stable), the argmax is
    * row_number over a window PARTITIONED BY group_id — group-bounded,
    * one shuffle on group_id, no global window; labels come from the
    * warehouse at rest (dedupGroups' EdgeWarehouse read).  ORACLED by
    * composing the hoisted groups + quality SQL bodies verbatim (the
    * d_corpus_funnel composition rule). */
  def keepBest(spark: SparkSession, dir: String): DataFrame =
    keepBestFrom(dedupGroups(spark, dir),
      Tables(spark, dir).documents.select(col("doc_id"),
        graft.operators.TextAnalysis.qualityScoreCol(col("text"))
          .as("quality_score")))

  /** Frame-level representative selection — the spec entry point:
    * `groups` = (doc_id, group_id, group_size), `quality` =
    * (doc_id, quality_score). */
  def keepBestFrom(groups: DataFrame, quality: DataFrame): DataFrame =
    groups.join(quality, Seq("doc_id"))
      .withColumn("__r", row_number().over(Window.partitionBy(col("group_id"))
        .orderBy(col("quality_score").desc, col("doc_id"))))
      .filter(col("__r") === 1)
      .select(col("group_id"), col("doc_id").as("kept_doc_id"),
        col("group_size"), col("quality_score").as("best_quality"))

  /** The near-dup edge set dedupGroups runs CC over: exact-dup ∪
    * ngram-Jaccard≥0.8 ∪ edit-distance≤10 (a_id, b_id) pairs. */
  private[graft] def nearDupEdges(documents: DataFrame): DataFrame =
    nearDupEdgesWith(documents,
      EditDist.stages(documents, d = 10).pairs
        .select(col("a_id"), col("b_id")))

  /** Same set with the Ed channel handed in (optimization r16):
    * EdgeWarehouse.ingest runs the staged Ed plan ONCE over a shared
    * pinned gram frame and reuses its byproducts for the frozen index —
    * the edge union itself is unchanged (same channels, same distinct). */
  private[graft] def nearDupEdgesWith(documents: DataFrame,
      edPairs: DataFrame): DataFrame =
    ngramStages(documents, maxDfRatio = 0.1).pairs
      .select(col("a_id"), col("b_id"))
      .union(exactPairsOf(documents)).union(edPairs).distinct()

  /** The SCALE-PATH edge set (d_dedup_groups_lsh): the Jaccard channel
    * comes from MinHash-LSH-verified pairs instead of the AllPairs
    * prefix join — at 100 TB the banded candidate space (bands ×
    * buckets) is what survives, exactly the way s_knn_graph_lsh
    * shadows s_knn_graph.  Both channels verify EXACTLY over the full
    * shingle sets at J ≥ 0.8, so on any corpus where banding recall is
    * 1.0 (a true pair at J = 0.8 escapes all 32 bands with probability
    * ≈ 5·10⁻⁸ — the minhashVerified oracle argument, NgramCapSpec-
    * asserted on this corpus) the edge set, and hence the CC labels,
    * are IDENTICAL to nearDupEdges'.  Exact and editdist channels are
    * shared verbatim. */
  private[graft] def nearDupEdgesLsh(documents: DataFrame): DataFrame =
    minhashVerifiedOf(documents)
      .select(col("a_id"), col("b_id"))
      .union(exactAndEdPairs(documents)).distinct()

  /** The two edge channels shared by the exact and LSH edge sets:
    * exact-hash pairs and Ed-Join editdist≤10 pairs. */
  private def exactAndEdPairs(documents: DataFrame): DataFrame =
    exactPairsOf(documents).union(
      EditDist.stages(documents, d = 10).pairs
        .select(col("a_id"), col("b_id")))

  private def exactPairsOf(documents: DataFrame): DataFrame = {
    val hashed = documents.select(md5(col("text")).as("h"), col("doc_id"))
    hashed.as("x")
      .join(hashed.as("y"), col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
  }

  private def withGroupSizes(labels: DataFrame): DataFrame = {
    val sizes = Window.partitionBy(col("group_id"))
    labels.select(col("doc_id"), col("group_id"),
      count(lit(1)).over(sizes).as("group_size"))
  }

  /** Distributed connected components: min-label propagation PLUS
    * pointer jumping.  Each round does (a) one hop of neighbor-min and
    * (b) label := label(label) — following the current label's own
    * label, the pointer-doubling step — so the distance a minimum has
    * travelled roughly DOUBLES per round instead of growing by one.
    * Convergence is O(log diameter) rounds (pointer jumping à la
    * Shiloach–Vishkin; cf. the large-star/small-star contraction of
    * Kiveris et al. 2014 with the same bound): a 10⁹-node chain
    * converges in ~30 rounds, so MaxIter=50 is safe for any real
    * component.  If the loop still exits unconverged, the labels would
    * be split components — fail loudly, never return them.
    *
    * Per-round cost: two shuffled joins + one agg on the LABEL table
    * (corpus-sized rows, fixed 16-byte width); `localCheckpoint`
    * truncates lineage so plans don't grow with iterations. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    // per-round convergence telemetry (round, labels changed, seconds)
    // to stderr when spark.graft.cc.verbose=true — the operational
    // counterpart of Kmeans' history: long-running CC on a cluster is
    // monitored by exactly these scalars
    val verbose = pairs.sparkSession.conf.getOption("spark.graft.cc.verbose").contains("true")
    val undirected = pairs
      .select(col("a_id").as("u"), col("b_id").as("v"))
      .union(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .localCheckpoint()

    var labels = nodes.select(col("doc_id"), col("doc_id").as("group_id")).localCheckpoint()
    var converged = false
    var iter = 0
    val MaxIter = 50
    while (!converged && iter < MaxIter) {
      val t0 = System.nanoTime()
      val neighborMin = undirected
        .join(labels.withColumnRenamed("doc_id", "nid"), col("v") === col("nid"))
        .groupBy(col("u")).agg(min(col("group_id")).as("nmin"))
      // carry the round's starting label through so convergence is a
      // flag on the materialized frame — no extra join-back against
      // `labels` and no second recompute per round
      val hop = labels
        .join(neighborMin, labels("doc_id") === neighborMin("u"), "left")
        .select(col("doc_id"), col("group_id").as("old_gid"),
          least(col("group_id"), coalesce(col("nmin"), col("group_id"))).as("group_id"))
      // pointer jumping: group_id is itself a doc_id, so look up ITS
      // label and take the min — halves remaining chain depth per round
      // the convergence scalar rides the SAME job as the round's
      // materialization (observe metrics compute as rows stream into
      // the checkpoint — optimization r15, guide §1.2): the old shape
      // paid a second count() job per round
      val obs = new org.apache.spark.sql.Observation()
      val next = hop.as("a")
        .join(hop.select(col("doc_id").as("gid"), col("group_id").as("glabel")),
          col("a.group_id") === col("gid"), "left")
        .select(col("a.doc_id").as("doc_id"),
          least(col("a.group_id"), coalesce(col("glabel"), col("a.group_id"))).as("group_id"),
          (least(col("a.group_id"), coalesce(col("glabel"), col("a.group_id")))
            =!= col("a.old_gid")).as("changed"))
        .observe(obs, sum(col("changed").cast("long")).as("n_changed"))
        .localCheckpoint()
      val changed = Option(obs.get("n_changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
      labels = next.select(col("doc_id"), col("group_id"))
      converged = changed == 0
      iter += 1
      if (verbose)
        System.err.println(f"graft.cc round=$iter changed=$changed sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: did not converge in $MaxIter rounds; " +
          "results would be split components")
    labels
  }

  /** INCREMENTAL connected components — fold a batch of new nodes and
    * the delta edges touching them into STANDING component labels
    * without re-running label propagation over the standing graph.
    * The missing last step of the crawl loop's grouping story: the
    * warehouse indexes fold batches in at rest (refresh), the batch
    * dedups against them at O(batch) (d_dedup_incremental /
    * d_dedup_refresh), but component labels would still cost a full
    * O(corpus-edges × log d) recompute per crawl without this.
    *
    * Algorithm (the contraction trick): standing labels are canonical
    * min-doc_ids, so CONTRACT each delta edge's endpoints to their
    * standing labels (new nodes stand for themselves), run CC over the
    * contracted graph — O(delta edges) nodes, NOT corpus-sized — then
    * relabel the few affected standing components through a broadcast
    * (old_label → new_label) map.  min-of-mins = min-of-union, so the
    * result is exactly the full recompute's labels (spec-pinned).
    *
    * 100 TB: per crawl batch this costs one CC on a batch-sized graph
    * plus ONE linear join over the label table (broadcast hash — the
    * relabel map is bounded by affected components, O(batch edges)),
    * vs O(log diameter) shuffled corpus-sized joins for the full
    * rerun.  Standing components untouched by any delta edge keep
    * their labels bit-identical without being read by the CC loop at
    * all. */
  def foldIntoComponents(standing: DataFrame, newNodes: DataFrame,
      deltaEdges: DataFrame): DataFrame = {
    val aLab = standing.select(col("doc_id").as("a_n"), col("group_id").as("a_l"))
    val bLab = standing.select(col("doc_id").as("b_n"), col("group_id").as("b_l"))
    val contracted = deltaEdges
      .join(aLab, col("a_id") === col("a_n"), "left")
      .join(bLab, col("b_id") === col("b_n"), "left")
      .select(coalesce(col("a_l"), col("a_id")).as("a_id"),
        coalesce(col("b_l"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .localCheckpoint() // feeds node set + CC loop; truncate lineage
    val cNodes = contracted.select(col("a_id").as("doc_id"))
      .union(contracted.select(col("b_id").as("doc_id")))
      .union(newNodes.select(col("doc_id"))).distinct()
    val cLabels = connectedComponents(cNodes, contracted).localCheckpoint()
    // (old standing label → merged label), only where it changed —
    // bounded by the batch's affected components, hence broadcast
    val relabel = cLabels
      .join(standing.select(col("group_id").as("og")).distinct(),
        col("doc_id") === col("og"))
      .filter(col("group_id") =!= col("og"))
      .select(col("og"), col("group_id").as("ng"))
    val restand = standing.as("s")
      .join(broadcast(relabel), col("s.group_id") === col("og"), "left")
      .select(col("s.doc_id").as("doc_id"),
        coalesce(col("ng"), col("s.group_id")).as("group_id"))
    val fresh = cLabels.join(newNodes.select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id"), col("group_id"))
    restand.union(fresh)
  }

  /** Registered crawl-loop grouping — since round 9 the FULL at-rest
    * shape: standing labels AND delta edges both come from the
    * maintained EdgeWarehouse (ingest(base) → refresh(incoming), once
    * per JVM via Materialized), where the deltas were assembled at
    * O(batch) by the index probes (MinHash banded J-channel, exact-
    * hash equi-join, frozen-order Ed-Join — see EdgeWarehouse's
    * Scaladoc), NOT by splitting a corpus-wide generation run.  The
    * registered query therefore reads two parquet tables and runs
    * ONLY the contracted fold — the plan a crawl pipeline actually
    * executes per batch.  Output (and DuckDB oracle) are exactly
    * d_dedup_groups': the incremental path must be indistinguishable
    * from the full recompute (EdgeWarehouseSpec pins base ∪ delta ==
    * nearDupEdges(corpus) bit-for-bit, which is what licenses the
    * verbatim oracle). */
  def dedupGroupsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val path = EdgeWarehouse.builtPath(spark, dir)
    withGroupSizes(foldIntoComponents(
      EdgeWarehouse.standingLabels(spark, path),
      Tables(spark, dir).documents
        .filter(!graft.dedup.MinHashWarehouse.isBase).select(col("doc_id")),
      EdgeWarehouse.deltaEdges(spark, path)))
  }

  /** Same fold semantics over an arbitrary (doc_id, text) frame with
    * inline edge generation split by endpoint membership — the spec
    * entry point (pins fold == full recompute without any at-rest
    * state). */
  def dedupGroupsIncrementalFrom(documents: DataFrame): DataFrame = {
    val edges = nearDupEdges(documents).localCheckpoint()
    val inBase = graft.dedup.MinHashWarehouse.isBase
    val baseTest = pmod(col("a_id"), lit(10)) < 8 && pmod(col("b_id"), lit(10)) < 8
    val standing = connectedComponents(
      documents.filter(inBase).select(col("doc_id")), edges.filter(baseTest))
    withGroupSizes(foldIntoComponents(
      standing,
      documents.filter(!inBase).select(col("doc_id")),
      edges.filter(!baseTest)))
  }

  /** Embedding cosine ≥ 0.4 near-dup pairs, computed as candidate
    * generation (hyperplane-LSH banding) + exact verification (codegen'd
    * dot product) — NO all-pairs join anywhere in the plan.
    *
    * Banding: 64 hyperplane bits split into 32 bands × 2 bits; a pair
    * is a candidate iff some band matches, i.e. the self-join runs on
    * (band, 2-bit key) EQUALITY — a bucketed shuffle join, bounded per
    * bucket, never a BroadcastNestedLoopJoin.  Verification recomputes
    * exact cosine per candidate, so false candidates cost one dot each
    * and never reach the output.
    *
    * Recall: a pair at cosine c shares one hyperplane bit with
    * probability 1 − acos(c)/π (Charikar 2002) — at the 0.4 threshold
    * that is 0.631 per bit, 0.398 per 2-bit band, so P(miss all 32
    * bands) = 0.602³² ≈ 9·10⁻⁸ per true pair (CosineLshRecallSpec
    * asserts recall = 1.0 vs the exact join on test data).  At a
    * production 0.95 gate the same machinery runs 16 bands × 8 bits
    * (p_band 0.43, miss 1.3·10⁻⁴) and prunes ~all of the n² space —
    * the 0.4 test threshold sits near the random-pair regime where ANY
    * method must verify most pairs, which is a property of the
    * threshold, not of the plan.
    *
    * NOTE on the oracle pairing: d_neardup_cosine is hash-compared
    * against an EXACT all-pairs DuckDB oracle even though candidate
    * generation is probabilistic.  That only holds because recall is
    * 1.0 on the FIXED test data and hyperplane seed
    * (CosineLshRecallSpec asserts it); regenerated embeddings with a
    * borderline pair could in principle flip a band and fail the
    * hash compare — that would be the oracle pairing, not the
    * operator, misfiring. */
  def cosinePairs(spark: SparkSession, dir: String): DataFrame =
    cosinePairsLsh(spark, dir, threshold = 0.4, bitsPerBand = 2, bands = 32)

  def cosinePairsLsh(spark: SparkSession, dir: String, threshold: Double,
      bitsPerBand: Int, bands: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val t = Tables(spark, dir)
    cosinePairsFrom(
      t.embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v")),
      threshold, bitsPerBand, bands)
  }

  /** Frame-level entry (ev = (vec_id, v: array<double>)) — shared by
    * the registered query and StressBench's replicated-corpus probe.
    * Signatures are arrays of 64-bit words so band widths beyond one
    * long work (the production 16×8-bit gate is 128 planes; the packed
    * single-long form silently wrapped `1L << p` past 64 — caught by
    * the StressBench probe, guarded by WideBandSpec now).  Bands must
    * not straddle words. */
  def cosinePairsFrom(ev: DataFrame, threshold: Double,
      bitsPerBand: Int, bands: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    require(bitsPerBand >= 1 && bitsPerBand <= 64 && 64 % bitsPerBand == 0,
      s"bitsPerBand=$bitsPerBand must divide the 64-bit signature words")
    val nBits = bitsPerBand * bands
    // per-ROW math (signature, norm) happens once before any join; the
    // per-PAIR work is a single codegen'd dot product at verify time.
    // The signature (HyperplaneSigWords, one native node) is still
    // MATERIALIZED via localCheckpoint: CollapseProject substitutes
    // the sig expression into all `bands` per-band key slots, and
    // measured timings show codegen subexpression elimination does NOT
    // recover the duplication across the Generate boundary (2.7 s with
    // the barrier vs 8-10 s without, sf0.1) — the Kmeans.normalize
    // lesson, kept deliberately.
    val e = ev
      .withColumn("nrm", norm(col("v")))
      .withColumn("sig", hyperplaneSignatureWords(col("v"), nBits))
      .localCheckpoint()
    // unsigned-shift mask (NOT (1L << bits) - 1, which wraps to 0 at
    // bits = 64 and would send every row to bucket 0 — an all-pairs
    // cross join instead of an error); FirstMatchingBand uses the
    // same form so the band keys and the dedup predicate agree at
    // every legal width including full-word bands
    val mask = -1L >>> (64 - bitsPerBand)
    def bandKey(sig: org.apache.spark.sql.Column, b: Int) =
      shiftrightunsigned(element_at(sig, b * bitsPerBand / 64 + 1),
        (b * bitsPerBand) % 64).bitwiseAND(lit(mask))
    // banded rows carry the whole signature (⌈nBits/64⌉ longs) so the
    // join can keep each pair ONLY at its first matching band — pairs
    // come out exactly-once BY CONSTRUCTION and the dropDuplicates
    // shuffle+aggregate over the (millions-of-rows) candidate set is
    // gone.  The predicate is a native codegen'd word-xor loop
    // (graft.functions.FirstMatchingBand) — per-pair math on every
    // bucket collision, far too hot for a when-chain over array
    // lookups (see the expression's Scaladoc for the measurement).
    val banded = e.select(col("vec_id"), col("sig"),
      posexplode(array((0 until bands).map(b => bandKey(col("sig"), b)): _*))
        .as(Seq("band", "bkey")))
    val firstMatchingBand = graft.functions.FirstMatchingBand(
      col("a.sig"), col("b.sig"), bitsPerBand, bands)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id") && col("a.band") === firstMatchingBand)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
    cand
      .join(e.select(col("vec_id").as("a_id"), col("v").as("a_v"), col("nrm").as("a_nrm")), Seq("a_id"))
      .join(e.select(col("vec_id").as("b_id"), col("v").as("b_v"), col("nrm").as("b_nrm")), Seq("b_id"))
      .withColumn("cos", dot(col("a_v"), col("b_v")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), roundx(col("cos"), 6).as("cosine"))
  }
}
