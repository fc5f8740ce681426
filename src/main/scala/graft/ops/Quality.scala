package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data quality operators (SURVEY.md §2.3 E21-E23, E25 + the
  * LLM-pipeline north-star ops from BASELINE.json): exact and
  * near-duplicate detection, text analysis, fingerprinting, JSON
  * extraction — all over the `documents` / `events` testdata tables.
  *
  * Portability contract with the DuckDB oracle: every hash used in a
  * checked query is `md5` over a UTF-8 string — the only hash both
  * engines compute identically. Spark's `hash`/`xxhash64` are
  * murmur3/xxhash with Spark-specific seeds and are kept out of
  * oracle-checked paths (they remain the right choice for
  * non-verified production hashing).
  *
  * Scale notes (100 TB posture):
  *  - exact dedup is a key-only hash aggregate: map-side partial min
  *    collapses duplicates before the shuffle, so bytes moved ∝
  *    distinct keys, not input rows.
  *  - MinHash-LSH is the linear-time near-dup path: signatures are
  *    computed per row (no shuffle), candidate generation shuffles
  *    only (band_idx, band_val) keys, and the exact-Jaccard verify
  *    runs on candidates only — never the n² pair space. The DuckDB
  *    oracle *does* compare all same-band pairs quadratically; that is
  *    fine at sf0.01 and exactly why the engine side must not.
  *  - per-doc text stats are embarrassingly parallel projections
  *    inside whole-stage codegen.
  */
object Quality {

  /** Tokens on whitespace — matches DuckDB `string_split_regex(text,
    * '\s+')` on the clean single-spaced testdata. */
  private val toks = "split(text, '\\\\s+')"

  /** (doc_id, token array) — the shared entry for operators that
    * window or slice the token array directly (Packing.qChunkOverlap). */
  private[ops] def docTokens(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d).select(col("doc_id"), expr(toks).as("t"))


  /** E21: exact dedup on `events` business key (user_id, event_type,
    * value) keeping the smallest event_id — the deterministic form of
    * `dropDuplicates`. Map-side combine makes this a key-shuffle only. */
  def qExactDedup(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy("user_id", "event_type", "value")
      .agg(min("event_id").as("keep_event_id"), count(lit(1)).as("n_dups"))
      .orderBy("user_id", "event_type", "value")

  /** Dataset card — the one-row corpus summary published next to a
    * training set (docs, chars, language/source cardinalities, exact
    * duplicate mass, short-doc count): every number an exact integer
    * from ONE scan of the documents table. The three COUNT(DISTINCT)s
    * share the scan through Spark's Expand (×4 row expansion that
    * collapses in partial aggregation — the standard multi-distinct
    * plan); duplicate mass is docs − distinct(md5(text)), the same
    * content-hash contract as qExactDedup. Means are NOT shipped —
    * (sum, count) pairs are, and the consumer divides (the
    * q_kmeans_step lesson). */
  def qDatasetCard(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("n_chars"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_texts"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("n_short_docs"))

  /** E23: text-corpus stats per (lang, source). */
  def qTextStats(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        round(avg("n_chars"), 4).as("avg_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("lang", "source")

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (letter runs | digit runs | single non-space symbol) + type/token
    * ratio. */
  def qTokenCount(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(
        col("doc_id"),
        expr(s"size($toks)").as("n_tokens"),
        expr(s"size(array_distinct($toks))").as("n_types"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
          .as("n_bpe_tokens"),
        expr(s"round(size(array_distinct($toks)) / cast(size($toks) AS DOUBLE), 4)")
          .as("type_token_ratio"))
      .orderBy("doc_id")

  /** Language ID by stopword-hit scoring (n-gram heuristic). Scores are
    * counts of language-marker tokens; prediction is the argmax with a
    * fixed tie order (en > de > es > fr), 'und' when no marker hits.
    * Deterministic by construction — the testdata vocabulary is
    * English-ish so this mostly exercises the scoring plumbing. */
  def qLangId(spark: SparkSession, d: String): DataFrame = {
    def score(words: Seq[String]) =
      s"size(filter($toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val sEn = score(Seq("the", "a", "of", "and", "to"))
    val sDe = score(Seq("der", "die", "das", "und", "ist"))
    val sEs = score(Seq("el", "los", "es", "y", "que"))
    val sFr = score(Seq("le", "la", "et", "les", "des"))
    // r13: spread — 4 filter-scans of the token array per doc ran on
    // the single fixture split (identity at scale)
    Tables.documentsSpread(spark, d)
      .select(col("doc_id"), col("lang"),
        expr(sEn).as("s_en"), expr(sDe).as("s_de"),
        expr(sEs).as("s_es"), expr(sFr).as("s_fr"))
      .withColumn("pred_lang", expr(
        """CASE
          |  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
          |  WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
          |  WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
          |  WHEN s_fr > 0 THEN 'fr'
          |  ELSE 'und' END""".stripMargin))
      .withColumn("is_correct", col("pred_lang") === col("lang"))
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix — [[qLangId]]'s per-doc predictions
    * rolled up against the labeled language, the table a corpus
    * curator reads before trusting the classifier as a routing or
    * filtering gate (which off-diagonal cells are hot decides whether
    * misroutes leak training data between language buckets). Composes
    * the declared classifier; one extra 2-key hash aggregate over its
    * |docs|-row output, nothing new shuffles. */
  def qLangConfusion(spark: SparkSession, d: String): DataFrame =
    qLangId(spark, d)
      .groupBy(col("lang").as("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")

  /** Quality scoring: length, symbol/digit ratios, mean token length,
    * stopword ratio, and a composite [0,1] score — the standard cheap
    * pre-filter for LLM training corpora. */
  def qQualityScore(spark: SparkSession, d: String): DataFrame =
    Tables.documentsSpread(spark, d)
      .select(col("doc_id"), col("n_chars"),
        expr(s"size($toks)").as("n_tokens"),
        expr("length(regexp_replace(text, '[a-z0-9 ]', ''))").as("n_symbol_chars"),
        expr("length(regexp_replace(text, '[^0-9]', ''))").as("n_digit_chars"),
        expr(s"size(filter($toks, t -> t IN ('the','a','of','and','to','in','is')))")
          .as("n_stopwords"))
      .withColumn("mean_token_len",
        expr("round((n_chars - (n_tokens - 1)) / cast(n_tokens AS DOUBLE), 4)"))
      .withColumn("symbol_ratio",
        expr("round(n_symbol_chars / cast(n_chars AS DOUBLE), 4)"))
      .withColumn("stopword_ratio",
        expr("round(n_stopwords / cast(n_tokens AS DOUBLE), 4)"))
      .withColumn("quality_score", expr(
        """round(least(1.0, greatest(0.0,
          |  0.5 * least(n_tokens / 20.0, 1.0)
          |  + 0.3 * (1.0 - symbol_ratio)
          |  + 0.2 * least(stopword_ratio * 5.0, 1.0))), 4)""".stripMargin))
      .orderBy("doc_id")

  /** Document fingerprinting: whole-text md5 plus min/max shingle
    * hashes (a 2-hash winnowing sketch) — enough to detect exact and
    * prefix/suffix-shifted duplicates in one linear pass.
    *
    * Third formulation, each a measured step (the bench history of
    * this one query IS the engine's optimization doctrine):
    *  1. array lambdas — interpreted, shingle array inlined into both
    *     transforms: 63 s at sf0.1;
    *  2. explode + hash aggregate — codegen'd but materializes
    *     Σ n_chars ≈ 6M generator rows to keep 2 per doc: ~3–4 s,
    *     the suite's most expensive query (kept below as the spec's
    *     ground truth);
    *  3. the native `shingle_minmax_md5` expression — walks the
    *     windows inside one eval per DOCUMENT, so the plan is a plain
    *     |docs|-row projection with no generator and no aggregate.
    * Hash semantics identical throughout; the oracle never changed. */
  def qDocFingerprint(spark: SparkSession, d: String): DataFrame = {
    Tables.documentsSpread(spark, d)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), md5(col("text")).as("full_md5"),
        expr("shingle_minmax_md5(text, 5)").as("mm"))
      .select(col("doc_id"), col("full_md5"),
        col("mm").getItem(0).as("min_shingle_md5"),
        col("mm").getItem(1).as("max_shingle_md5"))
      .orderBy("doc_id")
  }

  /** Formulation 2 (explode + hash aggregate) — the spec's ground
    * truth for the native expression above. */
  private[graft] def docFingerprintExploded(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), md5(col("text")).as("full_md5"),
        col("text"), explode(expr("sequence(1, length(text) - 4)")).as("i"))
      .select(col("doc_id"), col("full_md5"),
        md5(expr("substring(text, i, 5)")).as("h"))
      .groupBy("doc_id", "full_md5")
      .agg(min(col("h")).as("min_shingle_md5"),
        max(col("h")).as("max_shingle_md5"))
      .orderBy("doc_id")

  /** Distinct word 3-gram shingles as an exploded (lang, doc_id,
    * shingle) stream — the discriminative shingle unit for text
    * near-dup (character n-grams over a small vocabulary are
    * near-universal: at sf0.1 the char-5-gram inverted index implies
    * 1.5e9 candidate pairs vs 3.3e5 for word 3-grams).
    *
    * Third formulation of the shared shingle subtree: (1) array
    * lambdas ran interpreted with the `split` inlined into every
    * lambda reference (70 s for 5000 docs); (2) posexplode + 2×lead()
    * windows were codegen'd but shuffled AND sorted the ~1M-row token
    * stream just to pair tokens already adjacent in the source string;
    * (3) the native `word_shingles` expression emits the whole shingle
    * array in one eval per document, so explode is map-side-only and
    * no token ever crosses a shuffle before its first aggregate. The
    * window form stays below as the spec's ground truth. */
  /** The raw (multiset) word-3-gram stream — one row per shingle
    * OCCURRENCE. Repetition analysis needs the multiplicities;
    * everything set-based goes through `wordShingleInv` below. */
  private[graft] def wordShingles(spark: SparkSession, d: String): DataFrame = {
    Tables.documentsSpread(spark, d)
      .select(col("lang"), col("doc_id"),
        explode(expr("word_shingles(text, 3)")).as("shingle"))
  }

  /** Formulation 2 (posexplode + lead windows) — the spec's ground
    * truth for the native `word_shingles` expression above. */
  private[graft] def wordShinglesWindowed(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"),
        posexplode(expr(toks)).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("lang"), col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("shingle"))
  }

  private[graft] def wordShingleInv(spark: SparkSession, d: String): DataFrame =
    wordShingles(spark, d).distinct()

  /** Text normalization — the canonicalization step that runs BEFORE
    * exact dedup in every real corpus pipeline (casefold, strip
    * punctuation, collapse whitespace): two exact-duplicate documents
    * that differ only in case or punctuation hash identically after
    * it. Declared output is the normalized text's md5 + length, the
    * dedup key a 100 TB run actually materializes (shipping the full
    * normalized text would double the corpus). Pure codegen'd
    * projections — shuffle-free except the output sort; the regex
    * char classes are in the Java∩RE2 common subset both engines
    * compile identically (q_redact's precedent). */
  def qNormalizeText(spark: SparkSession, d: String): DataFrame =
    Tables.documentsSpread(spark, d)
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " ")).as("norm"))
      .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
        length(col("norm")).as("n_chars_norm"))
      .orderBy("doc_id")

  /** Hybrid retrieval by reciprocal-rank fusion: the BM25 lexical
    * top-10 for each query term re-ranked against a document-quality
    * prior — the standard way production retrieval combines rankers
    * whose scores live on incomparable scales (RRF needs only ranks,
    * never score calibration). Fused score is INTEGER-scaled,
    * Σ ⌊10⁹/(60+rank)⌋ with the conventional k=60, so the checked
    * surface has no floating point at all — rank positions are the
    * only thing the two rankers contribute.
    *
    * Scale shape: both inputs are already bounded — the BM25 side is
    * the TopKAggregator's ≤10 rows per term, the prior side streams
    * the corpus once past the broadcast 30-row candidate set. The two
    * row_number windows partition by term over ≤10-row groups
    * (k-bounded, NOT corpus-bounded — the windows the similarity
    * family had to avoid are harmless here because the aggregator
    * already shrank the data). */
  def qHybridRank(spark: SparkSession, d: String): DataFrame = {
    val lex = qBm25(spark, d)
      .select(col("term"), col("doc_id"), col("rn").cast("long").as("rn_lex"))
    val pri = qQualityScore(spark, d).select(col("doc_id"), col("quality_score"))
    val cand = pri.join(broadcast(lex), Seq("doc_id"))
    val wq = Window.partitionBy("term")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val fused = cand
      .withColumn("rn_quality", row_number().over(wq).cast("long"))
      .withColumn("rrf_scaled", expr(
        "CAST(1000000000 AS BIGINT) div (60 + rn_lex)" +
          " + CAST(1000000000 AS BIGINT) div (60 + rn_quality)"))
    val wf = Window.partitionBy("term")
      .orderBy(col("rrf_scaled").desc, col("doc_id"))
    fused.withColumn("fused_rank", row_number().over(wf).cast("long"))
      .select(col("term"), col("doc_id"), col("rn_lex"), col("rn_quality"),
        col("rrf_scaled"), col("fused_rank"))
      .orderBy("term", "fused_rank")
  }

  /** Rank-biased overlap (Webber et al., TOIS 2010) between the BM25
    * ranking and the raw term-frequency ranking, per query term — the
    * ranker-agreement metric an offline retrieval eval runs before
    * swapping scorers ("how much does the cheap ranker agree with the
    * good one at the top?"). Top-weightedness matters: plain set
    * overlap@k treats rank 1 and rank 10 alike; RBO discounts depth d
    * by p^(d-1).
    *
    * Determinism across engines: p = 1/2 makes every depth weight a
    * power of two, so the truncated-RBO sum
    * Σ_{d=1..10} ov_d / (2^d · d) is computed as
    * `(10^12 · ov_d) div 2^d div d` — nested floor division on
    * non-negative BIGINTs, bit-identical to the oracle's `//` (the
    * nested-floor identity ⌊⌊x/a⌋/b⌋ = ⌊x/(ab)⌋ holds for positive
    * integers, so the two-step form is exact). No floats anywhere in
    * the checked surface; the BM25 ordering itself reuses the
    * already-IEEE-pinned expression tree from qBm25.
    *
    * Plan shape for 100 TB: both rankings are k-bounded (≤ 10 rows per
    * term) BEFORE anything joins — the overlap equi-join, the 10-row
    * depth expansion, and the final fold all run on |terms| × k rows
    * regardless of corpus size. The corpus is touched exactly once,
    * inside the shared tf aggregate. */
  def qRboOverlap(spark: SparkSession, d: String): DataFrame = {
    val lex = qBm25(spark, d)
      .select(col("term"), col("doc_id"), col("rn").cast("long").as("rn_a"))
      .persist() // feeds the term dim AND the overlap join
    // Ranker B: raw tf desc (doc_id tiebreak) over the same tf frame.
    val docs = Tables.documents(spark, d)
    val tf = docs
      .select(col("doc_id"), explode(expr(toks)).as("term"))
      .filter(col("term").isin("vector", "join", "scan"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val wB = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    val raw = tf.withColumn("rn_b", row_number().over(wB).cast("long"))
      .filter(col("rn_b") <= 10).select("term", "doc_id", "rn_b")
    // A matched pair counts toward every depth d ≥ max(rn_a, rn_b);
    // the depth expansion is a ≤10-wide explode per matched pair (no
    // join, no nested loop — the frame is already k-bounded anyway).
    val matched = lex.join(raw, Seq("term", "doc_id"))
      .select(col("term"), greatest(col("rn_a"), col("rn_b")).as("mx"))
    val ov = matched
      .select(col("term"), explode(expr("sequence(CAST(mx AS INT), 10)")).as("depth"))
      .groupBy("term", "depth").agg(count(lit(1)).as("ov"))
    val terms = lex.select("term").distinct()
    terms.join(ov, Seq("term"), "left")
      .groupBy("term")
      .agg(
        coalesce(max(when(col("depth") === 10, col("ov"))), lit(0L))
          .as("overlap10"),
        coalesce(sum(expr(
          "CAST(1000000000000 AS BIGINT) * ov div shiftleft(CAST(1 AS BIGINT), CAST(depth AS INT)) div depth")),
          lit(0L)).as("rbo_scaled"))
      .orderBy("term")
  }

  /** Corpus-wide top-20 word trigrams by occurrence count — the basic
    * n-gram frequency profile (boilerplate detection, stop-phrase
    * lists, decontamination allowlists all start here). One hash
    * aggregate over the multiset shingle stream, then
    * `orderBy().limit(20)` — Catalyst plans TakeOrderedAndProject
    * (per-partition partial top-k merged on the driver exchange), so
    * no task ever sorts the full shingle vocabulary. */
  def qNgramCounts(spark: SparkSession, d: String): DataFrame =
    wordShingles(spark, d)
      .groupBy("shingle").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("shingle"))
      .limit(20)

  /** BPE tokenizer training, one merge step: corpus-wide frequency of
    * every adjacent character pair, the statistic the byte-pair-
    * encoding loop greedily merges (the inner loop of training the
    * tokenizer that the rest of this pipeline counts tokens with).
    *
    * The scale trick is the order of operations: the corpus FIRST
    * collapses to its word vocabulary — a hash aggregate whose output
    * is vocabulary-sized, ~10⁵ rows no matter how many documents feed
    * it — and the ×(len−1) pair expansion runs over that vocabulary,
    * never over corpus text. At 100 TB the expensive half (corpus →
    * (word, count)) is the same map-side-combining shape as
    * q_ngram_counts; everything after is constant-bounded. Words of
    * one character are filtered BEFORE the transform: length−1 = 0
    * would hit Spark's descending `sequence(1, 0)` edge (the
    * q_entropy lesson). Top-20 via orderBy().limit() —
    * TakeOrderedAndProject, no full-vocabulary sort. */
  def qBpePairs(spark: SparkSession, d: String): DataFrame =
    Tables.documentsSpread(spark, d)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("n")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(20)

  /** Per-source duplicate-rate report: how much of each source is
    * exact-duplicate text — the first corpus-health number a dedup
    * run reports per provenance bucket. Exact text identity via md5;
    * count + count(DISTINCT md5) in one aggregate (Spark plans the
    * distinct as a partial-aggregated expand, not a second scan).
    * The rate's double division is the same pinned (n - nd) / n
    * expression tree on both engines. */
  def qDupRateBySource(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_distinct"))
      .withColumn("dup_rate", round(
        (col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs").cast("double"), 4))
      .orderBy("source")

  /** Hot-band cap: an LSH band group of k docs expands to k² candidate
    * pairs, so one near-universal band value (all-identical boilerplate
    * docs, or a degenerate hash) can dominate the whole job. Groups
    * larger than this are dropped before pair expansion — standard LSH
    * practice: such a band carries no discriminative signal, and any
    * true near-dups inside it still collide on their other 3 bands.
    * The bound makes per-band work ≤ cap² regardless of corpus size;
    * at sf0.01/0.1 no group comes near it (asserted in QualitySpec),
    * so oracle results are unchanged. */
  private[graft] val maxBandGroup = 1000

  /** Fused 8-slice minhash signature + distinct-shingle count as a
    * pure projection over the documents scan — the native `minhash8`
    * expression computes per doc what `minhashSig` aggregates over the
    * exploded inverted index. One narrow row per doc, no generator, no
    * aggregate, no shuffle: at 1000 executors the signature stage is
    * map-only. Docs with no 3-token window yield null and are dropped,
    * matching the aggregate form's absent group. MinhashSigSpec-style
    * equality with the aggregate form is asserted in QualitySpec. */
  private[graft] def minhashSigFused(spark: SparkSession, d: String): DataFrame = {
    Tables.documentsSpread(spark, d)
      .select(col("doc_id"), expr("minhash8(text, 3)").as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id") +:
        (0 until 8).map(j => col(s"s.m$j").as(s"m$j")) :+ col("s.sz").as("sz"): _*)
  }

  /** 8-slice minhash signature + shingle-set size, one pass over the
    * inverted index — the aggregate formulation, kept as the spec's
    * ground truth for `minhashSigFused` and for callers that already
    * hold a restricted inverted index. */
  private[graft] def minhashSig(inv: DataFrame): DataFrame = {
    val h = inv.withColumn("h", md5(col("shingle")))
    val mins = (0 until 8).map(j =>
      min(substring(col("h"), 4 * j + 1, 4)).as(s"m$j"))
    h.groupBy("doc_id")
      .agg(mins.head, (mins.tail :+ count(lit(1)).as("sz")): _*)
  }

  /** Signature → 4 LSH band rows per doc (2 slices per band). */
  private[graft] def minhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(array(
      (0 until 4).map(b => concat(col(s"m${2 * b}"), col(s"m${2 * b + 1}"))): _*))
      .as(Seq("band_idx", "band_val")))

  /** LSH band-load audit — the governance table behind the hot-band
    * cap every bucketed near-dup pass depends on at 100 TB: per band,
    * the bucket count, the largest bucket, the CANDIDATE-PAIR volume
    * the band contributes (Σ sz·(sz−1)/2 — the LSH self-join's exact
    * output size, the number that predicts the verify stage's cost),
    * and the doc mass sitting in buckets past `maxBandGroup` (what the
    * cap would drop). A band whose max bucket approaches the cap, or
    * whose pair volume dwarfs its siblings', signals a degenerate
    * slice (boilerplate-dominated shingles) before a full pass is
    * paid. Bucket sizes collapse map-side; the audit itself is
    * |buckets|-sized, never pair-sized — it PRICES the pair join
    * without running it. */
  def qBandLoad(spark: SparkSession, d: String): DataFrame =
    minhashBands(minhashSigFused(spark, d))
      .groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("band_idx").cast("long").as("band_idx"))
      .agg(count(lit(1)).as("n_buckets"),
        sum("sz").as("n_docs"),
        max("sz").as("max_bucket"),
        // sz·(sz−1) is even, so floor division is exact division
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"),
        sum(when(col("sz") > maxBandGroup, col("sz")).otherwise(lit(0L)))
          .as("n_docs_capped"))
      .orderBy("band_idx")

  /** E22: MinHash + LSH near-duplicate pairs, verified with exact
    * Jaccard ≥ 0.5 over word 3-gram shingles — the one candidate-and-
    * verify pipeline behind [[qMinhashNeardup]], [[qIncrementalDedup]]
    * and [[qMinhashEstErr]]. Returns the verified (doc_a, doc_b,
    * n_common, sz_a, sz_b) with doc_a < doc_b. `keep` restricts the
    * candidate pairs before the verify: `lit(true)` keeps all (Catalyst
    * prunes it), and a conjunct over one side's column is pushed below
    * the band join to that side.
    *
    * Signature: ONE md5 per shingle, sliced into 8 disjoint 4-hex-char
    * sub-hashes; minhash_j = min of slice j over the doc's shingles
    * ([[minhashSigFused]]). An 8× cheaper signature than 8 seeded
    * hashes; 16-bit slices add a ~1/2e5 per-band false-collision rate,
    * which the exact verify absorbs (and the oracle replicates
    * bit-for-bit).
    *
    * Plan hygiene: the signature, the capped bands, the candidates and
    * the candidate shingle sets are each read more than once, and
    * Catalyst shares no common subplans, so each is `.persist()`ed. The
    * per-doc set size rides along in the signature, so sizing needs no
    * extra pass.
    *
    * Candidates: band rows self-join on (band_idx, band_val) after
    * hot groups are capped away (`maxBandGroup`) — both the group-size
    * window and the join reuse the same hash partitioning, and the
    * whole path is codegen'd. */
  private def minhashVerified(spark: SparkSession, d: String, keep: Column): DataFrame = {
    val sig = minhashSigFused(spark, d).persist()
    val capped = minhashBands(sig)
      .withColumn("k", count(lit(1)).over(Window.partitionBy("band_idx", "band_val")))
      .filter(col("k") <= maxBandGroup)
      .persist()
    val cand = capped.select(col("band_idx"), col("band_val"), col("doc_id").as("doc_a"))
      .join(capped.select(col("band_idx"), col("band_val"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b") && keep)
      .select("doc_a", "doc_b").distinct()
      .persist()
    // Exact verify on CANDIDATES ONLY: fetch the shingle set just for
    // docs that banded together (≪ corpus — the whole point of LSH)
    // and count the overlap with a codegen'd array_intersect. The
    // full-corpus inverted index the old verify joined through is
    // never built; only candidate docs' shingle arrays materialize.
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val sets = Tables.documents(spark, d)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(expr("word_shingles(text, 3)")).as("sh"))
      .persist()
    val sizes = sig.select(col("doc_id"), col("sz"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .filter(jaccard >= 0.5)
      .select("doc_a", "doc_b", "n_common", "sz_a", "sz_b")
  }

  /** Exact Jaccard of a verified pair, rounded to 4 places. */
  private val jaccard = expr("round(n_common / cast(sz_a + sz_b - n_common AS DOUBLE), 4)")

  def qMinhashNeardup(spark: SparkSession, d: String): DataFrame =
    minhashVerified(spark, d, lit(true))
      .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** Landed MinHash-LSH pair artifact: `qMinhashNeardup`'s exact output
    * materialized once per (sfDir, pipeline-version) through the same
    * write-once Landing pattern the file-format queries use. The six
    * dedup-audit consumers (clusters/stats/weight/keep-best/recall,
    * cross-source leak) and the composed training pipeline all derive
    * from this one pair stream; recomputing the signature+band+verify
    * subtree inside each of them was ~18-20 s of the 169 s sf0.1 bench.
    * This mirrors production at 100 TB, where the dedup run WRITES its
    * pair stream and every audit reads the artifact — the first caller
    * pays the full pipeline (honest: the bench's warmup/first pass
    * includes it), later callers scan parquet. The declared
    * `q_minhash_neardup` query itself stays self-contained (computes
    * fresh), so the oracle surface still verifies the full pipeline.
    * Bump the `_v1` key on any semantic change to the pair pipeline —
    * the marker-gated artifact would otherwise serve stale pairs. */
  private[graft] def neardupPairs(spark: SparkSession, d: String): DataFrame =
    // r10: landed on TxTable (multi-JVM-safe version-0 claim)
    graft.sources.Landing.table(spark, d, "lsh_pairs_v2")(qMinhashNeardup(spark, d))

  /** Near-dup threshold sensitivity sweep — the tuning table that
    * decides where a dedup run sets its Jaccard cutoff: for each 0.1
    * similarity band over the verified LSH pair stream, the pair
    * count, the DISTINCT documents involved, and the cumulative
    * pairs-at-or-above (what a cutoff at that band would remove).
    * Raising the threshold from 0.5 to 0.8 typically trades recall
    * for precision; this measures the trade on THIS corpus instead of
    * assuming it. Reads the landed pair artifact ([[neardupPairs]] —
    * the production form: the sweep is an audit over the dedup run's
    * own output); the rollup is a ≤6-row aggregate plus a window over
    * those 6 rows. Band edges are exact on the already-rounded
    * jaccard values, so floor(j·10) is cross-engine stable. */
  def qNeardupSweep(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = neardupPairs(spark, d)
      .withColumn("band_x10", expr("CAST(floor(jaccard * 10) AS BIGINT)"))
      .persist() // pair rollup + doc rollup share it
    val pairsAgg = banded.groupBy("band_x10").agg(count(lit(1)).as("n_pairs"))
    val docsAgg = banded
      .select(col("band_x10"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("band_x10").agg(countDistinct("doc").as("n_docs"))
    val wCum = Window.orderBy(col("band_x10").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    pairsAgg.join(docsAgg, Seq("band_x10"))
      .withColumn("n_pairs_at_least", sum("n_pairs").over(wCum))
      .select("band_x10", "n_pairs", "n_pairs_at_least", "n_docs")
      .orderBy("band_x10")
  }

  /** SimHash: 16-bit signature from per-token md5 nibbles (high bit of
    * each of the first 16 hex digits, ±1 vote per token). Near-identical
    * docs land on equal/adjacent signatures; the signature itself is the
    * verifiable artifact.
    *
    * Formulated as explode + 16 codegen'd conditional-sum aggregates
    * (one per bit), not `transform`/`aggregate` lambdas — the HOF form
    * ran interpreted (12 s at sf0.1; 1 s after). The per-bit vote is a
    * sum over the token multiset, so order and grouping don't matter
    * and map-side partial aggregation applies. */
  def qSimhash(spark: SparkSession, d: String): DataFrame =
    simhashBits(spark, d, 16)
      .select(col("doc_id"), col("sig_str").as("simhash"))
      .orderBy("doc_id")

  /** Shared simhash signature builder: per doc, bit b (1-based, over
    * the first `nBits` md5 hex positions of each token) is 1 iff the
    * ±1 vote sum over tokens is positive. r12 perf form: the hex
    * digit's high bit (`digit ≥ 8` ⟺ the lexical `substring(m,b,1) >=
    * '8'` on lowercase hex) is extracted ARITHMETICALLY — each 8-char
    * hex group parses once per token via conv() into a 32-bit long and
    * every bit is a codegen'd shift-and-mask — replacing nBits
    * per-token UTF8String allocations + string compares inside the
    * aggregate (the old form was the hot stage of the whole simhash
    * family: 32 substrings per token × ~1M tokens at sf0.1). The vote
    * is recovered exactly: Σ±1 = 2·Σbit − n > 0 ⟺ 2·Σbit > n. */
  private def simhashBits(spark: SparkSession, d: String,
      nBits: Int): DataFrame = {
    val nGroups = nBits / 8
    val groupCols = (0 until nGroups).map(g =>
      conv(substring(col("m"), 8 * g + 1, 8), 16, 10).cast("long").as(s"v$g"))
    val bitSums = (1 to nBits).map { b =>
      val g = (b - 1) / 8
      val sh = 31 - 4 * ((b - 1) % 8)
      sum(shiftright(col(s"v$g"), sh).bitwiseAND(lit(1L))).as(s"h$b")
    }
    Tables.documentsSpread(spark, d)
      .select(col("doc_id"), explode(expr(toks)).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("m"))
      .select(col("doc_id") +: groupCols: _*)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), bitSums: _*)
      .select(col("doc_id"), concat(
        (1 to nBits).map(b =>
          when(col(s"h$b") * 2 > col("n_tok"), "1").otherwise("0")): _*)
        .as("sig_str"))
  }

  /** SimHash near-duplicate pairs: 32-bit signatures (all 32 md5 hex
    * positions — 16 bits is under-discriminative on a small-vocabulary
    * corpus), banded LSH candidates, exact Hamming verify ≤ 1.
    *
    * The 4 × 8-bit bands give a pigeonhole GUARANTEE, not a
    * probabilistic one: two signatures differing in ≤ 3 bits must agree
    * on at least one band, so every pair within the Hamming threshold
    * is a candidate — recall 1 by construction, precision restored by
    * the exact verify. Candidates come from an equi-join on
    * (band_idx, band_val) — pair work scales with band-bucket sizes,
    * never corpus². The verify is `bit_count(sig_a ^ sig_b)` on packed
    * longs: one codegen'd instruction (POPCNT) per candidate, no
    * per-bit loop. */
  /** 32-bit simhash signatures: binary string + packed long. */
  private[graft] def simhashSigs32(spark: SparkSession, d: String): DataFrame =
    simhashBits(spark, d, 32)
      .withColumn("sig", conv(col("sig_str"), 2, 10).cast("long"))

  def qSimhashNeardup(spark: SparkSession, d: String): DataFrame = {
    val sigs = simhashSigs32(spark, d)
    // referenced twice (both sides of the band self-join) — persist
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        substring(col("sig_str"), 8 * b + 1, 8)): _*)).as(Seq("band_idx", "band_val")))
      .persist()
    val cand = bands.select(col("band_idx"), col("band_val"),
        col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      .join(bands.select(col("band_idx"), col("band_val"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b").distinct()
    cand
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= 1)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** n-gram Jaccard near-dup: exact word-3-gram Jaccard ≥ 0.5 over
    * same-lang pairs, via the inverted-index plan: explode shingles,
    * self-join on (lang, shingle) to count common shingles per pair,
    * then join per-doc set sizes. Pair rows materialize only for pairs
    * that share ≥ 1 shingle, and only (ids, counts) ever shuffle —
    * never the shingle arrays. Word 3-grams keep shingle document
    * frequency low, so the inverted index's Σdf² pair bound stays
    * near-linear; for corpora with hot shingles add a PPJoin-style
    * prefix filter (index only each doc's rarest |A|−⌈τ|A|⌉+1
    * shingles) before this join. */
  def qNgramJaccard(spark: SparkSession, d: String): DataFrame = {
    // PPJoin-style exact similarity join (Xiao et al., "Efficient
    // Similarity Joins for Near Duplicate Detection", WWW'08) —
    // prefix filter + positional filter, then exact verification.
    // Both filters are LOSSLESS for J ≥ t (the DuckDB oracle is an
    // independent inverted-index formulation — r9: the naive all-pairs
    // oracle form could not complete the K=10 magnitude probe — and
    // the spec asserts set equality against the naive ground truth
    // ngramJaccardNaive below):
    //  (1) prefix filter: under any global token order, two sets with
    //      J ≥ t must share a token among their first
    //      |X| − ⌈t·|X|⌉ + 1 tokens — only those enter the inverted
    //      index. Ordering by ascending document frequency puts the
    //      RAREST tokens in the prefix, shrinking the index join's
    //      Σdf² — the term that explodes on hot boilerplate shingles
    //      at 100 TB (measured at sf0.1: 326 026 naive pair rows →
    //      77 740 prefix pair rows).
    //  (2) positional filter: shared prefix tokens sort identically in
    //      both docs, so the LAST one (max rn on both sides) bounds
    //      the total overlap by matches-so-far + min(remaining
    //      suffix); pairs that cannot reach the required overlap
    //      α = ⌈t/(1+t)·(szA+szB)⌉ die before verification
    //      (measured: 73 839 candidates → 15 849).
    // Verification then intersects the two docs' full shingle ARRAYS
    // map-side (one native word_shingles eval per doc, two hash joins
    // of the small candidate stream) — no second pass over the
    // inverted index. 20.6× fewer pair rows than the naive join end
    // to end, same result. At sf0.1 wall-clock is a wash (~1.8 s vs
    // 1.7 s: the naive join is still tiny, and the prefix build pays
    // a df-join + per-doc window) — the point is the BOUND: naive
    // cost is Σdf² over all shingles, this cost is Σdf² over rare
    // prefix shingles + surviving candidates, which is what survives
    // a corpus with hot boilerplate.
    import org.apache.spark.sql.expressions.Window
    val t = 0.5
    val inv = wordShingleInv(spark, d).persist()
    val sizes = inv.groupBy("doc_id", "lang").agg(count(lit(1)).as("sz"))
    val dfreq = inv.groupBy("lang", "shingle").agg(count(lit(1)).as("df"))
    // ⌈t·sz⌉ in exact integer math for t = 0.5: (sz + 1) div 2. The
    // window's partition is one document's vocabulary, never the
    // corpus.
    val w = Window.partitionBy("lang", "doc_id").orderBy("df", "shingle")
    val prefix = inv.join(dfreq, Seq("lang", "shingle"))
      .withColumn("rn", row_number().over(w))
      .join(sizes, Seq("doc_id", "lang"))
      .filter(col("rn") <= expr("sz - ((sz + 1) div 2) + 1"))
      .select("lang", "shingle", "doc_id", "rn", "sz")
      .persist()
    val cand = prefix.toDF("lang", "shingle", "doc_a", "rn_a", "sz_a")
      .join(prefix.toDF("lang", "shingle", "doc_b", "rn_b", "sz_b"),
        Seq("lang", "shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("lang", "doc_a", "doc_b")
      .agg(count(lit(1)).as("n_matches"),
        max("rn_a").as("last_a"), max("rn_b").as("last_b"),
        first("sz_a").as("sz_a"), first("sz_b").as("sz_b"))
      .filter(expr(
        "n_matches + least(sz_a - last_a, sz_b - last_b) >= ((sz_a + sz_b + 2) div 3)"))
    // Exact verify: |A∩B| via array intersection of the full distinct
    // shingle sets, recomputed map-side from the text (cheaper than
    // re-shuffling the inverted index; the arrays are per-doc
    // vocabulary-sized).
    val docsArr = Tables.documentsSpread(spark, d)
      .select(col("lang"), col("doc_id"),
        array_distinct(expr("word_shingles(text, 3)")).as("arr"))
    cand
      .join(docsArr.select(col("lang"), col("doc_id").as("doc_a"), col("arr").as("arr_a")),
        Seq("lang", "doc_a"))
      .join(docsArr.select(col("lang"), col("doc_id").as("doc_b"), col("arr").as("arr_b")),
        Seq("lang", "doc_b"))
      .withColumn("n_common", size(array_intersect(col("arr_a"), col("arr_b"))))
      .withColumn("jaccard", expr(
        "round(n_common / cast(sz_a + sz_b - n_common AS DOUBLE), 4)"))
      .filter(col("jaccard") >= t)
      .select("lang", "doc_a", "doc_b", "jaccard")
      .orderBy("lang", "doc_a", "doc_b")
  }

  /** Landed exact-Jaccard pair artifact (`qNgramJaccard` output) —
    * same write-once contract and rationale as [[neardupPairs]]; read
    * by the dedup blocking-recall audit and the spec ground-truth
    * clustering so neither re-derives the PPJoin pipeline. */
  private[graft] def exactJaccardPairs(spark: SparkSession, d: String): DataFrame =
    // r10: landed on TxTable (multi-JVM-safe version-0 claim)
    graft.sources.Landing.table(spark, d, "ngram_pairs_v2")(qNgramJaccard(spark, d))

  /** The naive all-shingles inverted-index join — the spec's ground
    * truth proving the prefix filter above is lossless. */
  private[graft] def ngramJaccardNaive(spark: SparkSession, d: String): DataFrame = {
    // the index is referenced 3× (both join sides + sizes) and Catalyst
    // does not share common subplans — persist it once
    val inv = wordShingleInv(spark, d).persist()
    val sizes = inv.groupBy("doc_id", "lang").agg(count(lit(1)).as("sz")).persist()
    val common = inv.select(col("lang"), col("doc_id").as("doc_a"), col("shingle"))
      .join(inv.select(col("lang"), col("doc_id").as("doc_b"), col("shingle")),
        Seq("lang", "shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("lang", "doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard", expr(
        "round(n_common / cast(sz_a + sz_b - n_common AS DOUBLE), 4)"))
      .filter(col("jaccard") >= 0.5)
      .select("lang", "doc_a", "doc_b", "jaccard")
      .orderBy("lang", "doc_a", "doc_b")
  }

  /** Shingle CONTAINMENT (|A∩B| / min(|A|,|B|)): catches quote/subset
    * duplication — a short document embedded verbatim inside a longer
    * one — which symmetric Jaccard structurally misses (the union in
    * its denominator is dominated by the big doc, so the score stays
    * tiny no matter how completely the small doc is swallowed).
    * Dedup pipelines run BOTH: Jaccard for same-size near-dups,
    * containment for excerpt/quotation chains.
    *
    * Same inverted-index plan as qNgramJaccard — pair rows only for
    * pairs sharing ≥ 1 shingle, only (ids, counts) shuffle — and the
    * score ships as integer ppm via floor division (`div` ↔ the
    * oracle's `//`), so no float boundary exists to cross. */
  def qContainment(spark: SparkSession, d: String): DataFrame = {
    val inv = wordShingleInv(spark, d).persist()
    val sizes = inv.groupBy("doc_id", "lang").agg(count(lit(1)).as("sz")).persist()
    inv.select(col("lang"), col("doc_id").as("doc_a"), col("shingle"))
      .join(inv.select(col("lang"), col("doc_id").as("doc_b"), col("shingle")),
        Seq("lang", "shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("lang", "doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("containment_ppm",
        expr("(n_common * 1000000) div least(sz_a, sz_b)"))
      .filter(col("containment_ppm") >= 800000)
      .select("lang", "doc_a", "doc_b", "n_common", "containment_ppm")
      .orderBy("lang", "doc_a", "doc_b")
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * word-3-gram shingle with a held-out "benchmark" set (doc_id < 10
    * stands in for the eval suite) — the standard overlap check run
    * before any training corpus ships. The benchmark shingle set is
    * small by construction (eval suites are), so it broadcasts and the
    * corpus side streams map-only: at 100 TB this is one scan of the
    * corpus shingles against an in-memory hash set. Left join + HAVING
    * keeps only contaminated docs, with the overlap share for triage. */
  def qContamination(spark: SparkSession, d: String): DataFrame = {
    val inv = wordShingleInv(spark, d).persist()
    val bench = inv.filter(col("doc_id") < 10)
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1))
    inv.filter(col("doc_id") >= 10)
      .join(broadcast(bench), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_overlap"),
        count(lit(1)).as("n_shingles"))
      .filter(col("n_overlap") > 0)
      .withColumn("overlap_ratio",
        expr("round(n_overlap / cast(n_shingles AS DOUBLE), 4)"))
      .select("doc_id", "n_overlap", "n_shingles", "overlap_ratio")
      .orderBy("doc_id")
  }

  /** Per-source vocabulary drift: KL(source ‖ corpus) over the
    * unigram token distribution — the domain-shift monitor a corpus
    * pipeline runs per provenance ("did vendor X's crawl change
    * register?"). Per-(source, token) counts collapse map-side; the
    * corpus marginal is a SECOND aggregate over those counts (never a
    * second corpus scan); per-source totals and the 1-row corpus
    * total broadcast back. Every KL term is computed from exact
    * integers through one pinned double expression, and the sum
    * routes through DECIMAL(18,12) so partial-merge order cannot
    * perturb the 4th decimal (the qEntropy/qPerplexityProxy
    * discipline). */
  def qVocabDrift(spark: SparkSession, d: String): DataFrame = {
    val srcTok = Tables.documentsSpread(spark, d)
      .select(col("source"), explode(split(col("text"), "\\s+")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n_ts"))
      .persist() // feeds the corpus marginal, the totals, and the join
    val corpTok = srcTok.groupBy("tok").agg(sum("n_ts").as("n_t"))
    val srcTot = srcTok.groupBy("source").agg(sum("n_ts").as("n_s"))
    val tot = corpTok.agg(sum("n_t").as("n"))
    srcTok
      .join(corpTok, "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .withColumn("term", expr(
        """(CAST(n_ts AS DOUBLE) / n_s)
          | * ln((CAST(n_ts AS DOUBLE) / n_s) / (CAST(n_t AS DOUBLE) / n))"""
          .stripMargin))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), max(col("n_s")).as("n_tokens"),
        round(sum(col("term").cast("decimal(18,12)")).cast("double"), 4)
          .as("kl_divergence"))
      .orderBy("source")
  }

  /** N-gram novelty curve: per document (in ingestion = doc_id
    * order), the share of its distinct word-3-gram shingles that no
    * EARLIER document contains — the corpus-redundancy signal that
    * tells a crawl when additional data stops contributing new
    * content. A shingle's novelty owner is its min(doc_id): one
    * aggregate over the inverted index, joined back on the shingle —
    * the Σdf-bounded inverted-index shape; only (shingle, id) pairs
    * shuffle, never text. */
  def qNgramNovelty(spark: SparkSession, d: String): DataFrame = {
    val inv = wordShingleInv(spark, d).persist() // index + first-seen share it
    val first = inv.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    inv.join(first, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("first_doc") === col("doc_id"), lit(1))).as("n_novel"))
      .withColumn("novelty_ratio",
        expr("round(n_novel / CAST(n_shingles AS DOUBLE), 4)"))
      .orderBy("doc_id")
  }

  /** Per-source quality gate: keep documents at or above their
    * source's MEDIAN quality score — the relative filter a curation
    * pipeline uses when absolute thresholds don't transfer across
    * provenances (a mid-tier crawl doc and a mid-tier textbook doc
    * have very different absolute scores). Declared surface is the
    * per-source accounting (corpus size, survivors, the median
    * itself); the gate predicate is a broadcast join any downstream
    * filter inlines. The exact per-group percentile buffers one
    * source's scores per task — same documented trade as
    * q_percentiles, with approx_percentile as the 100 TB swap. */
  def qQualityGate(spark: SparkSession, d: String): DataFrame = {
    val scored = qQualityScore(spark, d).select(col("doc_id"), col("quality_score"))
      .join(Tables.documents(spark, d).select(col("doc_id"), col("source")), "doc_id")
      .persist() // feeds both the median aggregate and the gate count
    // DISCRETE median (an actual score value, no interpolation): the
    // continuous form computes a + f·(b−a) in Spark and (a+b)/2-style
    // in DuckDB — different IEEE expressions that can differ in the
    // 4th decimal. A selected data value is hash-stable by
    // construction (same reasoning as the k-means exact-decimal fix).
    val med = scored.groupBy("source")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY quality_score)").as("med"))
    scored.join(broadcast(med), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("quality_score") >= col("med"), lit(1))).as("n_kept"),
        max(col("med")).as("median_score"))
      .orderBy("source")
  }

  /** Cross-document boilerplate phrase detection (the CCNet-style
    * pre-dedup pass that strips headers, footers, and license
    * blurbs): word-5-gram phrases appearing in ≥ 3 DISTINCT documents
    * are boilerplate candidates — at higher scale the threshold is a
    * corpus fraction, but the mechanism is identical: per-doc distinct
    * phrases (the native `word_shingles` at width 5 — same expression,
    * different n), then a document-frequency hash aggregate with the
    * threshold as a HAVING. Phrase df collapses map-side; nothing
    * longer than a phrase string ever shuffles. */
  def qBoilerplate(spark: SparkSession, d: String): DataFrame = {
    Tables.documentsSpread(spark, d)
      .select(col("doc_id"), explode(expr("word_shingles(text, 5)")).as("phrase"))
      .distinct()
      .groupBy("phrase").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3)
      .orderBy(col("df").desc, col("phrase"))
  }

  /** Contamination triage: for each benchmark document (doc_id < 10,
    * the stand-in eval suite), the single corpus document sharing the
    * MOST word-3-gram shingles — the drill-down a decontamination
    * report links to ("which training doc leaked this eval item?").
    * Overlap counts come from the same Σdf-bounded inverted-index
    * join as qContamination; the per-benchmark argmax is a max_by
    * hash aggregate keyed on (count, -doc_id) — deterministic ties to
    * the smaller corpus doc, no per-group sort (qDedupKeepBest's
    * pattern). */
  def qEvalOverlap(spark: SparkSession, d: String): DataFrame = {
    val inv = wordShingleInv(spark, d).persist()
    val bench = inv.filter(col("doc_id") < 10)
      .select(col("doc_id").as("bench_doc"), col("shingle"))
    inv.filter(col("doc_id") >= 10)
      .select(col("doc_id").as("corpus_doc"), col("shingle"))
      .join(broadcast(bench), "shingle")
      .groupBy("bench_doc", "corpus_doc")
      .agg(count(lit(1)).as("n_shared"))
      .groupBy("bench_doc")
      .agg(max_by(struct(col("corpus_doc"), col("n_shared")),
        struct(col("n_shared"), (-col("corpus_doc")).as("neg_id"))).as("best"))
      .select(col("bench_doc"), col("best.corpus_doc").as("corpus_doc"),
        col("best.n_shared").as("n_shared"))
      .orderBy("bench_doc")
  }

  /** Intra-document repetition (the Gopher-style quality filter):
    * share of word-3-gram occurrences that are repeats of an earlier
    * shingle in the same doc, plus the hottest shingle's multiplicity.
    * Two stacked hash aggregates — per-(doc, shingle) counts collapse
    * map-side, then per-doc totals — all codegen, one shuffle each. */
  def qRepetition(spark: SparkSession, d: String): DataFrame =
    wordShingles(spark, d)
      .groupBy("doc_id", "shingle")
      .agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_shingles"),
        count(lit(1)).as("n_distinct"),
        max("n").as("max_repeat"))
      .withColumn("repetition_ratio",
        expr("round(1 - n_distinct / cast(n_shingles AS DOUBLE), 4)"))
      .select("doc_id", "n_shingles", "n_distinct", "max_repeat", "repetition_ratio")
      .orderBy("doc_id")

  /** Substring-dedup cut-mask accounting (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"
    * substring pass, at window granularity): per document, how many
    * token POSITIONS are covered by 8-token windows that also appear
    * in another document — i.e. the exact mass a substring dedup
    * would cut, which doc-level near-dup (Jaccard/containment over
    * SETS) cannot see because it ignores positions. Pipeline:
    * per-position windows via the native `word_shingles` posexplode
    * (map-only), a document-frequency aggregate keeps windows in ≥ 2
    * distinct docs, and each doc's surviving [pos, pos+8) intervals
    * merge with qIntervalMerge's cumulative-max island pattern —
    * overlapping hits collapse, so covered_tokens counts each
    * position once (sf0.01: 2101 dup windows merge to 2430 covered
    * positions across 47 docs).
    *
    * Scale shape: only (window-hash-sized string, doc, pos) triples
    * shuffle; the df aggregate collapses map-side; the island window
    * partitions by DOC over dup positions only (≤ doc length rows per
    * partition — bounded by construction). At 100 TB swap the raw
    * window string for its md5 before the shuffle (same plan, fixed
    * 32-byte keys); kept as the string here so the oracle needs no
    * hash parity beyond tokenization. */
  def qDupSpans(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Tables.documentsSpread(spark, d)
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
        posexplode(expr("word_shingles(text, 8)")).as(Seq("pos", "w")))
      .persist() // feeds both the df aggregate and the dup join
    val shared = win.select("w", "doc_id").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("w")
    val dup = win.join(shared, "w")
      .select(col("doc_id"), col("n_tokens"), col("pos").cast("long").as("pos"))
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    dup.withColumn("pend", col("pos") + 8L)
      .withColumn("prev_end", max("pend").over(wPrev))
      .withColumn("is_new",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1).otherwise(0))
      .withColumn("island", sum("is_new").over(upTo))
      .groupBy("doc_id", "n_tokens", "island")
      .agg(min("pos").as("mn"), max("pend").as("mx"), count(lit(1)).as("nw"))
      .groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("n_spans"), sum("nw").as("n_dup_windows"),
        sum(col("mx") - col("mn")).as("covered_tokens"))
      .withColumn("dup_ppm", expr("(covered_tokens * 1000000) div n_tokens"))
      .select("doc_id", "n_tokens", "n_dup_windows", "n_spans",
        "covered_tokens", "dup_ppm")
      .orderBy("doc_id")
  }

  /** DSIR-style importance score (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): per document,
    * how much its hashed-bigram profile leans toward a TARGET domain
    * (here lang = 'en', the usual "target = curated English"
    * framing) versus the raw corpus. DSIR proper scores
    * Σ log(p_target(g)/p_raw(g)); shipping summed logs is not
    * hash-stable cross-engine (libm ulp), so the declared surface is
    * the integer-exact affinity Σ_occurrences (ppm_target(g) −
    * ppm_raw(g)) — the same "which grams over-index in the target"
    * signal in fixed-point, with the log-ratio form as the one-line
    * production swap where bit-parity with an external oracle is not
    * a requirement.
    *
    * Scale shape: gram stats are vocabulary-sized aggregates (both
    * derived from ONE occurrence scan — the target side is a filtered
    * re-aggregate of the same frame, never a second corpus pass); the
    * 1-row totals broadcast; the per-doc score is one equi-join of
    * the occurrence stream against the gram table and a per-doc sum
    * that collapses map-side. At 100 TB the gram table is the thing
    * DSIR hashes to 10k buckets — add `hash(g) % 10000` as the key
    * and the stats side becomes a broadcastable constant. */
  def qDsirWeight(spark: SparkSession, d: String): DataFrame = {
    val occ = Tables.documentsSpread(spark, d)
      .select(col("doc_id"), col("lang"),
        explode(expr("word_shingles(text, 2)")).as("g"))
      .persist() // raw stats, target stats, totals, and the scoring join
    val raw = occ.groupBy("g").agg(count(lit(1)).as("c_r"))
    val tgt = occ.filter(col("lang") === "en")
      .groupBy("g").agg(count(lit(1)).as("c_t"))
    val totals = occ.agg(count(lit(1)).as("tot_r"),
      count(when(col("lang") === "en", lit(1))).as("tot_t"))
    val delta = raw.join(tgt, Seq("g"), "left")
      // 1-row totals broadcast (PlanQualitySpec-allowlisted)
      .crossJoin(broadcast(totals))
      .select(col("g"),
        (expr("(coalesce(c_t, 0) * 1000000) div tot_t")
          - expr("(c_r * 1000000) div tot_r")).as("delta_ppm"))
    occ.join(delta, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("delta_ppm").as("affinity_ppm"))
      .orderBy("doc_id")
  }

  /** TF-IDF top terms: the per-document salient-term view a corpus
    * curation pipeline uses for topic filtering and dedup triage.
    * tf = term count in doc, df = docs containing term, score =
    * tf · ln(N/df), top-3 terms per doc.
    *
    * Plan: explode → two hash aggregates (tf, then df over tf's
    * distinct doc-term pairs — no second pass over the corpus) → equi
    * join — the inverted-index shape whose bytes shuffled scale with
    * distinct doc-term pairs. The corpus size N joins in as a
    * broadcast single-row aggregate, never a driver-side collect. The
    * tf aggregate feeds both its own join side and the df rollup, so
    * it is persisted (Catalyst shares no common subplans).
    *
    * Determinism note: ln is evaluated on the same IEEE double in both
    * engines (exact division first); ties in score are exact-equal
    * (same tf, df) and break on the term string. */
  def qTfidf(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, d)
    val tf = docs.select(col("doc_id"), explode(expr(toks)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val wTop = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("score"), 4).as("tfidf"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  /** Cross-source near-dup leakage audit: how many near-duplicate
    * pairs straddle two different provenance buckets — the check that
    * catches a benchmark set leaking into the web crawl, or two
    * vendors shipping the same scrape. Consumes the LSH pair stream
    * (band-bucketed, never all-pairs) and joins each side's source —
    * the pair set is tiny relative to the corpus, so the two lookups
    * are a narrow scan the pair side broadcast-joins against. Source
    * pairs are unordered: normalized to (least, greatest). */
  def qCrossSourceLeak(spark: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(spark, d).select(col("doc_id"), col("source"))
    val pairs = neardupPairs(spark, d).select("doc_a", "doc_b")
    // each step streams the corpus once past the broadcast pair side
    val withA = src.join(broadcast(pairs), col("doc_id") === col("doc_a"))
      .select(col("doc_b"), col("source").as("src_a"))
    src.join(broadcast(withA), col("doc_id") === col("doc_b"))
      .select(least(col("src_a"), col("source")).as("src_lo"),
        greatest(col("src_a"), col("source")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_lo", "src_hi")
  }

  /** Bloom-filter membership dedup — the constant-memory fast path an
    * incremental ingest runs BEFORE any shuffle: a bloom built over
    * the existing index's content hashes is broadcast to the arrival
    * scan, and only bloom hits (guaranteed superset of the true dups)
    * proceed to exact verification. At 100 TB the filter is a few MB
    * standing in for the full index — arrivals that miss it skip the
    * dedup join entirely.
    *
    * Declared surface keeps the sketch checkable without hashing
    * implementation-defined bits (the q_percentiles_approx pattern):
    * `exact_dup` is the oracle-verifiable truth, and `bloom_sound`
    * asserts the no-false-negative contract (exact_dup → bloom hit);
    * the oracle emits constant TRUE, so a bloom regression flips the
    * boolean and fails the hash. */
  def qBloomDedup(spark: SparkSession, d: String): DataFrame = {
    Tables.documents(spark, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .createOrReplaceTempView("bloom_docs")
    // might_contain requires its filter side be a constant or scalar
    // subquery — the subquery form keeps the build fully distributed
    // (one aggregate job whose 1-row result the driver re-plans as a
    // literal), exactly how Spark's own runtime-filter rewrite wires it
    spark.sql(
      """SELECT a.doc_id,
        |  (i.h IS NOT NULL) AS exact_dup,
        |  (might_contain(
        |     (SELECT bloom_filter_agg(xxhash64(h), 1000L, 8192L)
        |      FROM bloom_docs WHERE doc_id < 400),
        |     xxhash64(a.h))
        |   OR i.h IS NULL) AS bloom_sound
        |FROM bloom_docs a
        |LEFT JOIN (SELECT DISTINCT h FROM bloom_docs WHERE doc_id < 400) i
        |  ON a.h = i.h
        |WHERE a.doc_id >= 400
        |ORDER BY a.doc_id""".stripMargin)
  }

  /** BM25 retrieval scoring (Okapi, k1=1.2, b=0.75): for each query
    * term the 10 best-matching documents — the relevance ranker a
    * targeted training-data selection ("find docs about X") runs at
    * corpus scale. Robertson & Walker's formula over tf, df, doc
    * length and mean doc length; it improves on qTfidf by saturating
    * tf and normalizing by document length.
    *
    * Scale shape: the token explode filters to the query-term set
    * BEFORE the (doc, term) aggregate, so the shuffled tf stream is
    * ≤ |docs|×|terms|, not the corpus token count; df (3 rows) and
    * the corpus stats (1 row) broadcast back; the final per-term
    * top-10 is the bounded TopKAggregator — ≤ 10 rows per term per
    * partition enter the shuffle, no per-term window sort.
    *
    * Double-parity contract with the oracle: every input (tf, df, dl,
    * N, Σdl) is an exact integer; both engines evaluate the identical
    * expression tree over explicit DOUBLE casts and `e0` double
    * literals (plain `0.5` parses as DECIMAL in both engines, whose
    * division semantics differ), so the unrounded scores are
    * bit-identical IEEE doubles and ranking agrees everywhere. */
  def qBm25(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val qTerms = Seq("vector", "join", "scan")
    val docs = Tables.documents(spark, d)
    val tf = docs
      .select(col("doc_id"), size(expr(toks)).as("dl"), explode(expr(toks)).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .persist()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(expr(toks))).as("sum_dl"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score", expr(
        """ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
          |   / (CAST(df AS DOUBLE) + 0.5e0) + 1.0e0)
          | * (CAST(tf AS DOUBLE) * 2.2e0)
          | / (CAST(tf AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0
          |      * CAST(dl AS DOUBLE)
          |      / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin))
    val byTerm = scored
      .select(col("term"), col("score"), col("doc_id"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.TopKAggregator[(String, Double, Long)](
        10, r => (r._2, r._3)).toColumn.name("topk"))
      .toDF("term", "topk")
    byTerm
      .select(col("term"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("term"), col("e._2").as("doc_id"),
        round(col("e._1"), 4).as("bm25"), (col("pos") + 1).as("rn"))
      .orderBy("term", "rn")
  }

  /** Vocabulary coverage: the top-50 terms by corpus frequency with
    * cumulative coverage share — the curve a tokenizer-vocabulary
    * decision reads off ("how much of the corpus do the first k types
    * cover"). One hash aggregate over the exploded token stream, then
    * then `orderBy().limit(k)` — Catalyst plans TakeOrderedAndProject
    * (per-partition partial top-k, merge on the driver-side exchange),
    * so no single task ever sorts the whole vocabulary; the rank
    * window runs over just the k survivors. */
  def qVocabCoverage(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, d)
      .select(explode(expr(toks)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .persist() // feeds both the total and the top-k
    val total = counts.agg(sum("n").as("n_total"))
    val wRank = Window.orderBy(col("n").desc, col("term"))
    val top = counts
      .orderBy(col("n").desc, col("term")).limit(50) // TakeOrderedAndProject
      .withColumn("rank", row_number().over(wRank))
    val wCum = Window.orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("share", expr("round(n / cast(n_total AS DOUBLE), 4)"))
      .withColumn("cum_share",
        round(sum("n").over(wCum) / col("n_total").cast("double"), 4))
      .select("rank", "term", "n", "share", "cum_share")
      .orderBy("rank")
  }

  /** Pointwise mutual information over adjacent word pairs — the
    * collocation signal ("new york" vs chance co-occurrence) corpus
    * analysis uses for phrase mining. Bigram and unigram counts are
    * two codegen hash aggregates; the PMI expression is written with
    * identical left-to-right association in the engine and the oracle
    * so the IEEE doubles match bit-for-bit. Top-20 bigrams by count
    * keeps the output bounded and the final sort constant-size. */
  def qPmiBigrams(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toksStream = Tables.documents(spark, d)
      .select(col("doc_id"), posexplode(expr(toks)).as(Seq("pos", "tok")))
      .persist() // unigram counts + bigram stream share it
    val uni = toksStream.groupBy(col("tok").as("t")).agg(count(lit(1)).as("n_t"))
    val nTok = toksStream.agg(count(lit(1)).as("n_tok"))
    val bi = toksStream
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .filter(col("t1").isNotNull)
      .groupBy(col("tok").as("a"), col("t1").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .persist() // pair-total aggregate + top-20 both read it
    val nPairs = bi.agg(sum("n_ab").as("n_pairs"))
    val wTop = Window.orderBy(col("n_ab").desc, col("a"), col("b"))
    bi.orderBy(col("n_ab").desc, col("a"), col("b")).limit(20) // TakeOrdered
      .withColumn("rn", row_number().over(wTop))
      .join(uni.select(col("t").as("a"), col("n_t").as("n_a")), "a")
      .join(uni.select(col("t").as("b"), col("n_t").as("n_b")), "b")
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nPairs.select(col("n_pairs"))))
      .withColumn("pmi", expr(
        "round(ln(CAST(n_ab AS DOUBLE) * n_tok * n_tok / (CAST(n_pairs AS DOUBLE) * n_a * n_b)), 4)"))
      .select("rn", "a", "b", "n_ab", "pmi")
      .orderBy("rn")
  }

  /** E25: JSON extraction from `events.props` (`{"k": <int>}`) +
    * aggregation over the extracted key. */
  def qJsonExtract(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** PII-scrub / normalization pattern: redact every digit run in the
    * raw props payload to a `<NUM>` placeholder and count what was
    * redacted — the shape of email/phone/SSN scrubbing in a training
    * pipeline (the regex is the only thing that changes). Pure
    * codegen'd per-row projection: linear, shuffle-free, trivially
    * 100 TB-parallel. The digit pattern is shared Java-regex/RE2
    * syntax so the DuckDB oracle replays it exactly. */
  def qRedact(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(col("event_id"),
        expr("size(regexp_extract_all(props, '[0-9]+', 0))").as("n_redacted"),
        regexp_replace(col("props"), "[0-9]+", "<NUM>").as("redacted"))
      .orderBy("event_id")

  /** Character-level Shannon entropy per document — the classic
    * gibberish/boilerplate quality signal (low entropy = repeated
    * filler, high = random noise; natural text sits in a band).
    * Plan: posexplode to one row per character position (the same
    * codegen-friendly shape as qDocFingerprint — no HOF lambdas),
    * count per (doc, char), then fold −Σ p·ln(p). Each p·ln(p) term
    * is a bit-identical double on both engines (long/long division
    * then ln); the SUM over terms routes through DECIMAL(18,12) so
    * partial-aggregation order cannot perturb the result — the same
    * discipline as every other float aggregate here. Linear work in
    * corpus bytes, one shuffle keyed by doc_id. */
  /** Unigram-LM surprisal per document — the cheap perplexity proxy
    * used as a fluency/quality gate in corpus pipelines (docs whose
    * tokens are uniformly rare score high = gibberish; boilerplate of
    * common tokens scores low). score = avg over tokens of
    * −ln(count(tok)/N), i.e. the corpus-unigram negative log-likelihood
    * per token.
    *
    * Shape at scale: one exploded token stream persisted and read
    * twice (unigram counts + per-doc join), a broadcast 1-row total,
    * then a map-side-combining per-doc aggregate. The per-token term
    * is a bit-identical double on both engines (long/long division,
    * one ln); the sum routes through DECIMAL(18,12), the same
    * order-independence discipline as qEntropy. */
  def qPerplexityProxy(spark: SparkSession, d: String): DataFrame = {
    val toks = Tables.documentsSpread(spark, d)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .persist()
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("n_t"))
    val tot = toks.agg(count(lit(1)).as("n_tok"))
    toks.join(uni, "tok")
      .crossJoin(broadcast(tot))
      .withColumn("term", -log(col("n_t").cast("double") / col("n_tok")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("term").cast("decimal(18,12)")).cast("double") / count(lit(1)), 4)
          .as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** Incremental (batch-vs-index) near-dup detection: documents
    * arriving after the watermark (doc_id ≥ 400 — the stand-in for
    * "today's crawl") are checked against the EXISTING corpus index
    * (doc_id < 400) only — the candidate band join is new × index,
    * never new × new or index × index. This is the shape of continuous
    * corpus ingestion at 100 TB: the index side's signatures are a
    * precomputed artifact (here recomputed for self-containment), the
    * new batch is small, and per-batch work scales with the batch's
    * band collisions, not the corpus pair count. Runs
    * [[minhashVerified]] with the cross-watermark predicate, whose two
    * halves Catalyst pushes below the band join to each side. */
  def qIncrementalDedup(spark: SparkSession, d: String): DataFrame =
    minhashVerified(spark, d, col("doc_a") < 400 && col("doc_b") >= 400)
      .select(col("doc_b").as("new_doc"), col("doc_a").as("index_doc"), jaccard.as("jaccard"))
      .orderBy("new_doc", "index_doc")

  def qEntropy(spark: SparkSession, d: String): DataFrame =
    Tables.documentsSpread(spark, d)
      // guard: Spark's 2-arg sequence(1, 0) flips DESCENDING for an
      // empty document ([1,0] — two bogus positions) where the
      // oracle's range() is empty; filter matches the oracle's
      // empty-result behavior for zero-length text
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("n_chars"),
        explode(expr("sequence(1, length(text))")).as("i"), col("text"))
      .select(col("doc_id"), col("n_chars"), expr("substring(text, i, 1)").as("ch"))
      .groupBy("doc_id", "n_chars", "ch")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_chars")
      .agg(count(lit(1)).as("n_distinct_chars"), // rows are one per (doc, ch) already
        (-sum(((col("c") / col("n_chars")) * log(col("c") / col("n_chars")))
          .cast("decimal(18,12)")).cast("double")).as("entropy"))
      .orderBy("doc_id")

  /** Per-document readability: word / sentence-run / vowel-group
    * counts and a milli-scaled Flesch-style score computed entirely in
    * BIGINT floor division — the quality gate CCNet-style pipelines
    * run next to stopword ratios ("too hard to read" ≈ "not prose").
    * The syllable proxy is the standard vowel-group count; sentence
    * terminators count as RUNS ('...' is one boundary). Shuffle-free
    * codegen'd projections over one scan; the regex subset (\S, class
    * literals, +) is Java∩RE2, the qRedact portability rule.
    *
    * score_milli = 206835 − (1015·W) div S − (84600·Y) div W, i.e. the
    * Flesch reading-ease formula with every ratio floored — defined as
    * the same integer expression on both engines, so no float-rounding
    * boundary exists anywhere in the checked surface. */
  def qReadability(spark: SparkSession, d: String): DataFrame =
    Tables.documentsSpread(spark, d)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("n_words"),
        greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"), lit(1L))
          .as("n_sentences"),
        size(expr("regexp_extract_all(text, '[aeiouAEIOU]+', 0)")).cast("long")
          .as("n_syllables"))
      .filter(col("n_words") >= 1)
      .withColumn("flesch_milli",
        expr("206835 - (1015 * n_words) div n_sentences - (84600 * n_syllables) div n_words"))
      .orderBy("doc_id")

  /** Per-document bigram-LM surprisal with add-one smoothing — the
    * second-order upgrade of [[qPerplexityProxy]]'s unigram gate:
    * text whose word PAIRS are corpus-typical scores low, so shuffled
    * or boilerplate-stitched documents stand out even when their
    * unigram profile is normal.
    *
    * Shape at scale: the bigram stream is built MAP-SIDE from the
    * token array (transform over positions — no window, no shuffle to
    * form pairs), persisted, and read three ways: bigram counts,
    * context counts, and the per-doc scoring join. The context table
    * and the 1-row vocabulary size broadcast; only the bigram-count
    * join shuffles, keyed on the pair. Per-term doubles are
    * bit-identical on both engines (one division, one ln); the sum
    * routes through DECIMAL(18,12) — the qEntropy order-independence
    * discipline. */
  def qBigramLm(spark: SparkSession, d: String): DataFrame = {
    // r13 (VERDICT item 6): the instance stream is cached and never
    // shuffled (the pair/context/vocab statistics collapse map-side to
    // broadcastable frames and come BACK as broadcast joins, so only
    // per-doc partials cross a wire) — unchanged from r12. What
    // changed: the context counts and the vocabulary now derive from
    // the PAIR table instead of re-scanning the cached instance stream
    // (n_ctx(w1) = Σ_w2 n_big(w1,w2); the token set of the stream IS
    // the token set of the pair table), cutting the cache's consumers
    // 4 → 2 and dropping two full-stream aggregates + a full-stream
    // distinct. Two alternatives were measured and REJECTED (isolated
    // bench, same session, baseline 1.93 s): aggregate-first collapse
    // to (doc, w1, w2, c) — forces a full instance-stream exchange the
    // broadcast form never pays (12.5 MB vs 0.2 MB shuffled; 2.78 s) —
    // and documentsSpread under the cache (3.58 s; the pre-explode
    // exchange of full text costs more than the serial explode saves
    // at this volume).
    val bi = docTokens(spark, d)
      .filter(size(col("t")) >= 2) // 2-arg sequence flips descending on size-1 docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(2, size(t)), i -> struct(t[i-2] AS w1, t[i-1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .persist() // consumers: bigram counts, scoring join
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_big"))
    val ctx = big.groupBy("w1").agg(sum("n_big").as("n_ctx"))
    val vocab = big.select(col("w1").as("tok")).union(big.select(col("w2").as("tok")))
      .distinct().agg(count(lit(1)).as("v_size"))
    bi.join(big, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("term", expr(
        "-ln(CAST(n_big + 1 AS DOUBLE) / CAST(n_ctx + v_size AS DOUBLE))"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("term").cast("decimal(18,12)")).cast("double") / count(lit(1)), 4)
          .as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** Content-defined chunking (CDC) dedup audit — the shift-resistant
    * alternative to fixed-size chunking (Packing.qChunkOverlap): a
    * chunk boundary falls AFTER any token whose md5 ends in a marked
    * nibble (2/16 → ~8-token expected chunks), so inserting a sentence
    * at the head of a document moves every fixed-size chunk boundary
    * but leaves CDC boundaries downstream of the edit untouched —
    * near-identical documents still share most chunk hashes. Per doc:
    * chunk count and the token mass sitting in chunks shared with ≥2
    * documents (the dedup-removable mass at chunk granularity). The
    * FastCDC/gear formulation hashes a sliding byte window; the
    * declared form hashes the single token (the degenerate gear with
    * window 1) so the DuckDB oracle needs only md5 parity.
    *
    * Scale shape: the boundary flag and chunk id are one per-doc
    * window over the token stream (partitioned by doc_id — millions of
    * partitions, the scalable orientation); chunk rows collapse to
    * (doc, chunk) aggregates map-side; the chunk-hash document
    * frequency is a vocabulary-sized aggregate; the final join is
    * equi on the 32-byte chunk key. Raw text never shuffles twice —
    * chunk hashes (fixed width) do. */
  def qCdcChunks(spark: SparkSession, d: String): DataFrame = {
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = Tables.documentsSpread(spark, d)
      .select(col("doc_id"),
        size(expr(toks)).cast("long").as("n_tokens"),
        posexplode(expr(toks)).as(Seq("pos", "w")))
      .withColumn("flag",
        when(substring(md5(col("w")), 32, 1).isin("0", "8"), 1L).otherwise(0L))
      .withColumn("chunk", coalesce(sum("flag").over(wPrev), lit(0L)))
      .groupBy("doc_id", "n_tokens", "chunk")
      .agg(count(lit(1)).as("c_toks"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ")).as("ckey"))
      .persist() // feeds the chunk-frequency rollup and the per-doc join
    val cdf = chunks.groupBy("ckey").agg(countDistinct("doc_id").as("cdf"))
    chunks.join(cdf, "ckey")
      .groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cdf") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("cdf") >= 2, col("c_toks")).otherwise(0L)).as("dup_tokens"))
      .withColumn("dup_ppm", expr("(dup_tokens * 1000000) div n_tokens"))
      .orderBy("doc_id")
  }

  /** Anchor (prefix) dedup: documents grouped by the md5 of their
    * first 12 tokens — the cheap screen for template/boilerplate
    * openings and mirror copies that exact whole-text dedup misses
    * when tails differ (web data: same article, different footer).
    * Output is the shared-anchor groups with document and source
    * spread; a curation pipeline reviews multi-source anchors (likely
    * syndication) separately from single-source ones (likely
    * templates). One key-only hash aggregate — anchor hashes collapse
    * map-side, raw text never shuffles. */
  def qAnchorDedup(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), expr(toks).as("tk"))
      .filter(size(col("tk")) >= 12)
      .select(col("doc_id"), col("source"),
        md5(array_join(slice(col("tk"), 1, 12), " ")).as("anchor"))
      .groupBy("anchor")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("anchor")

  /** MinHash estimation-error audit: for every verified near-dup pair
    * ([[qMinhashNeardup]]'s exact pair semantics), the 8-slice
    * signature's Jaccard ESTIMATE (matching slices / 8) against the
    * exact Jaccard — the monitor a production dedup run keeps on its
    * sketch so a vocabulary shift that degrades estimate quality (and
    * silently moves LSH recall) trips an alarm instead of shipping a
    * worse dedup. Integer fixed-point (ppm) so the checked surface is
    * hash-exact; est granularity is 125000 ppm (1/8).
    *
    * Scale shape: the pairs come from [[minhashVerified]]; the 8
    * signature columns per side (8 × 4-char strings per doc) join onto
    * the verified pairs only, read from the signature that pipeline
    * persisted. */
  def qMinhashEstErr(spark: SparkSession, d: String): DataFrame = {
    def side(tag: String) = minhashSigFused(spark, d).select(
      col("doc_id").as(s"doc_$tag") +: (0 until 8).map(j => col(s"m$j").as(s"${tag}_m$j")): _*)
    val nMatch = (0 until 8)
      .map(j => when(col(s"a_m$j") === col(s"b_m$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    minhashVerified(spark, d, lit(true))
      .join(side("a"), "doc_a").join(side("b"), "doc_b")
      .withColumn("n_common", col("n_common").cast("long"))
      .withColumn("jacc_ppm", expr("(n_common * 1000000) div (sz_a + sz_b - n_common)"))
      .withColumn("est_ppm", nMatch * 125000L)
      .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"), col("jacc_ppm"),
        col("est_ppm"), (col("est_ppm") - col("jacc_ppm")).as("err_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** Quality-threshold calibration sweep: the filter-tuning companion
    * to [[qQualityScore]] — per 0.1 score band, documents and token
    * mass, plus cumulative docs/tokens retained at-or-above the band
    * (what a quality cutoff at that band would keep). The C4/Gopher
    * pipelines publish exactly this table when justifying a filter
    * threshold: the knee of the tokens-retained curve is the cutoff.
    * Composes the declared scorer; one |docs|-row projection collapses
    * to ≤11 band rows map-side, then a window over those rows. Band
    * edges floor the already-rounded score — same IEEE double op both
    * engines. */
  def qQualitySweep(spark: SparkSession, d: String): DataFrame = {
    val banded = qQualityScore(spark, d)
      .withColumn("band_x10", expr("CAST(floor(quality_score * 10) AS BIGINT)"))
      .groupBy("band_x10")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("sum_tokens"))
    val wCum = Window.orderBy(col("band_x10").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    banded
      .withColumn("docs_at_least", sum("n_docs").over(wCum))
      .withColumn("tokens_at_least", sum("sum_tokens").over(wCum))
      .select("band_x10", "n_docs", "sum_tokens", "docs_at_least", "tokens_at_least")
      .orderBy("band_x10")
  }

  /** Tokenizer-efficiency profile per language: whitespace words,
    * BPE-ish subword tokens (qTokenCount's regex), characters, and the
    * two ratios a tokenizer owner watches per subcorpus — chars per
    * subword token (compression) and subword tokens per word
    * (fertility, the multilingual-tokenizer health metric: a language
    * whose fertility drifts up is being shattered into bytes and will
    * train poorly). Integer ppm end-to-end; one map-side-combining
    * aggregate over a codegen'd projection. */
  def qTokEfficiency(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("lang"), col("n_chars"),
        expr(s"size($toks)").cast("long").as("n_words"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
          .cast("long").as("n_bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"),
        sum("n_words").as("sum_words"),
        sum("n_bpe").as("sum_bpe"))
      .withColumn("chars_per_tok_ppm", expr("(sum_chars * 1000000) div sum_bpe"))
      .withColumn("fertility_ppm", expr("(sum_bpe * 1000000) div sum_words"))
      .orderBy("lang")

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the
    * MOSS algorithm): per document, the minimum shingle hash of every
    * 4-window over the 5-token shingle stream, deduplicated — the
    * guarantee is that any shared substring of ≥ 8 tokens yields at
    * least one shared FINGERPRINT, at ~1/4 the storage of the full
    * shingle set. Per doc: fingerprint count, fingerprints shared
    * with ≥2 docs, shared fraction (ppm), and the ≥-half-shared
    * suspect flag. On this corpus the suspect set reproduces the LSH
    * near-dup cluster population — the cross-check a dedup pipeline
    * runs between its two independent detectors.
    *
    * Scale shape: the window minimum is a per-doc rows-window over
    * the hash stream (partitioned by doc — the scalable orientation;
    * codegen'd min, no HOF lambdas per the qSimhash lesson);
    * fingerprint frequency is a vocabulary-sized aggregate; only
    * 32-byte hashes shuffle. */
  def qWinnowing(spark: SparkSession, d: String): DataFrame = {
    val wFwd = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    val fp = Tables.documentsSpread(spark, d)
      .select(col("doc_id"), posexplode(expr("word_shingles(text, 5)")).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"), md5(col("sh")).as("h"))
      .withColumn("k", count(lit(1)).over(wFwd))
      .withColumn("sel", min("h").over(wFwd))
      .filter(col("k") === 4) // full 4-windows only
      .select("doc_id", "sel").distinct()
      .persist() // fingerprint-frequency rollup + per-doc join
    val cdf = fp.groupBy("sel").agg(countDistinct("doc_id").as("df"))
    val nsh = Tables.documents(spark, d)
      .select(col("doc_id"), (size(expr(toks)) - 4).cast("long").as("n_shingles"))
      .filter(col("n_shingles") >= 4)
    fp.join(cdf, "sel")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fingerprints"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .join(nsh, "doc_id")
      .withColumn("shared_ppm", expr("(n_shared * 1000000) div n_fingerprints"))
      .withColumn("is_suspect", col("n_shared") * 2 >= col("n_fingerprints"))
      .select("doc_id", "n_shingles", "n_fingerprints", "n_shared",
        "shared_ppm", "is_suspect")
      .orderBy("doc_id")
  }

  /** Term burstiness (Church & Gale 1995): collection frequency over
    * document frequency — a term that occurs many times in few
    * documents is topical/bursty; one that spreads thin is function-
    * word-like. Quality pipelines use the bursty tail to spot
    * template spam (one doc repeating a token hundreds of times
    * inflates cf but not df). Top-20 by cf·1e6 div df among terms
    * with df ≥ 5, ties on the term string. Two hash aggregates over
    * one exploded scan (df from cf's distinct doc-term pairs — never
    * a second corpus pass). */
  def qBurstiness(spark: SparkSession, d: String): DataFrame = {
    val tf = Tables.documentsSpread(spark, d)
      .select(col("doc_id"), explode(expr(toks)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(sum("tf").cast("long").as("cf"), count(lit(1)).as("df"))
      .filter(col("df") >= 5)
      .withColumn("burst_ppm", expr("(cf * 1000000) div df"))
      .orderBy(col("burst_ppm").desc, col("term"))
      .limit(20)
  }

  /** Vocabulary growth curve (Heaps' law): distinct types and token
    * mass in the corpus prefix at each doc-id decile — the curve a
    * corpus report plots to show whether vocabulary is saturating
    * (natural text: types ∝ tokens^β, β≈0.5) or growing linearly
    * (noise/IDs: every doc brings fresh garbage tokens). Thresholds
    * are integer fractions of max(doc_id)+1, so the curve is
    * deterministic under any doc-id layout; each type enters at its
    * MIN doc_id (one vocabulary-sized aggregate), and each decile row
    * counts first-appearances below its threshold — no running
    * distinct-count window anywhere. */
  def qVocabGrowth(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), expr(s"size($toks)").cast("long").as("n_tokens"))
      .persist() // max-id total + per-decile prefix masses
    val firstSeen = Tables.documentsSpread(spark, d)
      .select(col("doc_id"), explode(expr(toks)).as("term"))
      .groupBy("term").agg(min("doc_id").as("first_id"))
      .persist() // 10 decile probes read it
    val maxId = docs.agg((max("doc_id") + 1L).as("n_ids"))
    val deciles = broadcast(maxId.select(
      explode(expr("sequence(1, 10)")).as("decile"), col("n_ids"))
      .withColumn("threshold", expr("(n_ids * decile) div 10")))
    val types = firstSeen.join(deciles, col("first_id") < col("threshold"))
      .groupBy("decile", "threshold").agg(count(lit(1)).as("n_types"))
    val mass = docs.join(deciles, col("doc_id") < col("threshold"))
      .groupBy("decile", "threshold")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    types.join(mass, Seq("decile", "threshold"))
      .select(col("decile").cast("long").as("decile"), col("threshold"),
        col("n_docs"), col("n_tokens"), col("n_types"))
      .orderBy("decile")
  }

  /** Dedup-key width sizing: at each candidate prefix width of the
    * md5 content hash, how many distinct keys the corpus' distinct
    * texts collapse to and how many texts would be FALSELY merged —
    * the table that decides how many bytes of fingerprint a 100 TB
    * exact-dedup run must carry (truncated keys halve shuffle bytes
    * but every collision silently deletes a unique document; the
    * first width with zero collisions, plus safety margin, is the
    * production choice). One distinct-text aggregate, then a 6-row
    * width expansion that collapses map-side. */
  def qKeyWidth(spark: SparkSession, d: String): DataFrame = {
    val hashes = Tables.documents(spark, d)
      .select(md5(col("text")).as("h")).distinct()
    val widths = Seq(4, 6, 8, 12, 16, 32)
    hashes
      .select(explode(array(widths.map(lit): _*)).as("w"), col("h"))
      .select(col("w").cast("long").as("width"), expr("substring(h, 1, w)").as("k"))
      .groupBy("width")
      .agg(countDistinct("k").as("n_keys"), count(lit(1)).as("n_texts"))
      .withColumn("n_collisions", col("n_texts") - col("n_keys"))
      .select("width", "n_keys", "n_texts", "n_collisions")
      .orderBy("width")
  }

  /** Cross-detector agreement: the MinHash-LSH verified pair set
    * against the SimHash hamming≤1 pair set — the governance table a
    * dedup owner keeps when running two independent detectors (the
    * two families fail differently: MinHash misses small-set overlap
    * shifts, SimHash misses long-doc dilution; a falling overlap ppm
    * means one detector drifted). LSH side reads the landed pair
    * artifact (the run's own output — the audit posture); SimHash
    * side is the declared pipeline. Three 1-row aggregates broadcast-
    * crossed; pair frames never leave their joins. */
  def qDetectorAgreement(spark: SparkSession, d: String): DataFrame = {
    val lsh = neardupPairs(spark, d).select("doc_a", "doc_b")
    val sim = qSimhashNeardup(spark, d).select("doc_a", "doc_b")
    val nA = lsh.agg(count(lit(1)).as("n_lsh_pairs"))
    val nB = sim.agg(count(lit(1)).as("n_simhash_pairs"))
    val nC = lsh.join(sim, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_common_pairs"))
    // 1-row totals broadcast (PlanQualitySpec-allowlisted)
    nA.crossJoin(broadcast(nB)).crossJoin(broadcast(nC))
      .withColumn("n_union_pairs",
        col("n_lsh_pairs") + col("n_simhash_pairs") - col("n_common_pairs"))
      // greatest(den, 1): when NEITHER detector finds a pair the union
      // is 0 — the guard emits a defined 0 ppm on a degenerate corpus
      // instead of null/ANSI-throw (oracle guards identically).
      .withColumn("overlap_ppm",
        expr("(n_common_pairs * 1000000) div greatest(n_union_pairs, 1)"))
  }

  /** CDC dedup savings by source: [[qCdcChunks]]' per-document
    * dup-chunk token mass rolled up to the acquisition source — the
    * number that tells a crawl operator WHICH feed is paying for
    * storage twice (chunk-level savings survive small edits, so this
    * catches re-crawled/mirrored feeds exact dedup misses). Composes
    * the declared chunker; one |docs|-row join on doc_id plus a
    * |sources|-row aggregate. */
  def qCdcSavings(spark: SparkSession, d: String): DataFrame =
    qCdcChunks(spark, d)
      .join(Tables.documents(spark, d).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum("dup_tokens").as("dup_tokens"))
      .withColumn("savings_ppm", expr("(dup_tokens * 1000000) div sum_tokens"))
      .orderBy("source")

  /** k-anonymity small-cell audit over the quasi-identifier triple
    * (lang, source, length bucket): cells holding fewer than k=5
    * documents are re-identification risks when the corpus ships with
    * per-document metadata — the release-gate table a privacy review
    * reads before publishing a dataset (the complement of qRedact,
    * which scrubs content; this flags METADATA that singles documents
    * out). Every observed cell ships with its count and suppress
    * flag so the reviewer sees the suppression mass, not only the
    * offenders. One map-side-combining aggregate; the length bucket
    * is an integer CASE ladder on the stored n_chars — no floating
    * point anywhere. */
  def qSmallCells(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("lang"), col("source"),
        expr("""CASE WHEN n_chars <= 128 THEN 128 WHEN n_chars <= 256 THEN 256
                |WHEN n_chars <= 512 THEN 512 WHEN n_chars <= 1024 THEN 1024
                |ELSE 2048 END""".stripMargin).cast("long").as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("suppress", col("n_docs") < 5)
      .orderBy("lang", "source", "len_bucket")

  /** Zipf slope per source: OLS fit of ln(freq) on ln(rank) over each
    * source's top-100 terms — natural text sits near −1; a flatter
    * slope flags boilerplate/template feeds (few heads repeated), a
    * steeper one flags ID/noise vocabularies. The fit is DEFINED on
    * milli-floored logs (x_m = ⌊1000·ln(rank)⌋) so every arithmetic
    * step after the single ln() call is 64-bit integer — no float
    * summation order, no final-division ulp — and the engine/oracle
    * surfaces are bit-identical by construction. slope_neg_milli is
    * the NEGATED slope ×1000 (positive), keeping the integer division
    * on positive operands where truncation and floor agree across
    * engines. Ranks tie-break on the term string. One exploded scan →
    * vocabulary-sized aggregate → |sources|×100 window rows. */
  def qZipfSlope(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("cf").desc, col("term"))
    Tables.documentsSpread(spark, d)
      .select(col("source"), explode(expr(toks)).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 100)
      .select(col("source"),
        expr("CAST(floor(ln(rank) * 1000) AS BIGINT)").as("x_m"),
        expr("CAST(floor(ln(cf) * 1000) AS BIGINT)").as("y_m"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum("x_m").as("sx"), sum("y_m").as("sy"),
        sum(col("x_m") * col("y_m")).as("sxy"),
        sum(col("x_m") * col("x_m")).as("sxx"))
      // greatest(den, 1): a source with ONE distinct term has sx=sxx=0
      // (ln 1 = 0) so the OLS denominator is exactly 0 — the guard makes
      // the degenerate fit a defined 0 instead of null/ANSI-throw, in
      // lockstep with the oracle's identical greatest().
      .withColumn("slope_neg_milli",
        expr("(1000 * (sx * sy - n_terms * sxy)) div greatest(n_terms * sxx - sx * sx, 1)"))
      .select("source", "n_terms", "sx", "sy", "slope_neg_milli")
      .orderBy("source")
  }

  /** KL divergence of each source's unigram distribution from the
    * corpus distribution, restricted to the corpus top-100 vocabulary
    * with add-1 smoothing on the source side — the mixture-drift
    * monitor a curation pipeline runs per ingest batch (a source whose
    * KL jumps changed register/domain; smoothing keeps sources that
    * miss head terms finite). With U = |universe| (≤100 — the corpus
    * vocabulary can be smaller at tiny SFs): p(t) = (c+1)/(ns+U),
    * q(t) = cc/Σcc; KL = Σ p·ln(p/q) ≥ 0 because both renormalize
    * over the same universe. Per-term values are doubles computed from
    * exact integers (both engines see identical operands), pinned to
    * DECIMAL(18,12) before the exact order-independent sum — the
    * qEntropy parity recipe. Scale shape: one exploded scan, a
    * vocabulary-sized aggregate, then a |sources|×100 broadcast grid
    * so zero counts surface — pair frames never exceed 100·|sources|
    * rows. */
  def qKlDrift(spark: SparkSession, d: String): DataFrame = {
    val stc = Tables.documentsSpread(spark, d)
      .select(col("source"), explode(expr(toks)).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .persist() // corpus top-100 rollup + per-source grid join
    val top = stc.groupBy("term").agg(sum("c").cast("long").as("cc"))
      .orderBy(col("cc").desc, col("term")).limit(100)
      .persist() // grid expansion + 1-row total
    val qTotal = top.agg(sum("cc").cast("long").as("q_total"),
      count(lit(1)).as("n_univ"))
    val grid = stc.select("source").distinct()
      .crossJoin(broadcast(top)) // |sources| × 100 enumeration (PlanQualitySpec-allowlisted)
    val joined = grid.join(stc, Seq("source", "term"), "left")
      .select(col("source"), col("term"), col("cc"),
        coalesce(col("c"), lit(0L)).as("c"))
    val ns = joined.groupBy("source").agg(sum("c").cast("long").as("ns"))
    joined.join(ns, "source")
      .crossJoin(broadcast(qTotal)) // 1-row corpus mass (allowlisted)
      .withColumn("term_kl",
        expr("""(CAST(c + 1 AS DOUBLE) / (ns + n_univ))
               | * ln(CAST((c + 1) * q_total AS DOUBLE) / ((ns + n_univ) * cc))""".stripMargin))
      .groupBy("source")
      .agg(max("ns").as("n_src_tokens"),
        sum(col("term_kl").cast("decimal(18,12)")).cast("double").as("kl_nats"))
      .orderBy("source")
  }

  /** All-pairs vocabulary Jaccard between sources — the corpus
    * similarity matrix that catches mirrored/syndicated FEEDS (doc
    * dedup catches copied documents; two feeds can share 90% of
    * their vocabulary while sharing no exact document). Inverted-
    * index shape: each term emits its sorted ≤|sources| source list
    * once, pair expansion is a map-side double-explode of that
    * constant-bounded array — never a sources×sources×vocab join;
    * union sizes derive from broadcast per-source vocabulary counts.
    * |sources|²/2 output rows, exact integers + ppm. */
  def qSourceJaccard(spark: SparkSession, d: String): DataFrame = {
    val stc = Tables.documentsSpread(spark, d)
      .select(col("source"), explode(expr(toks)).as("term"))
      .distinct()
      .persist() // per-source vocab counts + inverted index share it
    val vocab = stc.groupBy("source").agg(count(lit(1)).as("n_terms"))
    val common = stc.groupBy("term")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(explode(col("srcs")).as("source_a"), col("srcs"))
      .select(col("source_a"), explode(col("srcs")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(vocab.select(col("source").as("source_a"), col("n_terms").as("na"))),
        "source_a")
      .join(broadcast(vocab.select(col("source").as("source_b"), col("n_terms").as("nb"))),
        "source_b")
      .withColumn("n_union", col("na") + col("nb") - col("n_common"))
      .withColumn("jaccard_ppm", expr("(n_common * 1000000) div n_union"))
      .select("source_a", "source_b", "n_common", "n_union", "jaccard_ppm")
      .orderBy("source_a", "source_b")
  }

  /** LSH parameter planner: for every (bands b, rows r) factoring of a
    * 128-hash MinHash signature and a grid of Jaccard levels, the
    * candidate probability 1−(1−s^r)^b and the S-curve threshold
    * (1/b)^(1/r) — the table a dedup owner reads to pick band
    * geometry BEFORE burning a 100 TB pass (q_minhash_neardup's
    * 16×8 choice sits at s*≈0.707 on this exact curve). A 40-row
    * config enumeration computed per-row from literals — no corpus
    * scan, no shuffle, the same dim-literal pattern as q_cross_dims.
    * Both outputs are floor-pinned (ppm / milli) because chained
    * pow() differs across libm implementations at the last ulp (seen
    * live engine-vs-DuckDB at (8,16,90)); every pinned value sits
    * ≥4e-13 in p from a flip boundary while cross-libm noise is
    * ≤1e-29 — the checked surface is all-integer. */
  def qLshPlanner(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(1, 2, 4, 8, 16, 32, 64, 128)
    val jaccard = Seq(50, 60, 70, 80, 90)
    bands.flatMap(b => jaccard.map(s => (b.toLong, (128 / b).toLong, s.toLong)))
      .toDF("n_bands", "rows_per_band", "s_pct")
      .withColumn("p_candidate_ppm",
        expr("""CAST(floor((1.0 - pow(1.0 - pow(s_pct / 100.0, rows_per_band), n_bands))
               | * 1000000) AS BIGINT)""".stripMargin))
      .withColumn("s_star_milli",
        expr("CAST(floor(pow(1.0 / n_bands, 1.0 / rows_per_band) * 1000) AS BIGINT)"))
      .orderBy("n_bands", "s_pct")
  }

  /** Two-sample Kolmogorov–Smirnov distance between every pair of
    * sources on the document-length distribution — the CDF-shaped
    * drift detector that complements [[qKlDrift]] (token-histogram
    * KL) and q_psi_drift (fixed-bin PSI): KS needs no binning and no
    * smoothing, and is the standard "did this source's length profile
    * shift" gate before mixing a new crawl into the corpus.
    * D = max over x of |F1(x) − F2(x)|, reported in exact ppm via the
    * integer cross-multiply |cum1·N2 − cum2·N1|·10⁶ div (N1·N2) — no
    * floating CDF, so the checked surface is integer-exact at any SF
    * (cum ≤ N ≤ corpus size: the product tops out at N²·10⁶ ≈ 1e22
    * ppm-scaled only AFTER the div; both operands stay < 2⁶³ for
    * N ≤ 3e6 per source — documented ceiling, 60× the 10× probe).
    *
    * Plan shape for 100 TB: lengths collapse to a (source × distinct
    * length) grid FIRST — value-domain-bounded, not corpus-sized —
    * then one window cumsum per source over its own grid rows, a
    * broadcast of per-source totals, and a grid self-join on length
    * for the pairwise compare (sources² × |grid|, both dims bounded).
    * The corpus is scanned exactly once. */
  def qKsTest(spark: SparkSession, d: String): DataFrame = {
    // persisted: 4 consumers (grid, sources, totals, filled) would each
    // rescan the corpus otherwise; counts is (sources × distinct
    // lengths)-bounded, so the cache is value-domain-sized, never
    // corpus-sized (callers own clearCache — SURVEY §7 cache contract)
    val counts = Tables.documents(spark, d)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .persist()
    // every source must have a CDF value at every pooled grid point:
    // dim×grid enumeration (value-domain-bounded), zero-filled
    val grid = counts.select("n_chars").distinct()
    val sources = counts.select("source").distinct()
    val filled = sources.crossJoin(grid) // dim×grid enumeration (allowlisted)
      .join(counts, Seq("source", "n_chars"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum("c").over(
        Window.partitionBy("source").orderBy("n_chars")))
    val totals = counts.groupBy("source").agg(sum("c").as("n_total"))
    val cdf = filled.join(broadcast(totals), "source")
    cdf.as("x").join(cdf.as("y"),
        col("x.n_chars") === col("y.n_chars") && col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.n_chars").as("n_chars"),
        abs(col("x.cum") * col("y.n_total") - col("y.cum") * col("x.n_total")).as("dnum"),
        (col("x.n_total") * col("y.n_total")).as("dden"))
      .groupBy("source_a", "source_b")
      .agg(max("dnum").as("dnum"), max("dden").as("dden"))
      .withColumn("ks_ppm", expr("(dnum * 1000000) div dden"))
      .select("source_a", "source_b", "ks_ppm")
      .orderBy("source_a", "source_b")
  }

  /** Shard-merged sufficient statistics: the corpus length moments
    * (n, Σx, Σx²) computed per content-hash shard and then MERGED by
    * plain addition, proving the merge reproduces the direct global
    * mean and variance exactly — the algebraic contract every
    * incremental/streaming stats pipeline rests on (a new shard
    * arrives → add its sums, never rescan). Mean and variance are
    * floor-pinned integers from the exact int64 sums:
    * var = (n·Σx² − (Σx)²) div n² (population form).
    *
    * Plan shape for 100 TB: ONE map-side-combining aggregate over
    * (shard) — 8 groups — then an 8-row rollup; the corpus is scanned
    * once and nothing but 8 triples ever shuffles. Magnitude ceiling:
    * n·Σx² < 2⁶³ holds to ~2e9 docs at n_chars ≤ 4e3 (documented;
    * beyond that the sums stage to DECIMAL(38,0) unchanged in shape). */
  def qMergeStats(spark: SparkSession, d: String): DataFrame = {
    val perShard = Tables.documents(spark, d)
      // content-stable shard: code point of the md5's first hex char
      // mod 8 — same expression both engines, no base conversion
      .withColumn("shard",
        expr("ascii(substr(md5(concat('stats:', doc_id)), 1, 1)) % 8"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n"),
        sum("n_chars").cast("long").as("sx"),
        sum(col("n_chars") * col("n_chars")).cast("long").as("sxx"))
      // persisted: the 8-row aggregate feeds both the shard rows and
      // the merged rollup — one corpus scan, not two
      .persist()
    val shardRows = perShard
      .select(concat(lit("shard_"), col("shard")).as("scope"),
        col("n"), col("sx"), col("sxx"))
    val merged = perShard
      .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sxx").as("sxx"))
      .select(lit("merged").as("scope"), col("n"), col("sx"), col("sxx"))
    shardRows.unionByName(merged)
      .withColumn("mean_int", expr("sx div n"))
      .withColumn("var_int", expr("(n * sxx - sx * sx) div (n * n)"))
      .orderBy("scope")
  }

  /** Mann–Whitney U (rank-sum) test between every source pair on the
    * document-length distribution — the LOCATION-shift drift gate
    * beside [[qKsTest]]'s shape gate: U/(n_a·n_b) is the probability a
    * random doc from a is longer than one from b (the AUC / common-
    * language effect size), robust to outliers where a mean compare is
    * not. Exact integers throughout via DOUBLED ranks (ties average to
    * halves, so 2·rank is integral): per pooled value v,
    * 2R_a += c_a(v)·(2·below(v) + c_a(v) + c_b(v) + 1), then
    * u2 = 2R_a − n_a(n_a+1) and auc_ppm = u2·10⁶ div (2·n_a·n_b).
    * Magnitude ceiling: 2R_a ≤ 2·n_a·(n_a+n_b) — int64-safe past 10⁹
    * docs/source; the ppm numerator u2·10⁶ caps at 2·n_a·n_b·10⁶,
    * int64-safe to ~2e6 docs/source (documented, 10× the K=10 probe).
    *
    * Plan shape for 100 TB: identical to [[qKsTest]] — the corpus
    * collapses to a (source × distinct-length) grid FIRST, one window
    * cumsum per source over its own grid rows, then a grid self-join
    * bounded by sources² × |grid|. One corpus scan. */
  def qMannWhitney(spark: SparkSession, d: String): DataFrame = {
    // persisted for the same 4-consumer reason as qKsTest: one corpus
    // scan builds the value-domain-bounded counts table
    val counts = Tables.documents(spark, d)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .persist()
    val grid = counts.select("n_chars").distinct()
    val sources = counts.select("source").distinct()
    val filled = sources.crossJoin(grid) // dim×grid enumeration (allowlisted)
      .join(counts, Seq("source", "n_chars"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum("c").over(
        Window.partitionBy("source").orderBy("n_chars")))
    val totals = counts.groupBy("source").agg(sum("c").as("n_total"))
    val cdf = filled.join(broadcast(totals), "source")
    cdf.as("x").join(cdf.as("y"),
        col("x.n_chars") === col("y.n_chars") && col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.n_total").as("na"), col("y.n_total").as("nb"),
        // pooled count strictly below v + the tie-averaged doubled rank
        (col("x.c") * (lit(2L) * (col("x.cum") - col("x.c") + col("y.cum") - col("y.c"))
          + col("x.c") + col("y.c") + 1L)).as("r2part"))
      .groupBy("source_a", "source_b")
      .agg(sum("r2part").as("r2a"), max("na").as("na"), max("nb").as("nb"))
      .withColumn("u2", expr("r2a - na * (na + 1)"))
      .withColumn("auc_ppm", expr("(u2 * 1000000) div (2 * na * nb)"))
      .select("source_a", "source_b", "u2", "auc_ppm")
      .orderBy("source_a", "source_b")
  }

  /** Poisson-bootstrap confidence band for the per-source mean doc
    * length — THE bootstrap that scales: classic resampling needs n
    * draws per replicate coordinated across the cluster, but for large
    * n the multinomial resample converges to independent Poisson(1)
    * counts per row, so every row computes its own 32 replicate
    * weights from a content hash and the whole bootstrap is ONE
    * map-side-combined aggregate (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google 2012). Weights are
    * deterministic: u = first 8 md5 hex chars of ("boot:" r ":" doc_id)
    * as a 32-bit integer, w = #{thresholds ≤ u} against the Poisson(1)
    * CDF scaled to 2³² — identical integers on any engine, so the
    * oracle reproduces the "randomness" exactly. Two deliberate
    * approximations, both deterministic and oracle-mirrored: the
    * Poisson(1) weight is TRUNCATED at w = 6 (the ≈1e-4 tail mass
    * above 6 folds into w = 6), and the reported order statistics are
    * the 2nd/16th/31st of the 32 ordered replicate means — boot_med
    * is the LOWER-middle order statistic (≈ p48), not an interpolated
    * median, and boot_lo/boot_hi are ≈ p5/p95. Floor-pinned integers
    * throughout.
    *
    * Plan shape for 100 TB: the ×32 fan-out happens INSIDE the scan
    * projection (explode of a literal range); everything downstream is
    * a (source × 32)-cell map-side-combining aggregate — no shuffle of
    * row-level data, one corpus scan, replicate count is a constant. */
  def qBootstrapCi(spark: SparkSession, d: String): DataFrame = {
    // Poisson(1) CDF at k=0..5, scaled to 2^32 (w=6 beyond: P < 1e-4)
    val ts = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L)
    val reps = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        explode(sequence(lit(0), lit(31))).as("r"))
      .withColumn("u", conv(substring(
        md5(concat(lit("boot:"), col("r"), lit(":"), col("doc_id"))), 1, 8),
        16, 10).cast("long"))
      .withColumn("w",
        ts.map(t => when(col("u") >= t, 1L).otherwise(0L)).reduce(_ + _))
      .groupBy("source", "r")
      .agg(sum("w").as("sw"), sum(col("w") * col("n_chars")).as("swx"))
      .withColumn("mean_r", expr("swx div greatest(sw, 1)"))
    reps
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("mean_r", "r")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_reps"),
        max(when(col("rn") === 2, col("mean_r"))).as("boot_lo"),
        max(when(col("rn") === 16, col("mean_r"))).as("boot_med"),
        max(when(col("rn") === 31, col("mean_r"))).as("boot_hi"))
      .orderBy("source")
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions over the corpus top-100 vocabulary — the SYMMETRIC,
    * BOUNDED (≤ ln 2) member that completes the drift family: KL
    * ([[qKlDrift]]) is asymmetric and unbounded, PSI needs fixed bins,
    * KS/Mann–Whitney see only the length axis, χ² only categories.
    * JS(a,b) = ½Σp·ln(p/m) + ½Σq·ln(q/m) with m=(p+q)/2, add-1
    * smoothing over the shared 100-term universe — qKlDrift's exact
    * smoothing recipe, so the two scores are comparable. Per-term
    * doubles are IEEE-identical on both engines over exact integer
    * inputs; the SUM is order-pinned by casting each term to
    * DECIMAL(18,12) before summing (decimal addition is exact and
    * commutative — float summation order is the cross-engine trap).
    * Residual libm assumption, stated: exactness of the per-term
    * double rests on JVM Math.log and DuckDB's std::log agreeing to
    * the last ulp on these inputs (they do here — both are
    * correctly-rounded-or-adjacent on this platform); the
    * DECIMAL(18,12) cast absorbs a last-ulp disagreement except in
    * the measure-zero case where a term lands within ~1e-17 of a
    * 1e-12 rounding boundary. If a cross-platform oracle run ever
    * reds here, widen the pin by rounding each term at 1e-9 before
    * the decimal cast.
    *
    * Plan shape for 100 TB: the corpus collapses to (source, term)
    * counts once (persisted, value-domain-bounded); the top-100 pick,
    * grid zero-fill, and sources²×100 pair join are all vocabulary-
    * sized. One corpus scan. */
  def qJsDivergence(spark: SparkSession, d: String): DataFrame = {
    val stc = Tables.documentsSpread(spark, d)
      .select(col("source"), explode(expr(toks)).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .persist() // top-100 rollup + grid join share it (callers clearCache)
    val top = stc.groupBy("term").agg(sum("c").cast("long").as("cc"))
      .orderBy(col("cc").desc, col("term")).limit(100)
    val grid = stc.select("source").distinct()
      .crossJoin(broadcast(top.select("term"))) // |sources|×100 enumeration (allowlisted)
    val filled = grid.join(stc, Seq("source", "term"), "left")
      .select(col("source"), col("term"), coalesce(col("c"), lit(0L)).as("c"))
    val ns = filled.groupBy("source")
      .agg(sum("c").cast("long").as("ns"), count(lit(1)).as("n_univ"))
    val side = filled.join(broadcast(ns), "source")
    val a = side.select(col("source").as("source_a"), col("term"),
      col("c").as("ca"), col("ns").as("na"), col("n_univ").as("ua"))
    val b = side.select(col("source").as("source_b"), col("term"),
      col("c").as("cb"), col("ns").as("nb"), col("n_univ").as("ub"))
    a.join(b, Seq("term")).filter(col("source_a") < col("source_b"))
      .withColumn("term_js", expr(
        """0.5 * (CAST(ca + 1 AS DOUBLE) / (na + ua))
          |  * ln((CAST(ca + 1 AS DOUBLE) / (na + ua))
          |        / ((CAST(ca + 1 AS DOUBLE) / (na + ua)
          |            + CAST(cb + 1 AS DOUBLE) / (nb + ub)) / CAST(2 AS DOUBLE)))
          |+ 0.5 * (CAST(cb + 1 AS DOUBLE) / (nb + ub))
          |  * ln((CAST(cb + 1 AS DOUBLE) / (nb + ub))
          |        / ((CAST(ca + 1 AS DOUBLE) / (na + ua)
          |            + CAST(cb + 1 AS DOUBLE) / (nb + ub)) / CAST(2 AS DOUBLE)))"""
          .stripMargin))
      .groupBy("source_a", "source_b")
      .agg(sum(col("term_js").cast("decimal(18,12)")).cast("double").as("js_nats"))
      .orderBy("source_a", "source_b")
  }

  /** One BPE training round APPLIED: pick the globally most frequent
    * character pair (the [[qBpePairs]] table's head — count desc, pair
    * asc tiebreak) and merge its non-overlapping leftmost occurrences
    * in every vocabulary word, reporting the realized per-source token
    * compression — the constructive half of the tokenizer story
    * (qBpePairs counts candidates; this prices the winning merge).
    * Merges per word = (len − len(replace(word, pair, ''))) / 2, exact
    * because each occurrence removes exactly 2 chars; `replace` is
    * leftmost non-overlapping on both engines (Java String semantics),
    * which IS BPE's within-round application order.
    *
    * Plan shape for 100 TB: the corpus collapses to a per-(source,
    * word) VOCABULARY first — the only corpus-sized pass; the pair
    * table is vocabulary-sized, the winning pair is a 1-row broadcast
    * crossed back over the vocabulary, and the report is |sources|
    * rows. A full BPE training loop is this plan iterated with the
    * vocabulary kept persisted; one round is the oracle-checkable
    * unit. */
  def qBpeMerge(spark: SparkSession, d: String): DataFrame = {
    // persisted: both the pair pick and the merge application read the
    // vocabulary — without the cache each would rescan + re-tokenize
    // the corpus (callers own clearCache — SURVEY §7 cache contract)
    val words = Tables.documents(spark, d)
      .select(col("source"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("source", "word").agg(count(lit(1)).as("n"))
      .persist()
    val top = words.groupBy("word").agg(sum("n").as("wn"))
      .filter(length(col("word")) >= 2)
      .select(col("wn"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("wn").as("pc"))
      .orderBy(col("pc").desc, col("pair")).limit(1)
      .select("pair")
    words.crossJoin(broadcast(top)) // 1-row winning-pair broadcast (allowlisted)
      .withColumn("occ",
        expr("(length(word) - length(replace(word, pair, ''))) div 2"))
      .groupBy("source", "pair")
      .agg(sum(col("n") * length(col("word"))).cast("long").as("tokens_before"),
        sum(col("n") * col("occ")).cast("long").as("merges"))
      .withColumn("tokens_after", expr("tokens_before - merges"))
      .withColumn("saved_ppm",
        expr("(merges * 1000000) div greatest(tokens_before, 1)"))
      .select("source", "pair", "tokens_before", "merges", "tokens_after", "saved_ppm")
      .orderBy("source")
  }

  /** THREE iterated BPE training rounds — [[qBpeMerge]]'s claim
    * ("full BPE training = that plan iterated with the vocabulary kept
    * persisted") made good as a declared, oracle-unrolled query. Words
    * live as single-character symbol strings: round r picks the
    * globally most frequent adjacent symbol pair (count desc, pair asc
    * tiebreak — over 2-char substrings, exact because every symbol is
    * one char) and rewrites it to a fresh marker character ('0','1',
    * '2' — disjoint from the [a-z] alphabet, so rewriting is injective
    * and later rounds can merge marker-containing pairs, exactly BPE's
    * growing symbol alphabet). `replace` is leftmost non-overlapping
    * on both engines — BPE's within-round application order. Reports
    * per (source, round): the merged pair and the before/after token
    * counts.
    *
    * Plan shape for 100 TB: the corpus is scanned ONCE (the round-0
    * vocabulary build); every round is vocabulary-sized — a pair
    * count, a 1-row argmax broadcast back, a rewrite+re-aggregate —
    * with the vocabulary localCheckpointed per round (the lpa3
    * discipline: bounded iterations, no lineage growth, no corpus
    * rescan). A production tokenizer run is this loop at 10k-50k
    * rounds over the SAME vocabulary frame; 3 rounds is the
    * oracle-checkable unit. */
  /** The 3-round training loop factored out so [[qBpeEncode]] applies
    * the SAME tokenizer the trainer picked: returns (vocabulary
    * snapshots rounds 0..3, winning pairs rounds 1..3), every frame
    * localCheckpoint'ed. */
  private def bpeTrained(spark: SparkSession, d: String)
      : (Seq[DataFrame], Seq[DataFrame]) = {
    val markers = Seq("0", "1", "2")
    val snaps = new scala.collection.mutable.ArrayBuffer[DataFrame]
    val picks = new scala.collection.mutable.ArrayBuffer[DataFrame]
    snaps += Tables.documents(spark, d)
      .select(col("source"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("source", "word").agg(count(lit(1)).as("n"))
      .localCheckpoint() // the ONLY corpus-sized pass
    for (r <- 0 until 3) {
      val top = snaps(r).groupBy("word").agg(sum("n").as("wn"))
        .filter(length(col("word")) >= 2)
        .select(col("wn"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("wn").as("pc"))
        .orderBy(col("pc").desc, col("pair")).limit(1)
        .select("pair")
        .localCheckpoint() // 1-row winning pair, materialized per round
      picks += top
      snaps += snaps(r)
        .crossJoin(broadcast(top)) // 1-row pair broadcast (allowlisted)
        .withColumn("word", expr(s"replace(word, pair, '${markers(r)}')"))
        .groupBy("source", "word").agg(sum("n").as("n"))
        .localCheckpoint() // vocabulary-sized; cuts per-round lineage
    }
    (snaps.toSeq, picks.toSeq)
  }

  def qBpeTrain3(spark: SparkSession, d: String): DataFrame = {
    val (snapSeq, pickSeq) = bpeTrained(spark, d)
    val snaps = snapSeq
    val picks = pickSeq
    def toks(w: DataFrame, as: String): DataFrame = w.groupBy("source")
      .agg(sum(col("n") * length(col("word"))).cast("long").as(as))
    (0 until 3).map { r =>
      toks(snaps(r), "tokens_before")
        .join(toks(snaps(r + 1), "tokens_after"), "source")
        .crossJoin(broadcast(picks(r))) // 1-row pair broadcast (allowlisted)
        .select(col("source"), lit(r + 1L).as("round"), col("pair"),
          col("tokens_before"), col("tokens_after"),
          (col("tokens_before") - col("tokens_after")).as("merges"),
          expr("((tokens_before - tokens_after) * 1000000)" +
            " div greatest(tokens_before, 1)").as("saved_ppm"))
    }.reduce(_ union _).orderBy("source", "round")
  }

  /** ENCODE with the trained tokenizer — the apply side [[qBpeTrain3]]
    * was missing: every document's words pass through the SAME three
    * merge rewrites the trainer picked (sequential, so round-2/3 pairs
    * may contain earlier markers — BPE's growing symbol alphabet), and
    * each doc reports its exact token accounting: tokens_before (one
    * token per character, the base symbol alphabet), tokens_after, and
    * the compression in ppm. This is the operator a pipeline runs on
    * INGEST once a tokenizer is frozen (the per-doc token counts that
    * feed packing/budgeting — q_pack_greedy consumes exactly such
    * counts at the whitespace grain).
    *
    * Plan shape for 100 TB: the three 1-row pick frames broadcast as
    * one 1-row cross product; the corpus is scanned ONCE with a
    * per-row codegen'd array pipeline (filter → transform with 3
    * nested replaces → integer fold) — no explode, no shuffle except
    * the final orderBy, output exactly |docs| rows. */
  def qBpeEncode(spark: SparkSession, d: String): DataFrame = {
    val picks = bpeTrained(spark, d)._2
    val pp = picks(0).select(col("pair").as("p1"))
      .crossJoin(picks(1).select(col("pair").as("p2")))
      .crossJoin(picks(2).select(col("pair").as("p3")))
    Tables.documents(spark, d)
      .crossJoin(broadcast(pp)) // 1-row pick triple (allowlisted)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z]+'), w -> w <> '')").as("ws"),
        col("p1"), col("p2"), col("p3"))
      .select(col("doc_id"),
        expr("aggregate(ws, CAST(0 AS BIGINT), (a, w) -> a + length(w))")
          .as("tokens_before"),
        expr("aggregate(transform(ws, w -> replace(replace(replace(" +
          "w, p1, '0'), p2, '1'), p3, '2')), CAST(0 AS BIGINT), " +
          "(a, w) -> a + length(w))").as("tokens_after"))
      .withColumn("saved_ppm", expr(
        "((tokens_before - tokens_after) * 1000000) div greatest(tokens_before, 1)"))
      .orderBy("doc_id")
  }

  /** Corpus-level LINE dedup (the CCNet / RefinedWeb paragraph-hash
    * pass, at segment granularity): every document is cut into
    * consecutive 10-word segments (the corpus has no newlines, so the
    * fixed window is the "line"; the mechanism is byte-identical with
    * `split(text,'\n')` lines), a document-frequency aggregate over
    * the EXACT segment string finds segments shared by ≥ 3 distinct
    * docs, and each document reports how much of it survives the cut
    * — the CCNet signal that kills cookie banners and navigation
    * chrome doc-level MinHash can't see (they sit inside otherwise-
    * unique pages). The reference's dedup is whole-object
    * skip-if-exists (app.py:270-273); this is the intra-object
    * generalization a text corpus needs.
    *
    * Scale shape: two hash aggregates and one equi-join on the
    * segment string — df collapses map-side (bytes shuffled ∝
    * DISTINCT segments, not corpus positions), the join key is the
    * ~60-byte segment itself (no hash detour, no collision risk, and
    * the oracle stays dialect-independent), and the per-doc rollup
    * shuffles fixed-width counters keyed by doc_id. Nothing quadratic
    * anywhere; at 100 TB the df table is the working set and it
    * shards cleanly by segment. */
  def qLineDedup(spark: SparkSession, d: String): DataFrame = {
    val seg = Tables.documentsSpread(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, (size(w) - 1) div 10), " +
          "i -> array_join(slice(w, i * 10 + 1, 10), ' '))")).as("seg"))
      .persist() // feeds the df aggregate AND the equi-join: one corpus
                 // tokenization pass instead of two (q_tfidf discipline)
    val df = seg.select("doc_id", "seg").distinct()
      .groupBy("seg").agg(count(lit(1)).as("df"))
    seg.join(df, "seg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("df") < 3, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("df") < 3, length(col("seg"))).otherwise(0L)).as("kept_chars"),
        sum(length(col("seg"))).as("total_chars"))
      .withColumn("retained_ppm",
        expr("(kept_chars * 1000000) div greatest(total_chars, 1)"))
      .select("doc_id", "n_segments", "n_kept", "kept_chars",
        "total_chars", "retained_ppm")
      .orderBy("doc_id")
  }

  /** Snapshot diff (the dataset-versioning audit): two point-in-time
    * views of per-(user, event_type) state — the cell's event count in
    * the corpus month's first and last week — full-outer joined on the
    * key and classified added / removed / changed / unchanged, with a
    * key checksum per class. This is the "what changed between corpus
    * v1 and v2" report every training-data release cuts; the
    * reference's analogue is the verify-then-delete migration diff
    * (upload_to_rfs.py:154-223), which compares the same object set
    * across two stores.
    *
    * Scale shape: each snapshot is ONE hash aggregate over its
    * window's pruned scan (count collapses map-side; the ts predicate
    * reaches the parquet scan); the diff is a single full-outer
    * shuffle join on the composite key — both sides pre-collapsed to
    * |cells| rows — and the classification is a codegen'd CASE over
    * the join's null pattern, rolled up by one more fixed-width
    * aggregate. The key's PRESENCE travels as the count itself (never
    * NULL for a present cell), so a NULL-valued column can never
    * misclassify — the q_asof_stream_twin lesson. */
  def qSnapshotDiff(spark: SparkSession, d: String): DataFrame = {
    def snap(lo: String, hi: String, n: String): DataFrame =
      Tables.events(spark, d)
        .filter(col("ts") >= expr(s"timestamp'$lo'") &&
          col("ts") < expr(s"timestamp'$hi'"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as(n))
    val a = snap("2024-01-01 00:00:00", "2024-01-08 00:00:00", "n_old")
    val b = snap("2024-01-24 00:00:00", "2024-01-31 00:00:00", "n_new")
    a.join(b, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"),
        when(col("n_old").isNull, "added")
          .when(col("n_new").isNull, "removed")
          .when(col("n_old") === col("n_new"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_keys"), sum("user_id").as("key_checksum"))
      .orderBy("status")
  }
}
