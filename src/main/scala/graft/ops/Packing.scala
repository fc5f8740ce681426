package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus layout operators for a training-data pipeline: sequence-length
  * bucketing, greedy token packing, deterministic sharding, and
  * cross-document passage dedup.
  *
  * These are the steps between "clean documents" and "training batches":
  * group documents by length so batches pad minimally, pack token
  * streams into fixed context windows, split the corpus into balanced
  * shards with a content-stable hash, and drop boilerplate passages
  * repeated across documents.
  */
object Packing {

  private def tokens = split(col("text"), "\\s+")

  /** Sequence-length bucketing: documents grouped into power-of-two
    * token-length buckets (bucket = number of binary digits of
    * n_tokens, i.e. floor(log2)+1 computed exactly via bin() — no
    * floating log at bucket boundaries). One map-side-combining
    * aggregate; the bucket histogram is what a batch scheduler reads
    * to size padded batches. */
  def qLengthBuckets(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(size(tokens).as("n_tokens"))
      .select(length(bin(col("n_tokens"))).cast("long").as("bucket"), col("n_tokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"),
        sum("n_tokens").cast("long").as("sum_tokens"))
      .orderBy("bucket")

  /** Curriculum assignment: each document placed into one of four
    * training phases by length quartile (the classic short-before-long
    * curriculum), with a deterministic intra-phase shuffle key — the
    * manifest a curriculum-ordered training run reads instead of the
    * flat corpus.
    *
    * Scale shape: quartile thresholds are ONE 1-row aggregate
    * (percentile_disc over exact integer n_chars — selected member
    * values, no interpolation, nothing floating anywhere in the
    * checked surface) broadcast back over a shuffle-free scan
    * projection. The intra-phase order key is content-stable md5 of
    * the doc id — re-ingesting or re-sharding the corpus never
    * changes a document's position, the q_data_split determinism
    * contract. No global sort is ever planned: ordering within a
    * phase is the downstream shuffle-write's job (sortWithinPartitions
    * on order_key), not this query's. */
  def qCurriculum(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("n_chars"))
    val th = docs.agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)").as("c1"),
      expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY n_chars)").as("c2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)").as("c3"))
    docs.crossJoin(broadcast(th))
      .withColumn("phase",
        when(col("n_chars") <= col("c1"), 0L)
          .when(col("n_chars") <= col("c2"), 1L)
          .when(col("n_chars") <= col("c3"), 2L)
          .otherwise(3L))
      .select(col("doc_id"), col("n_chars"), col("phase"),
        md5(concat(lit("curr:"), col("doc_id"))).as("order_key"))
      .orderBy("doc_id")
  }

  /** Greedy sequence packing: within each of 8 hash shards, documents
    * are laid head-to-tail in doc_id order and cut into 512-token
    * context bins — bin = cumulative-tokens-before div 512, offset =
    * position within the bin. This is the scalable packing shape: the
    * running sum is one window per shard (shards are independent, so
    * the sort parallelism is the shard count — at 100 TB raise the
    * shard count, not the window width). A document may straddle a bin
    * boundary by design (token streams are contiguous); exact first-fit
    * would serialize per shard for <2% padding gain. */
  def qPackGreedy(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
        size(tokens).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("bin_id", expr("cum_before div 512"))
      .withColumn("bin_offset", col("cum_before") - col("bin_id") * 512)
      .select("shard", "doc_id", "n_tokens", "bin_id", "bin_offset")
      .orderBy("doc_id")
  }

  /** Deterministic balanced sharding: shard = first hex digit of
    * md5("shard:" || doc_id) — 16 shards, content-stable (a rerun or a
    * late-arriving partition lands every doc in the same shard),
    * balanced by the hash. The aggregate is the shard manifest a
    * distributed writer emits next to the data. */
  def qShardAssign(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(substring(md5(concat(lit("shard:"), col("doc_id"))), 1, 1).as("shard"),
        col("doc_id"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("shard")

  /** Shard manifest with content checksums — the integrity artifact a
    * distributed landing job publishes next to each shard so a reader
    * (or a re-run) can verify completeness without rescanning payloads
    * (the reference's verify-after-upload step, upload_to_rfs.py, as
    * an aggregate). The checksum folds each doc's content hash with
    * bit_xor: ORDER-INDEPENDENT, so it needs no per-shard sort or
    * collect_list and merges map-side — any task order, partitioning,
    * or retry produces the same digest. 13 hex chars (52 bits) of the
    * md5 keep the per-doc hash exact in a double during the oracle's
    * hex parse (the qWeightedSample precedent) and in a long here. */
  def qShardManifest(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(substring(md5(concat(lit("shard:"), col("doc_id"))), 1, 1).as("shard"),
        col("doc_id"), col("n_chars"),
        conv(substring(md5(col("text")), 1, 13), 16, 10).cast("long").as("h52"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"),
        expr("bit_xor(h52)").as("content_checksum"))
      .orderBy("shard")

  /** Stable dense surrogate keys 0..n−1 in doc_id order — the
    * contiguous sample indices a training dataloader addresses. The
    * declarative form (`row_number() OVER (ORDER BY doc_id)`) plans a
    * single-task global sort — THE anti-pattern at 100 TB — so this is
    * one of the rare justified RDD drops: `sortBy` range-partitions the
    * keys across the cluster, and `zipWithIndex` assigns contiguous
    * indices with one extra O(partitions) job that collects only
    * per-partition COUNTS, never rows. Deterministic because doc_id is
    * unique. */
  def qSurrogateKey(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select(col("doc_id")).as[Long].rdd
      .sortBy(identity)
      .zipWithIndex()
      .toDF("doc_id", "sk")
      .orderBy("doc_id")
  }

  /** Cross-document passage dedup (the line-level dedup of a corpus
    * whose documents are single lines): token streams are chunked into
    * fixed 10-token passages, a passage is kept only at its first
    * occurrence corpus-wide (min (doc_id, chunk_idx)), and each
    * document reports its retained fraction — the CCNet/Gopher-style
    * boilerplate-removal measure.
    *
    * Shape: posexplode the tokens (chunking is integer division on the
    * position — no higher-order functions on the hot path, see the HOF
    * inlining note at Quality.qTokenCount), reassemble passages with a
    * grouped sort of ≤10-element arrays, then one window keyed on the
    * passage string for first-occurrence, one aggregate back to docs.
    * Passage cardinality ≈ token count / 10; everything shuffles at
    * passage granularity, never document². */
  def qPassageDedup(spark: SparkSession, d: String): DataFrame = {
    val passages = Tables.documents(spark, d)
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "tok")))
      .withColumn("ci", expr("pos div 10"))
      .groupBy("doc_id", "ci")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("ch"))
    val firstSeen = Window.partitionBy("ch").orderBy("doc_id", "ci")
    passages
      .withColumn("rn", row_number().over(firstSeen))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_ratio",
        round(col("n_kept") / col("n_chunks").cast("double"), 4))
      .orderBy("doc_id")
  }

  /** Overlapping training-sequence chunks: size-10 token windows at
    * stride 5 (50% overlap) — the standard context-window chunking for
    * LLM pretraining/RAG, where overlap preserves cross-boundary
    * context that qPassageDedup's disjoint chunks lose. Window starts
    * are 0,5,…,⌈(n−10)/5⌉·5 so every token is covered and the tail may
    * be ragged. slice() on the pre-split token array is a codegen'd
    * array op (NOT a lambda HOF — those run interpreted); the token
    * array is built once per row and fanned out by a 2×-ish explode,
    * so work is linear in corpus tokens with no shuffle at all until
    * the final ORDER BY. */
  /** Z-order (Morton) layout planning: assign the fact table to file
    * buckets along a 2-D space-filling curve over (partkey, ship-day),
    * and report each bucket's min/max on BOTH dimensions — exactly the
    * footer stats a columnar reader consults for file skipping.
    *
    * Why it matters at 100 TB: a table sorted on ONE key prunes scans
    * filtered on that key only; Z-ordering bounds every bucket inside
    * a ≤ 2048×2048 rectangle of the (partkey, day) plane (22-bit
    * z-prefix ⇒ 11 bits per dimension), so min/max skipping works for
    * predicates on EITHER dimension — the guarantee ZOrderSpec asserts
    * per bucket. The key itself is the native codegen'd
    * [[graft.functions.ZOrderKey]]; the plan is one projection + one
    * map-side-combining aggregate, shuffle only on the ~256 bucket
    * ids. In a real rewrite the same key feeds repartitionByRange.
    *
    * Quantization domain: zorder16 masks each input to its low 16
    * bits, which IS the quantization here because the fixture keys fit
    * 2^16 (partkey ≤ 20000 at sf0.1, day ≤ ~4600). For a key space
    * beyond 2^16 (the sf0.3 probe's offset pks, or any real table)
    * low-bit masking aliases faraway keys into one bucket and the
    * min/max stats stop pruning — production quantizes by RANGE RANK
    * (ntile/percent_rank × 65535, or `pk div (max_pk div 65536 + 1)`)
    * before the interleave. The reported file stats are always the
    * RAW stored values (what parquet footers hold), never the masked
    * key — the oracle mirrors that split. */
  def qZorderLayout(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d)
      .select(
        col("l_partkey").cast("long").as("pk"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1992-01-01') AS BIGINT)").as("day"))
      .withColumn("file_id", expr("shiftright(zorder16(pk, day), 22)"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("pk").as("min_pk"), max("pk").as("max_pk"),
        min("day").as("min_day"), max("day").as("max_day"))
      .orderBy("file_id")
  }

  /** WHY z-order: the file-skipping dividend, measured. For three
    * query rectangles over (partkey, ship-day), count the files a
    * reader must touch under the z-ordered layout (qZorderLayout's
    * buckets) versus a single-column pk-range layout of similar file
    * count — both judged by the same min/max-stats overlap test
    * parquet/Iceberg/Delta readers run. The pk-sorted layout prunes
    * pk predicates but must read EVERY file for a day-only predicate;
    * the z-order curve bounds both dimensions per file, so both
    * predicate shapes skip. All counts are integers; the row-count
    * truth per box ships alongside so the skipping ratios can be
    * judged against selectivity. The stats tables are file-count
    * sized (broadcast); the fact scan runs once per layout plus once
    * for the truth — nothing quadratic. */
  def qZorderSkipping(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = Tables.lineitem(spark, d).select(
        col("l_partkey").cast("long").as("pk"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1992-01-01') AS BIGINT)").as("day"))
      .persist()
    def stats(df: DataFrame): DataFrame = df.groupBy("file_id")
      .agg(min("pk").as("min_pk"), max("pk").as("max_pk"),
        min("day").as("min_day"), max("day").as("max_day"))
    val zStats = stats(base.withColumn("file_id",
      expr("shiftright(zorder16(pk, day), 22)"))).persist()
    val linStats = stats(base.withColumn("file_id", expr("pk div 128"))).persist()
    val boxes = Seq(
        (1L, 100L, 300L, 0L, 5000L),   // narrow pk, all days
        (2L, 0L, 100000L, 1500L, 1560L), // all pk, narrow day window
        (3L, 500L, 900L, 2000L, 2200L) // small box on both dims
      ).toDF("box_id", "pk_lo", "pk_hi", "day_lo", "day_hi")
    def touched(st: DataFrame, name: String): DataFrame =
      boxes.crossJoin(broadcast(st))
        .filter(col("min_pk") <= col("pk_hi") && col("max_pk") >= col("pk_lo") &&
          col("min_day") <= col("day_hi") && col("max_day") >= col("day_lo"))
        .groupBy("box_id").agg(count(lit(1)).as(name))
    val matches = base.crossJoin(broadcast(boxes))
      .filter(col("pk").between(col("pk_lo"), col("pk_hi")) &&
        col("day").between(col("day_lo"), col("day_hi")))
      .groupBy("box_id").agg(count(lit(1)).as("n_rows_match"))
    val totals = zStats.agg(count(lit(1)).as("z_files_total"))
      .crossJoin(linStats.agg(count(lit(1)).as("lin_files_total")))
    boxes.select("box_id")
      .join(matches, Seq("box_id"), "left")
      .join(touched(zStats, "z_files_touched"), Seq("box_id"), "left")
      .join(touched(linStats, "lin_files_touched"), Seq("box_id"), "left")
      .crossJoin(broadcast(totals))
      .select(col("box_id"),
        coalesce(col("n_rows_match"), lit(0L)).as("n_rows_match"),
        coalesce(col("z_files_touched"), lit(0L)).as("z_files_touched"),
        col("z_files_total"),
        coalesce(col("lin_files_touched"), lit(0L)).as("lin_files_touched"),
        col("lin_files_total"))
      .orderBy("box_id")
  }

  def qChunkOverlap(spark: SparkSession, d: String): DataFrame =
    graft.ops.Quality.docTokens(spark, d)
      .select(col("doc_id"), col("t"),
        explode(expr(
          "sequence(0, greatest(0, cast(ceil((size(t) - 10) / 5.0) AS INT)))"))
          .as("win_id"))
      .select(col("doc_id"), col("win_id"),
        expr("slice(t, win_id * 5 + 1, 10)").as("win"))
      .select(col("doc_id"), col("win_id"),
        size(col("win")).as("n_tokens"),
        concat_ws(" ", col("win")).as("chunk"))
      .orderBy("doc_id", "win_id")

  /** Deterministic source-interleaved training order: documents from
    * every source alternate round-robin — position k·n_sources + i
    * belongs to source i's k-th document — so a sequential reader sees
    * the mixture ratio at every prefix (the "don't train on one domain
    * for an hour" layout). Order within a source is a content-stable
    * md5 key, so re-ingesting the corpus never reorders it
    * (q_data_split determinism contract).
    *
    * Scale shape: the per-source ordinal is NOT one window per source
    * (20 single-task sorts of 1/20th of 100 TB each). It is the
    * two-phase numbering from [[qPackGreedy]]: a row_number within
    * (source, md5-shard) — parallelism = sources × shards, raise the
    * shard count at scale — plus a broadcast running-sum offset over
    * the tiny (source, shard) count grid. The per-source order that
    * results, (shard, okey, doc_id), is exactly the single-window
    * order the oracle computes. */
  def qInterleave(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        substring(md5(concat(lit("shard:"), col("doc_id"))), 1, 1).as("shard"),
        md5(concat(lit("ilv:"), col("doc_id"))).as("okey"))
    val wLocal = Window.partitionBy("source", "shard").orderBy("okey", "doc_id")
    val local = docs.withColumn("rn_local", row_number().over(wLocal).cast("long"))
      .persist() // consumers: offset grid + final assembly
    val wOff = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("source", "shard").agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum("n").over(wOff), lit(0L)))
      .select("source", "shard", "offset")
    // source index + count: a dim-sized aggregate; the unpartitioned
    // window runs over |sources| rows, not data
    val srcDim = Tables.documents(spark, d).select("source").distinct()
      .withColumn("sidx", row_number().over(Window.orderBy("source")).cast("long") - 1)
    val nSrc = srcDim.agg(count(lit(1)).as("n_sources"))
    local
      .join(broadcast(offsets), Seq("source", "shard"))
      .withColumn("ordinal", col("offset") + col("rn_local"))
      .join(broadcast(srcDim), Seq("source"))
      .crossJoin(broadcast(nSrc))
      .withColumn("global_pos", (col("ordinal") - 1) * col("n_sources") + col("sidx"))
      .select("doc_id", "source", "ordinal", "global_pos")
      .orderBy("global_pos")
  }

  /** Seeded epoch shuffle — THE canonical training-data op: a
    * deterministic uniform permutation of the corpus per epoch, keyed
    * by md5(epoch, doc_id), so every epoch trains in a different but
    * perfectly reproducible order (resume-from-step safe, identical
    * on every engine and cluster size). The global position is NOT a
    * global window (single-task sort of the corpus): the md5 key's
    * 2-hex-char prefix shards the permutation into 256 ranges whose
    * sizes aggregate to a broadcast offset table, and position =
    * shard offset + rank within shard — the terasort range-partition
    * pattern as a declarative plan. Because the shard is a PREFIX of
    * the sort key, (shard, k) order ≡ k order, so the sharded
    * computation equals a direct global ranking (the oracle computes
    * it that way; the spec proves the identity). */
  def qEpochShuffle(spark: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(spark, d).select(col("doc_id"))
      .withColumn("epoch", explode(array(lit(0L), lit(1L))))
      .withColumn("k", md5(concat(col("epoch"), lit(":shuf:"), col("doc_id"))))
      .withColumn("shard", substring(col("k"), 1, 2))
    val offsets = keyed.groupBy("epoch", "shard").agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(
        sum("n").over(Window.partitionBy("epoch").orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("epoch", "shard", "offset")
    keyed
      .withColumn("rn", row_number().over(
        Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")))
      .join(broadcast(offsets), Seq("epoch", "shard"))
      .select(col("epoch"), col("doc_id"), (col("offset") + col("rn")).as("pos"))
      .orderBy("epoch", "pos")
  }

  /** Span-corruption plan (T5/UL2-style pretraining transform): for
    * each document, deterministic mask spans — a span of 3 tokens
    * starts at every position whose content hash lands in 1/20 of the
    * hash space (≈5% start rate ⇒ ≈14% expected token mask rate before
    * overlap merging). Declared output is the per-doc plan summary
    * (token count, span starts, DISTINCT masked tokens — overlapping
    * spans merge — and the realized mask ratio in ppm), which is what
    * a data job materializes and ships to the trainer.
    *
    * Determinism contract: span starts derive from md5(doc_id, pos) —
    * reproducible across runs, engines, partitionings, and retries
    * (the Sampling-module hash contract; RNG-seeded masking is
    * neither cross-engine nor retry-stable). Scale shape: one
    * posexplode of token POSITIONS (integers, not strings), the
    * start-set stays inside the same explode pass, the span expansion
    * is a ≤3-wide sequence per start, and everything re-collapses to
    * one row per doc via map-side-combined aggregates — shuffle is
    * |docs| rows of 5 longs. */
  def qSpanCorrupt(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.documentsSpread(spark, d)
      .select(col("doc_id"), size(tokens).as("n_tokens"))
    val pos = base
      .select(col("doc_id"), col("n_tokens"),
        explode(expr("sequence(1, n_tokens)")).as("i"))
    val starts = pos.filter(
      conv(substring(md5(concat(col("doc_id"), lit(":sp:"), col("i"))), 1, 4), 16, 10)
        .cast("long") % 20 === 0)
    val masked = starts
      .select(col("doc_id"),
        explode(expr("sequence(i, least(i + 2, n_tokens))")).as("m"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_masked"))
    val spanCounts = starts.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    base
      .join(spanCounts, Seq("doc_id"), "left")
      .join(masked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"))
      .withColumn("mask_ppm", expr("(n_masked * 1000000) div n_tokens"))
      .orderBy("doc_id")
  }

  /** Fill-in-the-middle split plan (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): per
    * document, two deterministic cut points over the token sequence
    * partition it into (prefix, middle, suffix), plus the 50/50
    * PSM-vs-SPM ordering flag the paper's joint distribution uses.
    * Cut points are content-hashed (md5 of doc_id, the engine's
    * cross-engine-reproducible RNG stand-in — the qSpanCorrupt /
    * qKfold convention), uniform over 0..n so empty spans occur
    * exactly as the sampling implies. Declared surface is the PLAN
    * (span lengths + mode), not rearranged text: the trainer's data
    * loader applies the rearrangement, and integer lengths are what
    * the oracle can hash-check. Pure projection — no shuffle, no
    * join; at 100 TB this is map-only over the corpus scan. */
  def qFimSplit(spark: SparkSession, d: String): DataFrame = {
    def h(tag: String): org.apache.spark.sql.Column =
      conv(substring(md5(concat(lit(tag), col("doc_id").cast("string"))), 1, 4), 16, 10)
        .cast("long")
    Tables.documentsSpread(spark, d)
      .select(col("doc_id"), size(tokens).cast("long").as("n_tokens"))
      .withColumn("c1", h("fim1:") % (col("n_tokens") + 1L))
      .withColumn("c2", h("fim2:") % (col("n_tokens") + 1L))
      .select(col("doc_id"), col("n_tokens"),
        least(col("c1"), col("c2")).as("prefix_tokens"),
        (greatest(col("c1"), col("c2")) - least(col("c1"), col("c2"))).as("middle_tokens"),
        (col("n_tokens") - greatest(col("c1"), col("c2"))).as("suffix_tokens"),
        when(h("fimm:") % 2 === 0, "SPM").otherwise("PSM").as("mode"))
      .orderBy("doc_id")
  }

  /** Padding-waste audit: prices out what [[qLengthBuckets]]'s
    * histogram implies for batch efficiency by comparing two padding
    * policies over the same corpus — `fixed_128` (every document
    * padded to one 128-token context, overflow truncated: the naive
    * trainer default) versus `pow2_bucket` (documents padded only to
    * the next power-of-two bucket ≥ their length: length-bucketed
    * batching). Per (policy, bucket): document count, kept and
    * truncated token mass, padded slot total, and the waste fraction
    * in ppm — the number that decides whether bucketed batching is
    * worth its scheduling complexity on THIS corpus. One
    * map-side-combining aggregate over a union of two projections of
    * the same scan; integer ppm end-to-end. */
  def qPadWaste(spark: SparkSession, d: String): DataFrame = {
    val n = Tables.documents(spark, d).select(size(tokens).cast("long").as("n"))
    val pow2 = expr(
      """CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
        |WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |ELSE 1024 END""".stripMargin).cast("long")
    val bucketed = n.select(lit("pow2_bucket").as("policy"), pow2.as("bucket_len"), col("n"))
    val fixed = n.select(lit("fixed_128").as("policy"), lit(128L).as("bucket_len"), col("n"))
    bucketed.unionByName(fixed)
      .withColumn("kept", least(col("n"), col("bucket_len")))
      .groupBy("policy", "bucket_len")
      .agg(count(lit(1)).as("n_docs"),
        sum("kept").as("kept_tokens"),
        sum(col("n") - col("kept")).as("truncated_tokens"))
      .withColumn("padded_slots", col("n_docs") * col("bucket_len"))
      .withColumn("waste_ppm",
        expr("((padded_slots - kept_tokens) * 1000000) div padded_slots"))
      .orderBy("policy", "bucket_len")
  }

  /** RAG chunk explosion: every document split into overlapping
    * token windows (chunk 64, stride 48 → 16-token overlap), the
    * retrieval-index prep step that turns a document corpus into an
    * embeddable passage table. Each chunk carries its start offset,
    * its actual token count (trailing chunks are shorter), and a
    * content fingerprint — the key a chunk-level dedup or an
    * embedding cache joins on. Sub-minimum trailing fragments
    * (< 16 tokens) are dropped unless they are the document's only
    * chunk, the standard indexing guard against near-empty passages.
    *
    * Plan shape for 100 TB: the explode is MAP-SIDE — `sequence` +
    * `explode` + `slice` run inside the scan projection with no
    * shuffle anywhere (the output is a pure fan-out of the input
    * partitioning), so chunking 100 TB is one embarrassingly
    * parallel pass; fan-out is n_tokens/stride per doc, bounded by
    * document length, never corpus-sized. */
  def qRagChunks(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), tokens.as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")), lit(48))).as("tok_start"))
      .withColumn("chunk", slice(col("tk"), col("tok_start"), lit(64)))
      .withColumn("chunk_tokens", size(col("chunk")).cast("long"))
      .filter(col("chunk_tokens") >= 16 || col("tok_start") === 1)
      .select(col("doc_id"), col("tok_start").cast("long").as("tok_start"),
        col("chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("fp"))
      .orderBy("doc_id", "tok_start")

  /** Length-bucketed batch assignment: the constructive counterpart
    * to [[qPadWaste]]'s audit — actually ASSIGN documents to fixed-
    * size (32-doc) training batches inside power-of-two length
    * buckets, with a content-stable intra-bucket order (md5 of the
    * doc id, the q_data_split determinism contract: re-ingestion
    * never moves a doc to a different batch). Reports per bucket the
    * batch count and the realized pad waste (each batch pads to ITS
    * OWN max length — tighter than the bucket ceiling), plus a
    * `naive` scope row batching the same corpus in content-hash
    * order with no length bucketing: the two waste_ppm numbers are
    * the measured value of bucketing on this corpus.
    *
    * Plan shape for 100 TB: both policies assign batches WITHIN a
    * (policy, source) shard — the production layout, where each
    * ingest shard batches its own documents — so no window is ever a
    * single global partition; the row_number shuffles on a key whose
    * cardinality grows with the corpus. Downstream: map-side-
    * combining aggregates over (scope, source, batch) — fixed-size
    * groups, no skew by construction. Integer ppm end-to-end. */
  def qBatchBuckets(spark: SparkSession, d: String): DataFrame = {
    // persisted: both policy branches batch the same docs — the cache
    // holds only 4 narrow columns (text is dropped at the projection),
    // so ONE text scan feeds both windows instead of two (callers own
    // clearCache — SURVEY §7 cache contract)
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), size(tokens).cast("long").as("n"))
      .withColumn("ord", md5(concat(lit("batch:"), col("doc_id"))))
      .persist()
    val bucketed = docs
      .withColumn("scope", concat(lit("bucket_"), length(bin(col("n")))))
      .withColumn("rn", row_number().over(
        Window.partitionBy("scope", "source").orderBy("ord", "doc_id")))
    val naive = docs
      .withColumn("scope", lit("naive"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("scope", "source").orderBy("ord", "doc_id")))
    bucketed.unionByName(naive)
      .withColumn("batch", expr("(rn - 1) div 32"))
      .groupBy("scope", "source", "batch")
      .agg(count(lit(1)).as("n_docs"), max("n").as("max_n"), sum("n").as("sum_n"))
      .groupBy("scope")
      .agg(count(lit(1)).as("n_batches"),
        sum("n_docs").as("n_docs"),
        sum("sum_n").as("sum_tokens"),
        sum(col("n_docs") * col("max_n") - col("sum_n")).as("pad_tokens"))
      .withColumn("waste_ppm",
        expr("(pad_tokens * 1000000) div (pad_tokens + sum_tokens)"))
      .orderBy("scope")
  }
}
