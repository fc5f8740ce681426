package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (SURVEY.md §2.3 E24 +
  * BASELINE.json ANN north star): brute-force cosine top-k as the
  * correctness baseline, IVF (inverted-file) clustering as the scale
  * path, and cosine near-duplicate pairs.
  *
  * Numeric portability contract with the DuckDB oracle: every float is
  * cast to double *before* any arithmetic, dot products fold
  * left-to-right (Spark `aggregate` ≡ DuckDB `list_sum` over a list
  * comprehension), so both engines produce bit-identical IEEE doubles;
  * displayed similarities are rounded to 4 decimals.
  *
  * Scale notes (100 TB posture):
  *  - brute force is probes × corpus: fine for a bounded probe set
  *    (the corpus side streams, probes broadcast), unusable for
  *    all-pairs — that is what IVF/LSH bucketing is for.
  *  - IVF assignment is corpus × centroids (centroids broadcast, one
  *    narrow pass); search touches only the probe's cluster, cutting
  *    compared vectors by ~n_clusters. Nothing here shuffles the
  *    corpus more than once.
  */
object Similarity {

  /** Embedding cast to double + L2 norm, computed once per row. The
    * norm uses the native `vec_dot` (graft.functions.VecDot): a
    * codegen'd left-fold identical in evaluation order to the oracle's
    * `list_sum` comprehension but ~10× faster than the interpreted
    * `aggregate`/`zip_with` composition. */
  private def withNorm(spark: SparkSession, df: DataFrame): DataFrame = {
    df.withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", expr("sqrt(vec_dot(e, e))"))
  }

  /** Codegen'd left-fold dot product — same evaluation order as the
    * oracle's `list_sum([ea[i]*eb[i] ...])`. */
  private val dot = "vec_dot(ea, eb)"

  /** Per-probe bounded top-k over scored candidates — the shared tail
    * of all three similarity indexes. A `row_number() over (partition
    * by probe_id)` window would shuffle EVERY candidate row into
    * |probes| reducer partitions and sort each in one task — at 100×
    * the corpus that is a handful of giant single-task sorts. The
    * typed TopKAggregator instead keeps a k-bounded buffer per
    * (probe, input-partition): map-side partial aggregation ships at
    * most k rows per probe per partition into the shuffle, identical
    * ordering contract (cos DESC, vec_id ASC). Equivalence to the
    * window form is machine-verified: the oracles still rank with
    * row_number(). */
  private def probeTopK(spark: SparkSession, scored: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    scored.select(col("probe_id").cast("long"), col("cos"), col("vec_id").cast("long"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.TopKAggregator[(Long, Double, Long)](
        k, r => (r._2, r._3)).toColumn.name("topk"))
      .toDF("probe_id", "topk")
      .select(col("probe_id"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("probe_id"), col("e._2").as("vec_id"),
        round(col("e._1"), 4).as("cos_sim"), (col("pos") + 1).as("rn"))
  }

  /** E24: brute-force cosine top-k — for each probe (vec_id < 5) the 5
    * nearest corpus vectors. The probe side is broadcast; the corpus
    * side never shuffles — the bounded per-probe top-k collapses
    * map-side (see probeTopK). */
  def qCosineTopk(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val probes = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("e").as("ea"), col("nrm").as("na"))
    val corpus = v.select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb"))
    val scored = corpus.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
    probeTopK(spark, scored, 5)
      .orderBy("probe_id", "rn")
  }

  /** IVF cluster assignment shared by the ANN and near-dup paths:
    * centroids = vec_id < 8 (a deterministic stand-in for k-means
    * training), every vector assigned to its nearest centroid.
    *
    * The assignment is a hash aggregate, not a window: the corpus ×
    * centroids expansion happens inside each map task (centroids are
    * broadcast) and `max_by` collapses it back to one row per vector
    * via map-side partial aggregation — nothing ×8-expanded ever
    * shuffles, and there is no per-key sort. Tie-break matches the
    * oracle's `ORDER BY cos DESC, centroid_id`: lexicographic max of
    * (cos, -centroid_id). */
  private[graft] def ivfAssigned(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val centroids = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("e").as("ea"), col("nrm").as("na"))
    val corpus = v.select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb"))
    corpus.join(broadcast(centroids), lit(true))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .groupBy("vec_id")
      .agg(max_by(
        struct(col("centroid_id"), col("eb"), col("nb")),
        struct(col("cos"), (-col("centroid_id")).as("neg_centroid"))).as("best"))
      .select(col("vec_id"), col("best.centroid_id").as("cluster"),
        col("best.eb").as("eb"), col("best.nb").as("nb"))
  }

  /** IVF-bucketed ANN: probes (vec_id < 5) search only their own
    * cluster, top-3. The candidate set shrinks ~8×; recall is traded
    * exactly as in a real IVF index with nprobe=1. The assignment is
    * referenced twice (probe side + corpus side), so it is persisted —
    * Catalyst would otherwise evaluate the subtree per reference. */
  def qAnnIvf(spark: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssigned(spark, d).persist()
    val probes = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("cluster"),
        col("eb").as("ea"), col("nb").as("na"))
    val scored = assigned.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
    // each probe lives in exactly one cluster: re-attach it to the
    // bounded top-k via a 5-row broadcast join
    probeTopK(spark, scored, 3)
      .join(broadcast(probes.select(col("probe_id"), col("cluster"))), Seq("probe_id"))
      .select(col("probe_id"), col("cluster"), col("vec_id"), col("cos_sim"), col("rn"))
      .orderBy("probe_id", "rn")
  }

  /** Multi-probe IVF assignment: each vector's top-`nprobe` centroids,
    * one (cluster, vec_id) row per probe. Same shuffle shape as
    * `ivfAssigned` — the ×8 centroid expansion collapses map-side
    * (collect_list partial aggregation concatenates locally, the 8
    * candidate rows of a vector never leave their input partition), the
    * per-vector top-k is a sort of a constant 8-element array, not a
    * window over the expanded corpus. */
  private[graft] def ivfAssignedK(spark: SparkSession, d: String, nprobe: Int): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val centroids = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("e").as("ea"), col("nrm").as("na"))
    val corpus = v.select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb"))
    corpus.join(broadcast(centroids), lit(true))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .groupBy("vec_id")
      .agg(collect_list(
        struct((-col("cos")).as("neg_cos"), col("centroid_id"))).as("cands"))
      // lexicographic sort on (-cos, centroid_id) == cos DESC, centroid ASC
      .select(col("vec_id"),
        explode(slice(sort_array(col("cands")), 1, nprobe)).as("c"))
      .select(col("vec_id"), col("c.centroid_id").as("cluster"))
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ 0.45), bucketed:
    * candidate pairs share at least one of their top-2 IVF clusters
    * (multi-probe, nprobe=2 both sides), then exact cosine verifies
    * each candidate — precision 1 by construction, recall ~0.86 on the
    * planted near-dups (asserted vs the brute-force ground truth in
    * SimilaritySpec; nprobe=1 was 0.14 — cos 0.45 neighbors often
    * straddle a Voronoi boundary, the second probe catches them).
    * The equi-join on `cluster` replaces the all-pairs cartesian:
    * candidate pairs scale with cluster sizes, not corpus². This is
    * the 100 TB shape; the cartesian variant below is spec-only
    * ground truth.
    *
    * PLAN SELECTION (r11 — the qLabelAudit dup-factor gate): the
    * duplicate-collapse plan is linear on duplicate-heavy corpora (the
    * r10 K=30 ENOSPC finding) but pays ~8 extra stages of content
    * grouping + member expansion; on a duplicate-FREE corpus the
    * member-level plan is simpler and ~1 s faster at sf0.1. A 1-row
    * scalar probe — count vs count-distinct of a 64-bit content hash —
    * picks the plan. Hash collisions can only UNDERCOUNT distincts,
    * i.e. falsely route a duplicate-free corpus to the collapse plan
    * (correct, just slower); they can never hide a real duplicate, so
    * the member-level plan runs only when duplicates provably don't
    * exist. Both plans are oracle-identical by construction
    * (SimilaritySpec pins member ≡ collapse on the duplicate-free
    * corpus and collapse ≡ brute force on a mixed-label duplicated
    * fixture). */
  def qEmbedNeardup(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
      .select(col("vec_id"), col("e"), col("nrm")).persist()
    // shared session-cached 1-row probe (Probes.embeddings): dup
    // factor — one probe job serves this, q_label_audit, and the
    // grid family
    if (Probes.embeddings(spark, d).contentDupFree)
      embedNeardupMemberLevel(spark, d, v)
    else embedNeardupCollapsed(spark, d, v)
  }

  /** Member-level near-dup plan — taken when the dup-factor probe
    * proves the corpus duplicate-free (the pre-r10 shape: nprobe=2 IVF
    * bucket candidates at vector granularity → exact cosine verify). */
  private[graft] def embedNeardupMemberLevel(
      spark: SparkSession, d: String, v: DataFrame): DataFrame = {
    val asg = ivfAssignedK(spark, d, nprobe = 2).persist()
    val cand = asg.select(col("cluster"), col("vec_id").as("vec_a"))
      .join(asg.select(col("cluster"), col("vec_id").as("vec_b")), Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct() // a pair may share both probes
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .filter(col("cos") >= 0.45)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  private[graft] def embedNeardupCollapsed(
      spark: SparkSession, d: String, v: DataFrame): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE (r10 — the r9 q_gnn/label-audit pattern,
    // applied after the K=30 probe caught this plan's candidate join:
    // cosine, IVF assignment, and therefore candidacy are all
    // CONTENT-determined, but the member-level candidate stage carried
    // TWO full embedding vectors per candidate ROW, and on a corpus
    // where every vector has K exact duplicates the candidate volume is
    // K² — at K=30 that is 900× sf0.1's, ~hundreds of GB of shuffle
    // spill (ENOSPC, the round-10 scale finding). Collapsed: the
    // IVF assignment, candidate join, and cosine verify all run over
    // DISTINCT content (volume independent of the duplication factor),
    // and verified content pairs expand to member pairs at the END —
    // a join whose volume IS the output (output-bound, like
    // q_grid_neighbors). A same-content pair (g ≥ 2 members) is one
    // content self-row scored with the SAME cosine expression the
    // member form evaluated (not an assumed 1.0), so outputs are
    // bit-identical.
    val groups = v.groupBy("e")
      .agg(min("vec_id").as("gid"), count(lit(1)).as("g"))
      .withColumn("nrm", expr("sqrt(vec_dot(e, e))"))
      .persist()
    // content-level nprobe=2 IVF assignment (ivfAssignedK's exact
    // recipe over group representatives; centroids stay the raw
    // vec_id < 8 member vectors, so assignment ties break identically)
    val centroids = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("e").as("ea"), col("nrm").as("na"))
    val asg = groups.select(col("gid"), col("e").as("eb"), col("nrm").as("nb"))
      .join(broadcast(centroids), lit(true))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .groupBy("gid")
      .agg(collect_list(
        struct((-col("cos")).as("neg_cos"), col("centroid_id"))).as("cands"))
      .select(col("gid"),
        explode(slice(sort_array(col("cands")), 1, 2)).as("c"))
      .select(col("gid"), col("c.centroid_id").as("cluster"))
    // unordered content candidate pairs sharing ≥1 probed cluster;
    // the self-pair stands for a group's internal member pairs, so it
    // exists only for groups of ≥2
    val pairs = asg.select(col("gid").as("ga"), col("cluster"))
      .join(asg.select(col("gid").as("gb"), col("cluster")), Seq("cluster"))
      .filter(col("ga") <= col("gb"))
      .select("ga", "gb").distinct() // a pair may share both probes
      .join(groups.select(col("gid").as("gb"), col("g").as("gb_g")), Seq("gb"))
      .filter(col("ga") =!= col("gb") || col("gb_g") > 1)
      .select("ga", "gb")
    val scored = pairs
      .join(groups.select(col("gid").as("ga"), col("e").as("ea"),
        col("nrm").as("na")), Seq("ga"))
      .join(groups.select(col("gid").as("gb"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("gb"))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .filter(col("cos") >= 0.45)
      .select("ga", "gb", "cos")
    // output-bound member expansion: cross-group combos appear exactly
    // once (unordered content pair × member grid), same-group pairs
    // keep the a < b half
    val members = v.join(groups.select(col("e"), col("gid")), Seq("e"))
      .select(col("gid"), col("vec_id"))
    scored
      .join(members.toDF("ga", "ma"), Seq("ga"))
      .join(members.toDF("gb", "mb"), Seq("gb"))
      .filter(col("ga") =!= col("gb") || col("ma") < col("mb"))
      .select(least(col("ma"), col("mb")).as("vec_a"),
        greatest(col("ma"), col("mb")).as("vec_b"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Landed semantic near-dup pair artifact (`qEmbedNeardup` output) —
    * same write-once contract as Quality.neardupPairs: the embedding
    * dedup clustering reads the materialized pair stream instead of
    * re-deriving the IVF-candidate + cosine-verify subtree. */
  private[graft] def embedNeardupPairs(spark: SparkSession, d: String): DataFrame = {
    // r10: landed on TxTable (multi-JVM-safe version-0 claim)
    val dir = graft.sources.Landing.table(spark, d, "embed_pairs_v2") {
      qEmbedNeardup(spark, d)
    }
    graft.sinks.TxTable.read(spark, dir)
  }

  /** SemDeDup-style threshold sweep (Abbas et al. 2023, "SemDeDup:
    * data-efficient learning at web-scale through semantic
    * deduplication"): the cosine analog of Quality.qNeardupSweep —
    * per 0.05 similarity band over the verified embedding near-dup
    * pair stream, the pair count, the distinct vectors involved, and
    * the cumulative pairs-at-or-above (what a semantic-dedup cutoff
    * at that band would remove). SemDeDup's headline result is that
    * the threshold choice moves both data volume AND downstream
    * accuracy; this is the table that choice is read from, measured
    * on THIS corpus. Reads the landed pair artifact
    * ([[embedNeardupPairs]] — the audit runs over the dedup run's own
    * output); the rollup is a ≤12-row aggregate plus a window over
    * those rows. Band edges floor the already-rounded cos_sim, so the
    * double multiply is the same IEEE op on the same input both
    * engines. */
  def qSemdedupSweep(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = embedNeardupPairs(spark, d)
      .withColumn("band_x20", expr("CAST(floor(cos_sim * 20) AS BIGINT)"))
      .persist() // pair rollup + vector rollup share it
    val pairsAgg = banded.groupBy("band_x20").agg(count(lit(1)).as("n_pairs"))
    val vecsAgg = banded
      .select(col("band_x20"), explode(array(col("vec_a"), col("vec_b"))).as("vec"))
      .groupBy("band_x20").agg(countDistinct("vec").as("n_vecs"))
    val wCum = Window.orderBy(col("band_x20").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    pairsAgg.join(vecsAgg, Seq("band_x20"))
      .withColumn("n_pairs_at_least", sum("n_pairs").over(wCum))
      .select("band_x20", "n_pairs", "n_pairs_at_least", "n_vecs")
      .orderBy("band_x20")
  }

  /** IVF nprobe tuning sweep: recall@3 against the brute-force ground
    * truth for nprobe ∈ {1, 2, 3} — the table an ANN platform picks
    * its latency/recall operating point from (each +1 probe widens
    * the searched fraction of the corpus by ~1/n_clusters and
    * monotonically improves recall; where the curve flattens is where
    * production stops paying). Corpus vectors stay indexed in their
    * ONE nearest cluster (the production IVF layout — multi-probe is
    * a QUERY-side knob only); each probe searches its top-nprobe
    * clusters' candidates, top-3 by exact cosine through the bounded
    * TopKAggregator (never a window), and the hit count joins the
    * k-bounded ground truth. Corpus cost: one assignment pass plus
    * per-nprobe candidate streams that total ≤ 3 clusters of the
    * corpus per probe — the probe side (5 rows × nprobe) broadcasts. */
  def qIvfProbeSweep(spark: SparkSession, d: String): DataFrame = {
    val brute = qCosineTopk(spark, d).filter(col("rn") <= 3)
      .select(col("probe_id"), col("vec_id")).persist()
    val corpus = ivfAssigned(spark, d).persist() // vec → its one home cluster
    val pvec = withNorm(spark, Tables.embeddings(spark, d))
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("e").as("ea"), col("nrm").as("na"))
    val ivf = (1 to 3).map { np =>
      val pcl = ivfAssignedK(spark, d, np).filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("cluster"))
      val scored = corpus
        .join(broadcast(pcl.join(pvec, "probe_id")), Seq("cluster"))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos", expr(s"$dot / (na * nb)"))
      probeTopK(spark, scored, 3)
        .select(col("probe_id"), col("vec_id"), lit(np.toLong).as("nprobe"))
    }.reduce(_ unionByName _)
    ivf.join(brute, Seq("probe_id", "vec_id")) // retrieved ∩ true top-3
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("recall_ppm", expr("(n_hits * 1000000) div 15"))
      .orderBy("nprobe")
  }

  /** Random-hyperplane LSH signatures: 16 sign bits, one per
    * hyperplane, packed into a BIGINT. The "hyperplanes" are corpus
    * vectors 8..23 — a deterministic stand-in for sampled Gaussian
    * directions (the engine has no cross-engine-reproducible RNG; any
    * fixed direction set gives the same locality property:
    * P[bit differs] = angle/π). The ×16 expansion collapses map-side
    * into one packed signature per vector — like `ivfAssigned`,
    * nothing expanded ever shuffles. */
  private[graft] def lshSig(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val hp = v.filter(col("vec_id") >= 8 && col("vec_id") < 24)
      .select((col("vec_id") - 8).cast("int").as("h"), col("e").as("ea"))
    val corpus = v.select(col("vec_id"), col("e").as("eb"))
    corpus.join(broadcast(hp), lit(true))
      .withColumn("bit",
        when(expr(dot) >= 0, expr("shiftleft(CAST(1 AS BIGINT), h)")).otherwise(lit(0L)))
      .groupBy("vec_id")
      .agg(sum(col("bit")).as("sig"))
  }

  /** Signature → 4 bands of 4 bits each (band join on any shared band
    * ≙ "at most 4 of 16 bits differ in some quarter"). Integer
    * div/mod, not shifts, for exact DuckDB parity. */
  private[graft] def lshBands(sig: DataFrame): DataFrame =
    sig.select(col("vec_id"), posexplode(array(
      (0 until 4).map(b => expr(s"sig div ${1L << (4 * b)} % 16")): _*))
      .as(Seq("band_idx", "band_val")))

  /** LSH-bucketed ANN — the hyperplane-hash alternative to `qAnnIvf`:
    * probes (vec_id < 5) take as candidates every vector sharing at
    * least one 4-bit signature band, then exact cosine scores the
    * candidates, top-3. Both index variants ship because they trade
    * differently at 100 TB: IVF needs a (broadcastable) centroid set
    * and gives tunable probe counts; LSH needs no training and its
    * index is one BIGINT per row, but band collision rates are fixed
    * by the bit layout. Shared shape: signatures per-row, candidates
    * via equi-join on (band_idx, band_val), exact verify on candidates
    * only — never all pairs. */
  def qAnnLsh(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
      .select(col("vec_id"), col("e"), col("nrm")).persist()
    val bands = lshBands(lshSig(spark, d)).persist()
    val probes = bands.filter(col("vec_id") < 5)
      .select(col("band_idx"), col("band_val"), col("vec_id").as("probe_id"))
    val cand = bands.join(probes, Seq("band_idx", "band_val"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()
    val scored = cand
      .join(v.select(col("vec_id").as("probe_id"), col("e").as("ea"), col("nrm").as("na")),
        "probe_id")
      .join(v.select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb")), "vec_id")
      .withColumn("cos", expr(s"$dot / (na * nb)"))
    probeTopK(spark, scored, 3)
      .orderBy("probe_id", "rn")
  }

  /** One k-means (Lloyd) refinement step for the IVF index: re-compute
    * each cluster's centroid as the element-wise mean of its members.
    * posexplode to (cluster, dim, x) and hash-aggregate — the ×dims
    * expansion combines map-side, so bytes shuffled ∝ clusters × dims,
    * not corpus size. Iterating this (assignment is `ivfAssigned`) IS
    * distributed k-means; one step ships as a declared query so the
    * training path of the index is oracle-checked. Component sums go
    * through DECIMAL(18,6) for partial-aggregation-order independence
    * (same contract as Inventory.decSum).
    *
    * The declared output is (n_members, centroid_sum) with the sum as
    * an exact decimal STRING — same information as the mean (consumer
    * divides), but hash-stable across engines: the earlier
    * `round(CAST(sum AS DOUBLE)/count, 4)` form crossed a
    * double-representation rounding boundary that DuckDB builds
    * resolve differently (r3 driver red; value-exact locally). No
    * doubles appear in the checked surface at all. */
  def qKmeansStep(spark: SparkSession, d: String): DataFrame =
    ivfAssigned(spark, d)
      .select(col("cluster"), posexplode(col("eb")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(count(lit(1)).as("n_members"),
        sum(col("x").cast("decimal(18,6)")).cast("string").as("centroid_sum"))
      .orderBy("cluster", "dim")

  /** Full Lloyd TRAINING of the IVF codebook — [[qKmeansStep]] closed
    * into the loop: seed centroids (vec_id < 8) → assign → re-center →
    * assign → re-center → final assignment, declared as the third
    * round's per-(cluster, dim) member counts and exact decimal
    * centroid sums.
    *
    * Cross-engine float discipline (every step a proven pattern):
    * assignment is the max_by hash-agg (no window over the ×k-expanded
    * corpus); the re-centered component is an exact DECIMAL(18,6) sum
    * round-tripped through its string form and divided by the member
    * count — the string parse pins the decimal→double conversion to
    * the same correctly-rounded IEEE value in both engines
    * (q_embed_outliers precedent), and a double/long division is
    * deterministic IEEE on both. So the round-2 centroids are
    * bit-identical doubles, and the round-3 assignment stays exact.
    *
    * Scale shape: the corpus persists once and is scanned once per
    * round; each round shuffles clusters × dims decimal partials
    * (map-side combined), never vectors. The 8-row centroid frame is
    * localCheckpoint'ed per round — fresh stats for the broadcast and
    * a lineage cut, the iterative-algorithm discipline of
    * DedupClusters. An empty cluster drops out of the codebook
    * (standard Lloyd behavior), identically on both sides. */
  def qKmeansTrain(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val corpus = v.select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb"))
      .persist() // one scan per Lloyd round
    def assign(c: DataFrame): DataFrame = corpus.join(broadcast(c), lit(true))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("centroid_id"), col("eb")),
        struct(col("cos"), (-col("centroid_id")).as("neg_centroid"))).as("best"))
      .select(col("vec_id"), col("best.centroid_id").as("cluster"),
        col("best.eb").as("eb"))
    var cents = v.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long").as("centroid_id"),
        col("e").as("ea"), col("nrm").as("na"))
      .localCheckpoint()
    for (_ <- 1 to 2) {
      cents = assign(cents)
        .select(col("cluster"), posexplode(col("eb")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(count(lit(1)).as("n"), sum(col("x").cast("decimal(18,6)")).as("s"))
        .withColumn("c", expr("CAST(CAST(s AS STRING) AS DOUBLE) / n"))
        .groupBy("cluster")
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)").as("ea"))
        .select(col("cluster").as("centroid_id"), col("ea"),
          expr("sqrt(vec_dot(ea, ea))").as("na"))
        .localCheckpoint()
    }
    assign(cents)
      .select(col("cluster"), posexplode(col("eb")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(count(lit(1)).as("n_members"),
        sum(col("x").cast("decimal(18,6)")).cast("string").as("centroid_sum"))
      .orderBy("cluster", "dim")
  }

  /** k-NN label classification — the embedding-space quality/domain
    * tagger of a training-data pipeline (label propagation from a
    * curated seed set onto unlabeled documents): probes (vec_id < 10)
    * take the majority label of their 5 nearest labeled corpus
    * vectors (vec_id >= 10) by cosine.
    *
    * Scale shape: probes broadcast, the corpus streams exactly twice
    * (once scored against the broadcast probes with the bounded
    * per-probe top-k collapsing map-side — see probeTopK; once as a
    * narrow scan that the tiny top-k result broadcast-joins for
    * neighbor labels). The vote is a hash aggregate over ≤ k×|probes|
    * rows; the winner is `max_by` on (votes, -label) — ties go to the
    * smallest label, matching the oracle's ORDER BY votes DESC, label. */
  def qKnnClassify(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val probes = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
        col("e").as("ea"), col("nrm").as("na"))
    val corpus = v.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb"))
    val scored = corpus
      .join(broadcast(probes.select("probe_id", "ea", "na")), lit(true))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
    val topk = probeTopK(spark, scored, 5).select("probe_id", "vec_id")
    val votes = Tables.embeddings(spark, d).select(col("vec_id"), col("label"))
      .join(broadcast(topk), Seq("vec_id"))
      .groupBy("probe_id", "label")
      .agg(count(lit(1)).as("votes"))
    votes.groupBy("probe_id")
      .agg(max_by(struct(col("label"), col("votes")),
        struct(col("votes"), (-col("label")).as("neg_label"))).as("best"))
      .join(broadcast(probes.select("probe_id", "true_label")), Seq("probe_id"))
      .select(col("probe_id"), col("true_label"),
        col("best.label").as("pred_label"), col("best.votes").as("votes"))
      .orderBy("probe_id")
  }

  /** Embedding-corpus hygiene report — the sanity pass that runs
    * BEFORE any index build (a zero vector poisons cosine math with
    * NaN; a ragged dimension breaks every dot product; a drifting
    * norm distribution flags a bad encoder batch). Per label: vector
    * count, the dimension range (min = max ⟺ consistent), zero-vector
    * count, and the L2-norm spread. One narrow map pass + a 10-group
    * aggregate — nothing but the final rollup shuffles.
    *
    * The norm mean ships as (exact decimal sum STRING, count) — the
    * q_kmeans_step lesson: `round(CAST(sum AS DOUBLE)/count, 4)`
    * crosses a double-representation rounding boundary that DuckDB
    * builds resolve differently, so no derived double enters the
    * checked surface; min/max are per-row doubles, identical by the
    * cosine-parity contract. */
  def qEmbeddingStats(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    v.select(col("label"), size(col("e")).as("dim"), col("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
        sum(when(col("nrm") === 0.0, 1).otherwise(0)).as("n_zero"),
        round(min(col("nrm")), 4).as("min_norm"),
        round(max(col("nrm")), 4).as("max_norm"),
        sum(col("nrm").cast("decimal(18,6)")).cast("string").as("norm_sum"))
      .orderBy("label")
  }

  /** Embedding outliers: per label, the vector FARTHEST (by cosine)
    * from its label centroid — the mislabeled/encoder-glitch detector
    * an embedding-corpus hygiene pass runs after qEmbeddingStats.
    *
    * Centroid parity: per-dim means derive from exact DECIMAL(18,6)
    * sums routed through a STRING before the double cast (the
    * qPerplexityProxy round-trip — both engines parse the same
    * decimal literal with correctly-rounded strtod, where a direct
    * int128→double cast is build-dependent). The centroid frame is
    * |labels|×|dims| rows — reassembled with a tiny sort+transform
    * and broadcast; the corpus streams past it once. The per-label
    * argmin is min_by on (cos, vec_id) — deterministic ties, no
    * per-group sort. */
  def qEmbedOutliers(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val comp = v.select(col("label"), posexplode(col("e")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg((sum(col("x").cast("decimal(18,6)")).cast("string").cast("double")
        / count(lit(1))).as("m"))
    val cent = comp.groupBy("label")
      .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("label"), expr("transform(dm, s -> s.m)").as("c"))
      .withColumn("cn", expr("sqrt(vec_dot(c, c))"))
    v.join(broadcast(cent), "label")
      .withColumn("cos", expr("vec_dot(e, c) / (nrm * cn)"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min_by(struct(col("vec_id"), col("cos")),
          struct(col("cos"), col("vec_id"))).as("w"))
      .select(col("label"), col("n_vecs"), col("w.vec_id").as("outlier_vec"),
        round(col("w.cos"), 4).as("outlier_cos"))
      .orderBy("label")
  }

  /** Product quantization codes: each 64-dim embedding compressed to
    * 4 sub-codes by splitting into 4 × 16-dim subspaces and assigning
    * each slice to its nearest of 8 sub-centroids (squared L2;
    * centroids = the slices of vec_id < 8, the same deterministic
    * k-means stand-in as IVF). PQ is the vector-compression half of a
    * production ANN index (IVF-PQ): 64 floats (256 B) become 4 codes
    * (4 B, 3 bits used each here), and search scans codes against a
    * per-probe lookup table (ADC) instead of raw vectors — the reason
    * a 100 TB embedding corpus can be searched from memory. Plan
    * shape: the corpus explodes ×4 subspaces map-side, joins the
    * broadcast 32-row sub-codebook, and the ×8 candidate expansion
    * collapses map-side via partial `min_by` — one shuffle of
    * (vec, subspace, code) partials, nothing vector-sized. Distance
    * parity with the oracle: ||a−b||² expands to (daa − 2·dab) + dbb
    * with every dot the proven vec_dot ≡ list_sum left-fold, so both
    * engines produce bit-identical doubles; ties break to the lower
    * centroid id. */
  def qPqCodes(spark: SparkSession, d: String): DataFrame =
    pqAssign(spark, d)
      .select(col("vec_id"), col("m").as("subspace"), col("code"))
      .orderBy("vec_id", "subspace")

  /** The per-(vector, subspace) slice stream: vec_id, m ∈ [0,4),
    * sa = the 16-dim slice, daa = its squared norm. */
  private def pqSubs(spark: SparkSession, d: String): DataFrame = {
    Tables.embeddings(spark, d)
      .withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("m", explode(array((0 until 4).map(lit(_)): _*)))
      .withColumn("sa", expr("slice(e, 1 + m * 16, 16)"))
      .withColumn("daa", expr("vec_dot(sa, sa)"))
      .select(col("vec_id"), col("m"), col("sa"), col("daa"))
  }

  /** The 32-row sub-codebook (8 centroids × 4 subspaces). */
  private def pqCodebook(spark: SparkSession, d: String): DataFrame =
    pqSubs(spark, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("m").as("cm"),
        col("sa").as("sb"), col("daa").as("dbb"))

  private[graft] def pqAssign(spark: SparkSession, d: String): DataFrame =
    pqSubs(spark, d)
      .join(broadcast(pqCodebook(spark, d)), col("m") === col("cm"))
      .withColumn("d2", expr("(daa - 2 * vec_dot(sa, sb)) + dbb"))
      .groupBy("vec_id", "m")
      .agg(min_by(col("centroid_id"), struct(col("d2"), col("centroid_id"))).as("code"))

  /** PQ search by asymmetric distance computation (ADC): each probe
    * (vec_id < 5) precomputes its 8 × 4 table of exact sub-distances
    * to the codebook, and every corpus vector is scored as the SUM of
    * 4 table lookups selected by its stored codes — the scan phase of
    * a production IVF-PQ index, where the corpus side touches only
    * 4-byte codes, never raw vectors. Plan shape: the probe tables
    * (5 × 32 rows) broadcast against the code stream; the per-(probe,
    * vector) 4-row lookup collapses by pivoting the four subspaces
    * into columns, so the final distance is the FIXED-ORDER fold
    * ((d0 + d1) + d2) + d3 — deterministic IEEE, identical on both
    * engines (a plain SUM over the 4 rows would re-associate under
    * partial aggregation). Top-5 per probe via the bounded
    * TopKAggregator (no per-probe window sort), ties to the lower
    * vec_id. */
  /** Per-probe ADC table: exact sub-distances from each probe slice
    * to every sub-centroid — nProbes × 32 rows. */
  private def pqProbeTable(spark: SparkSession, d: String, nProbes: Int): DataFrame =
    pqSubs(spark, d).filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("m").as("pm"),
        col("sa"), col("daa"))
      .join(broadcast(pqCodebook(spark, d)), col("pm") === col("cm"))
      .withColumn("pd2", expr("(daa - 2 * vec_dot(sa, sb)) + dbb"))
      .select(col("probe_id"), col("pm"), col("centroid_id"), col("pd2"))

  /** ADC scoring + bounded per-probe top-k over a (probe_id, vec_id,
    * m, code) stream joined to the broadcast probe tables. */
  private def adcTopK(
      spark: SparkSession, coded: DataFrame, table: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val scored = coded
      .join(broadcast(table),
        col("m") === col("pm") && col("code") === col("centroid_id") &&
          col("probe_id") === col("tp"))
      .groupBy("probe_id", "vec_id")
      .agg(min(when(col("m") === 0, col("pd2"))).as("d0"),
        min(when(col("m") === 1, col("pd2"))).as("d1"),
        min(when(col("m") === 2, col("pd2"))).as("d2"),
        min(when(col("m") === 3, col("pd2"))).as("d3"))
      .withColumn("ad2", expr("d0 + d1 + d2 + d3"))
    scored.select(col("probe_id"), col("ad2"), col("vec_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.TopKAggregator[(Long, Double, Long)](
        k, r => (-r._2, r._3)).toColumn.name("topk"))
      .toDF("probe_id", "topk")
      .select(col("probe_id"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("probe_id"), col("e._2").as("vec_id"),
        round(-col("e._1"), 4).as("approx_d2"), (col("pos") + 1).as("rn"))
  }

  def qPqSearch(spark: SparkSession, d: String): DataFrame = {
    val coded = pqAssign(spark, d)
      .withColumn("probe_id", explode(array((0 until 5).map(i => lit(i.toLong)): _*)))
      .filter(col("vec_id") =!= col("probe_id"))
    adcTopK(spark, coded,
        pqProbeTable(spark, d, 5).withColumnRenamed("probe_id", "tp"), 5)
      .orderBy("probe_id", "rn")
  }

  /** Composed IVF-PQ search — the production ANN index shape end to
    * end: the IVF half restricts each probe's candidates to its own
    * cosine cluster (~n_clusters× fewer vectors touched), and the PQ
    * half scores those candidates from 4-byte codes via the broadcast
    * ADC tables — the scan reads codes, never raw vectors. Both
    * halves are the already-oracled building blocks (ivfAssigned,
    * pqAssign, pqProbeTable); this query is their composition, so the
    * oracle composes the same CTEs. Top-3 per probe by approximate
    * distance, ties to the lower vec_id. */
  def qAnnIvfPq(spark: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssigned(spark, d).select("vec_id", "cluster").persist()
    val probes = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("cluster"))
    val cands = assigned.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    val coded = pqAssign(spark, d).join(cands, Seq("vec_id"))
    adcTopK(spark, coded,
        pqProbeTable(spark, d, 5).withColumnRenamed("probe_id", "tp"), 3)
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("cluster"), col("vec_id"),
        col("approx_d2"), col("rn"))
      .orderBy("probe_id", "rn")
  }

  /** Hard-negative mining for contrastive training: for each probe
    * (vec_id < 5), the 5 most-similar vectors with a DIFFERENT label —
    * the highest-value negatives a contrastive/embedding-training
    * pipeline pairs with each anchor (easy negatives teach nothing;
    * the near-miss wrong-label neighbors define the decision
    * boundary). Same bounded plan as qCosineTopk — probes broadcast,
    * corpus streams once, TopKAggregator collapses map-side — with the
    * label-inequality predicate applied BEFORE any scoring ships, and
    * the negative's label joined back onto the k-bounded result, never
    * the scored stream. */
  def qHardNegatives(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val probes = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("e").as("ea"), col("nrm").as("na"))
    val corpus = v.select(col("vec_id"), col("label"), col("e").as("eb"),
      col("nrm").as("nb"))
    val scored = corpus.join(broadcast(probes),
        col("vec_id") =!= col("probe_id") && col("label") =!= col("probe_label"))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
    probeTopK(spark, scored, 5)
      .join(v.select(col("vec_id"), col("label").as("neg_label")), "vec_id")
      .select(col("probe_id"), col("rn"), col("vec_id"), col("neg_label"),
        col("cos_sim"))
      .orderBy("probe_id", "rn")
  }

  /** ANN index-quality monitoring: recall@3 of the IVF index against
    * the brute-force ground truth, per probe — the metric a vector
    * platform alerts on when a centroid re-train or data drift
    * degrades the index (IVF restricts search to one cluster, so its
    * recall is exactly the fraction of true neighbors that share the
    * probe's cluster). Both sides are the already-oracled building
    * blocks (qAnnIvf, qCosineTopk); this query is their composition,
    * the overlap an equi-join of two k-bounded frames, and the metric
    * an exact integer ppm — so the oracle composes the same CTEs.
    * Nothing here touches the corpus beyond what the two blocks
    * already stream. */
  def qAnnRecall(spark: SparkSession, d: String): DataFrame = {
    val ivf = qAnnIvf(spark, d).select(col("probe_id"), col("vec_id"))
      .withColumn("hit", lit(1))
    val brute = qCosineTopk(spark, d).filter(col("rn") <= 3)
      .select(col("probe_id"), col("vec_id"))
    brute.join(ivf, Seq("probe_id", "vec_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall_ppm", expr("n_hit * 1000000 div k"))
      .orderBy("probe_id")
  }

  /** NDCG@3 of the IVF (nprobe=1) ranking against brute-force graded
    * relevance — the RANK-AWARE retrieval eval that completes the
    * family: [[qAnnRecall]] scores set overlap (rank 1 ≡ rank 3),
    * [[Quality.qRboOverlap]] compares two rankers' agreement; NDCG
    * weights each IVF position by where the exact ranker put that
    * neighbor. Relevance grades come from the exact top-5 (rel =
    * 6 − exact rank, 0 for un-graded); discount weights are the
    * PRE-FLOORED integer constants ⌊10⁶/log₂(i+1)⌋ = (1000000,
    * 630929, 500000) — hardcoded on BOTH engines, so the checked
    * surface has no libm log anywhere. IDCG is the constant ideal
    * over grades (5,4,3) = 9 023 716 (every probe has a full graded
    * top-5 by construction), so ndcg_ppm isolates exactly how much
    * exact-rank mass the IVF ranking recovered, position-weighted.
    *
    * Plan shape for 100 TB: composes the two already-bounded
    * rankings (TopKAggregator outputs, ≤ k rows per probe); the
    * NDCG join and aggregate are probes × k sized. */
  def qNdcgEval(spark: SparkSession, d: String): DataFrame = {
    val ivf = qAnnIvf(spark, d).select(col("probe_id"), col("vec_id"), col("rn"))
    val exact = qCosineTopk(spark, d)
      .select(col("probe_id"), col("vec_id"),
        (lit(6) - col("rn")).cast("long").as("rel"))
    ivf.join(exact, Seq("probe_id", "vec_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .withColumn("w", expr(
        "CASE rn WHEN 1 THEN 1000000L WHEN 2 THEN 630929L ELSE 500000L END"))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_graded"),
        sum(col("rel") * col("w")).as("dcg_milli"))
      .withColumn("ndcg_ppm", expr("(dcg_milli * 1000000) div 9023716"))
      .select("probe_id", "k", "n_graded", "dcg_milli", "ndcg_ppm")
      .orderBy("probe_id")
  }

  /** Random projection (Johnson–Lindenstrauss) dimensionality
    * reduction: 64-dim embeddings sketched to 16 dims with a
    * DETERMINISTIC ±1 projection matrix — the cheap pre-pass a 100 TB
    * embedding pipeline runs before clustering/ANN when the full
    * dimension is unaffordable (Achlioptas 2003: ±1 entries preserve
    * pairwise distances in expectation as well as Gaussian ones, and
    * need no float matrix shipped anywhere — each sign is a pure
    * function of (out_dim, in_dim)).
    *
    * Sign convention shared with the oracle: entry (j, i) is +1 iff
    * the first hex digit of md5("rp:j:i") is even. The 16 sign rows
    * are built once and broadcast (16 × 64 doubles); the corpus
    * streams past them exactly once with a ×16 narrow expansion —
    * no shuffle anywhere except the final display sort. Parity: each
    * output coordinate is one vec_dot left-fold over the double-cast
    * embedding ≡ the oracle's list_sum comprehension, bit-identical
    * IEEE, rounded to 4 decimals for display. */
  def qRandProject(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val signs = spark.range(16).toDF("out_dim")
      .withColumn("s", expr(
        """transform(sequence(0, 63), i ->
          |  CASE WHEN substring(md5(concat('rp:', CAST(out_dim AS STRING),
          |                                 ':', CAST(i AS STRING))), 1, 1)
          |            IN ('0','2','4','6','8','a','c','e')
          |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)""".stripMargin))
    v.select(col("vec_id"), col("e"))
      .join(broadcast(signs))
      .select(col("vec_id"), col("out_dim"),
        round(expr("vec_dot(e, s)"), 4).as("proj"))
      .orderBy("vec_id", "out_dim")
  }

  /** Int8 scalar quantization report: per-dimension min/max over the
    * corpus define a 256-level uniform grid; every coordinate codes to
    * `floor((x − mn) · 255 / (mx − mn))` — the storage-compression
    * step (4 B float → 1 B code) a 100 TB embedding store applies
    * before PQ/ANN indexing. Declared surface = the per-dimension
    * calibration row (range endpoints, code mass, saturation counts),
    * which is what an operator actually inspects to validate the
    * quantizer; the per-vector code tensor is intermediate.
    *
    * Plan shape: one narrow explode pass → 64-group min/max hash
    * aggregate (map-side combined; the 64-row grid broadcasts back);
    * a second streaming pass codes every coordinate and collapses to
    * the same 64 groups map-side. Nothing vector-sized shuffles.
    * Parity: min/max are SELECTION on exactly-cast doubles (no
    * arithmetic); the code expression is one fixed tree of double
    * sub/mul/div with an integer floor — no reassociation, no
    * rounding-mode edge (floor, not HALF_UP round), identical in
    * both engines. */
  def qScalarQuant(spark: SparkSession, d: String): DataFrame = {
    val xs = withNorm(spark, Tables.embeddings(spark, d))
      .select(col("vec_id"), posexplode(col("e")).as(Seq("dim", "x")))
    val grid = xs.groupBy("dim")
      .agg(min("x").as("mn"), max("x").as("mx"))
    xs.join(broadcast(grid), Seq("dim"))
      .withColumn("code", expr(
        """CAST(CASE WHEN mx = mn THEN 0
          |     ELSE floor((x - mn) * CAST(255.0 AS DOUBLE) / (mx - mn)) END AS INT)""".stripMargin))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vals"),
        round(min("mn"), 4).as("mn_r"), round(max("mx"), 4).as("mx_r"),
        sum(col("code")).cast("long").as("sum_code"),
        sum(when(col("code") === 0, 1).otherwise(0)).cast("long").as("n_lo"),
        sum(when(col("code") === 255, 1).otherwise(0)).cast("long").as("n_hi"))
      .orderBy("dim")
  }

  /** MMR (maximal-marginal-relevance) diversity re-ranking: for each
    * probe, greedily pick 4 of its top-8 cosine candidates maximizing
    * `λ·relevance − (1−λ)·max-similarity-to-already-picked` (λ = ½) —
    * the canonical redundancy-aware selection step retrieval and
    * training-data curation run AFTER a similarity search (diverse
    * few-shot examples, diverse RAG context, dedup-aware eval picks).
    *
    * Scale shape: the expensive part is candidate generation, which is
    * the already-bounded top-k path (corpus streams past broadcast
    * probes, TopKAggregator collapses map-side). Everything after
    * operates on |probes| × k rows — checkpointed once, then 4 greedy
    * rounds of trivial joins on that tiny frame; candidate-pair
    * similarity is k² per probe, computed once. The greedy recurrence
    * is inherently sequential in its picks (each penalty depends on
    * the previous pick), so the iteration count is k − fixed and
    * small — not a scan count: the corpus is touched exactly twice
    * (top-k scoring + candidate vector fetch).
    *
    * Parity: rel and sim are vec_dot left-folds (bit-identical IEEE
    * doubles in both engines); the score is one fixed tree
    * `0.5·rel − 0.5·coalesce(mx, 0.0)`; picks are argmax with
    * vec_id tiebreak — selection-only on identical doubles. Oracle =
    * the same greedy unrolled as 4 generated CTE steps (the
    * q_pagerank pattern). */
  def qMmrRerank(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val probes = v.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("e").as("ea"), col("nrm").as("na"))
    val corpus = v.select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb"))
    val scored = corpus.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("rel", expr(s"$dot / (na * nb)"))
    val cands = scored.select(col("probe_id"), col("rel"), col("vec_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.TopKAggregator[(Long, Double, Long)](
        8, r => (r._2, r._3)).toColumn.name("topk"))
      .toDF("probe_id", "topk")
      .select(col("probe_id"), explode(col("topk")).as("t"))
      .select(col("probe_id"), col("t._2").as("vec_id"), col("t._1").as("rel"))
      .localCheckpoint() // |probes| × 8 rows
    val ce = cands.join(v.select(col("vec_id"), col("e"), col("nrm")), "vec_id")
    val sims = ce.select(col("probe_id"), col("vec_id").as("va"),
        col("e").as("ea"), col("nrm").as("na"))
      .join(ce.select(col("probe_id"), col("vec_id").as("vb"),
        col("e").as("eb"), col("nrm").as("nb")), Seq("probe_id"))
      .filter(col("va") =!= col("vb"))
      .select(col("probe_id"), col("va"), col("vb"),
        expr("vec_dot(ea, eb) / (na * nb)").as("sim"))
      .localCheckpoint() // |probes| × 8 × 7 rows
    var selected = cands
      .select(col("probe_id"), col("vec_id"), col("rel"),
        lit(0.0).as("score"), lit(0L).as("rk"))
      .filter(lit(false)).localCheckpoint()
    for (step <- 1 to 4) {
      val remaining = cands
        .join(selected.select("probe_id", "vec_id"), Seq("probe_id", "vec_id"), "left_anti")
      val pen = sims
        .join(selected.select(col("probe_id"), col("vec_id").as("vb")), Seq("probe_id", "vb"))
        .groupBy(col("probe_id"), col("va").as("vec_id"))
        .agg(max("sim").as("mx"))
      val pick = remaining.join(pen, Seq("probe_id", "vec_id"), "left")
        .withColumn("score",
          lit(0.5) * col("rel") - lit(0.5) * coalesce(col("mx"), lit(0.0)))
        .groupBy("probe_id")
        .agg(max_by(struct(col("vec_id"), col("rel"), col("score")),
          struct(col("score"), (-col("vec_id")).as("neg"))).as("w"))
        .select(col("probe_id"), col("w.vec_id"), col("w.rel"),
          col("w.score"), lit(step.toLong).as("rk"))
      // checkpointed per step: each round references `selected` twice
      // (anti-join + penalty join), so an un-checkpointed union re-runs
      // every earlier round's subplan ~2× per step — measured 2.8 s vs
      // 1.3 s at sf0.1 against paying the 4 tiny materialization jobs.
      selected = selected.union(pick).localCheckpoint()
    }
    selected.select(col("probe_id"), col("rk"), col("vec_id"),
        round(col("rel"), 4).as("rel_r"), round(col("score"), 4).as("mmr_score"))
      .orderBy("probe_id", "rk")
  }

  /** Generated unrolled-greedy oracle for qMmrRerank (the q_pagerank
    * generated-CTE pattern): step i selects the argmax of
    * 0.5·rel − 0.5·coalesce(max-sim-to-picked, 0) among unpicked
    * candidates, ties to the lower vec_id. */
  private[graft] def mmrOracleSql: String = {
    val steps = (1 to 4).map { i =>
      val pre =
        if (i == 1) s"pre1 AS (SELECT probe_id, vec_id FROM cand WHERE 1 = 0)"
        else s"pre$i AS (${(1 until i).map(j => s"SELECT probe_id, vec_id FROM sel$j")
          .mkString(" UNION ALL ")})"
      s"""$pre,
         |pen$i AS (
         |  SELECT s.probe_id, s.va AS vec_id, max(s.sim) AS mx
         |  FROM sims s JOIN pre$i p ON s.probe_id = p.probe_id AND s.vb = p.vec_id
         |  GROUP BY s.probe_id, s.va),
         |sel$i AS (
         |  SELECT probe_id, vec_id, rel, score, $i AS rk FROM (
         |    SELECT c.probe_id, c.vec_id, c.rel,
         |      0.5 * c.rel - 0.5 * coalesce(p.mx, CAST(0.0 AS DOUBLE)) AS score,
         |      row_number() OVER (PARTITION BY c.probe_id
         |        ORDER BY 0.5 * c.rel - 0.5 * coalesce(p.mx, CAST(0.0 AS DOUBLE)) DESC,
         |                 c.vec_id) AS rn
         |    FROM cand c
         |    LEFT JOIN pen$i p ON p.probe_id = c.probe_id AND p.vec_id = c.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM pre$i q
         |      WHERE q.probe_id = c.probe_id AND q.vec_id = c.vec_id))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
       |  FROM embeddings),
       |n AS (SELECT vec_id, e, sqrt(list_sum([x * x for x in e])) AS nrm FROM v),
       |sc AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |    list_sum([p.e[i] * c.e[i] for i in range(1, len(p.e) + 1)])
       |      / (p.nrm * c.nrm) AS rel
       |  FROM n p JOIN n c ON p.vec_id < 3 AND c.vec_id <> p.vec_id),
       |cand AS (
       |  SELECT probe_id, vec_id, rel FROM (
       |    SELECT sc.*, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY rel DESC, vec_id) AS rn FROM sc)
       |  WHERE rn <= 8),
       |sims AS (
       |  SELECT a.probe_id, a.vec_id AS va, b.vec_id AS vb,
       |    list_sum([na.e[i] * nb.e[i] for i in range(1, len(na.e) + 1)])
       |      / (na.nrm * nb.nrm) AS sim
       |  FROM cand a JOIN cand b
       |    ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id
       |  JOIN n na ON na.vec_id = a.vec_id
       |  JOIN n nb ON nb.vec_id = b.vec_id),
       |$steps
       |SELECT probe_id, CAST(rk AS BIGINT) AS rk, vec_id,
       |  round(rel, 4) AS rel_r,
       |  round(score, 4) AS mmr_score
       |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
       |      UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4)
       |ORDER BY probe_id, rk""".stripMargin
  }

  /** Label-noise audit (Confident-Learning shape): every vector is
    * re-classified by the majority label of its 5 nearest neighbors
    * WITH ITSELF LEFT OUT, and the (true, predicted) confusion matrix
    * is the declared output — off-diagonal mass is the mislabeled-
    * example candidate pool a data-cleaning pass reviews. Candidates
    * come from the multi-probe IVF buckets (nprobe = 2, the
    * qEmbedNeardup path) so the all-pairs kNN never exists; the
    * per-vector top-5 is the bounded TopKAggregator keyed by VECTOR
    * (corpus-many keys — the scalable window orientation); the
    * majority vote is a hash aggregate with ties to the smaller
    * label. At 100 TB this is exactly an IVF-accelerated kNN
    * self-audit: shuffle ∝ candidates within buckets, output ∝
    * |labels|².
    *
    * PLAN SELECTION (the r10 dup-factor gate): the duplicate-collapse
    * plan below is linear on duplicate-heavy corpora but costs ~12
    * extra stages; on a duplicate-FREE corpus the member-level plan is
    * both simpler and faster (2.2–2.8 s vs 3.9 s at sf0.1). A 1-row
    * scalar probe — count vs count-distinct of a 64-bit content hash —
    * picks the plan. Hash collisions can only UNDERCOUNT distincts,
    * i.e. falsely route a duplicate-free corpus to the collapse plan
    * (correct, just slower); they can never hide a real duplicate
    * (identical content ⇒ identical hash), so the fast shallow plan is
    * taken only when duplicates provably don't exist. Both plans are
    * oracle-identical by construction (the r9 adversarial fixtures pin
    * collapse ≡ naive; SimilaritySpec pins member-level ≡ collapse on a
    * duplicate-free corpus). The same probe row carries min/max(label)
    * so the collapse path's mid = vec_id·16 + label packing fails
    * loudly on labels outside [0, 16) instead of silently corrupting
    * tie-break order (collapse-only concern: the shallow plan never
    * packs). */
  def qLabelAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val v = withNorm(spark, Tables.embeddings(spark, d))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("e"), col("nrm")).persist()
    // shared session-cached 1-row probe: dup factor + label domain
    // (one probe job across the embedding family)
    val probe = Probes.embeddings(spark, d)
    if (probe.contentDupFree) labelAuditMemberLevel(spark, d, v)
    else {
      require(probe.minLabel.exists(_ >= 0L) && probe.maxLabel.exists(_ < 16L),
        s"qLabelAudit duplicate-collapse packs mid = vec_id*16 + label and " +
          s"requires labels in [0, 16); corpus has [${probe.minLabel.orNull}, " +
          s"${probe.maxLabel.orNull}]")
      labelAuditCollapsed(spark, d, v)
    }
  }

  /** Member-level kNN audit plan — taken when the dup-factor probe
    * proves the corpus duplicate-free (the pre-r9 shape: IVF bucket
    * candidates → bounded top-5 → majority vote, all at vector
    * granularity). */
  private[graft] def labelAuditMemberLevel(
      spark: SparkSession, d: String, v: DataFrame): DataFrame = {
    val asg = ivfAssignedK(spark, d, nprobe = 2).persist()
    val cand = asg.select(col("cluster"), col("vec_id").as("probe_id"))
      .join(asg.select(col("cluster"), col("vec_id")), Seq("cluster"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select("probe_id", "vec_id").distinct()
    val scored = cand
      .join(v.select(col("vec_id").as("probe_id"), col("e").as("ea"),
        col("nrm").as("na")), "probe_id")
      .join(v.select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb")),
        "vec_id")
      .withColumn("cos", expr(s"$dot / (na * nb)"))
    val top5 = probeTopK(spark, scored, 5).select("probe_id", "vec_id")
    val pred = v.select(col("vec_id"), col("label"))
      .join(top5, Seq("vec_id"))
      .groupBy("probe_id", "label").agg(count(lit(1)).as("votes"))
      .groupBy("probe_id")
      .agg(max_by(col("label"),
        struct(col("votes"), (-col("label")).as("neg_label"))).as("pred_label"))
    pred
      .join(v.select(col("vec_id").as("probe_id"), col("label").as("true_label")),
        Seq("probe_id"))
      .groupBy(col("true_label").cast("long").as("true_label"),
        col("pred_label").cast("long").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  private[graft] def labelAuditCollapsed(
      spark: SparkSession, d: String, v: DataFrame): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE (the r9 rework, the q_gnn_aggregate
    // geometry applied to kNN): cosine, IVF assignment, and therefore
    // the whole candidate structure are CONTENT-determined, so the
    // quadratic within-bucket pair stage runs over DISTINCT embedding
    // content and every member inherits its group's ranking. What is
    // NOT shared per member is the self-exclusion (each vector leaves
    // ITSELF out of its top-5) and the true label — both recovered
    // exactly from a BOUNDED per-group state: the 6 smallest-vec_id
    // members (the k smallest of a union are always within each set's
    // k smallest, so per-group prefix-6 lists reconstruct the global
    // (cos DESC, vec_id ASC) top-6 under any tie structure, and top-5
    // after removing at most one self entry is always inside the
    // pre-exclusion top-6) plus a per-label member histogram for the
    // tail (members beyond the prefix are never in anyone's top-6, so
    // they share one no-exclusion prediction and contribute by label
    // count). Pair volume at the K=10 probe drops from K²-quadratic to
    // the duplicate-free corpus's — measured 85.5 s → seconds — and on
    // a duplicate-free corpus the collapse costs one extra map-side
    // hash aggregate. Member encoding: mid = vec_id·16 + label
    // (labels < 16 — guarded by the 1-row probe in qLabelAudit), so
    // (cos DESC, mid ASC) ≡ the oracle's (cs DESC, vec_id ASC) and
    // both fields ride one bounded TopK.
    import spark.implicits._
    val groups = v.groupBy("e")
      .agg(min("vec_id").as("gid"), count(lit(1)).as("g"))
      .withColumn("nrm", expr("sqrt(vec_dot(e, e))"))
      .persist()
    // bounded per-group member prefix: 6 smallest vec_ids with labels
    // (score −vec_id keeps vec_id ASC under the TopK's DESC order;
    // vec_ids are exact in double far past any fixture scale)
    val prefix6 = v.select(col("e"), col("vec_id"), col("label"))
      .as[(Seq[Double], Long, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.TopKAggregator[(Seq[Double], Long, Long)](
        6, r => (-r._2.toDouble, r._2 * 16 + r._3)).toColumn.name("pfx"))
      .toDF("e", "pfx")
      .withColumn("pg", expr("pfx[0]._2 div 16")) // smallest vec_id IS the gid
      .select("pg", "pfx")
    // content-level nprobe=2 IVF assignment (ivfAssignedK's recipe over
    // group reps; centroids are the raw vec_id<8 member vectors)
    val centroids = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("e").as("ea"), col("nrm").as("na"))
    val asg = groups.select(col("gid"), col("e").as("eb"), col("nrm").as("nb"))
      .join(broadcast(centroids), lit(true))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .groupBy("gid")
      .agg(collect_list(
        struct((-col("cos")).as("neg_cos"), col("centroid_id"))).as("cands"))
      .select(col("gid"),
        explode(slice(sort_array(col("cands")), 1, 2)).as("c"))
      .select(col("gid"), col("c.centroid_id").as("cluster"))
    // group-level candidate pairs: share ≥1 probed cluster; the
    // self-pair stands for a member's g−1 co-duplicates, so it exists
    // only for groups of ≥2
    val pairs = asg.select(col("gid").as("pg"), col("cluster"))
      .join(asg.select(col("gid").as("cg"), col("cluster")), Seq("cluster"))
      .select("pg", "cg").distinct()
      .join(groups.select(col("gid").as("cg"), col("g").as("cg_g")), Seq("cg"))
      .filter(col("pg") =!= col("cg") || col("cg_g") > 1)
      .select("pg", "cg")
    // one cosine per group pair — the same vec_dot expression the
    // member-level form evaluates, so self-pairs score exactly what
    // the oracle computes for duplicate members (not an assumed 1.0)
    val scored = pairs
      .join(groups.select(col("gid").as("pg"), col("e").as("ea"),
        col("nrm").as("na")), Seq("pg"))
      .join(groups.select(col("gid").as("cg"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("cg"))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .select("pg", "cg", "cos")
    // global top-6 candidate entries per probe group, reconstructed
    // from the candidate groups' prefix-6 member lists
    val top6 = scored
      .join(prefix6.withColumnRenamed("pg", "cg"), Seq("cg"))
      .select(col("pg"), col("cos"), explode(col("pfx")).as("m"))
      .select(col("pg"), col("cos"), col("m._2").as("mid"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.TopKAggregator[(Long, Double, Long)](
        6, r => (r._2, r._3)).toColumn.name("top"))
      .toDF("pg", "top")
    val gmeta = top6.join(prefix6, Seq("pg"))
    // per-prefix-member scenario: drop the member's own entry if it
    // made the top-6, vote over the remaining top-5 (majority, ties to
    // the smaller label — a codegen'd array fold, no row explosion)
    val voteExpr = "-array_max(transform(array_distinct(labels), " +
      "l -> struct(size(filter(labels, x -> x = l)) AS v, -l AS nl))).nl"
    val scenPrefix = gmeta
      .select(col("pg"), col("top"), explode(col("pfx")).as("p"))
      .select(col("pg"), col("top"), col("p._2").as("pmid"))
      .withColumn("pvid", expr("pmid div 16"))
      .withColumn("true_label", expr("pmid % 16"))
      .withColumn("top5",
        expr("slice(filter(top, t -> t._2 div 16 != pvid), 1, 5)"))
      .withColumn("w", lit(1L))
      .select("pg", "true_label", "w", "top5")
    // tail members (beyond the prefix, only in groups of >6): never in
    // any top-6, so no exclusion applies — one shared prediction,
    // weighted by the per-label histogram of the non-prefix members
    val histG = v.groupBy("e", "label").agg(count(lit(1)).as("n"))
      .join(groups.select(col("e"), col("gid").as("pg")), Seq("e"))
      .select("pg", "label", "n")
    val prefixLabelN = prefix6
      .select(col("pg"), explode(col("pfx")).as("p"))
      .groupBy(col("pg"), expr("p._2 % 16").as("label"))
      .agg(count(lit(1)).as("np"))
    val tailHist = histG
      .join(prefixLabelN, Seq("pg", "label"), "left")
      .withColumn("w", col("n") - coalesce(col("np"), lit(0L)))
      .filter(col("w") > 0)
      .select(col("pg"), col("label").as("true_label"), col("w"))
    val scenTail = top6
      .withColumn("top5", expr("slice(top, 1, 5)"))
      .join(tailHist, Seq("pg"))
      .select("pg", "true_label", "w", "top5")
    scenPrefix.union(scenTail)
      .withColumn("labels", expr("transform(top5, t -> t._2 % 16)"))
      .withColumn("pred_label", expr(voteExpr))
      .groupBy(col("true_label").cast("long").as("true_label"),
        col("pred_label").cast("long").as("pred_label"))
      .agg(sum("w").as("n"))
      .orderBy("true_label", "pred_label")
  }

  /** One message-passing round (GraphSAGE mean-aggregation layer) over
    * the spatial neighbor graph: each node's aggregated message is the
    * per-dimension sum of its neighbors' embeddings plus the neighbor
    * count — the consumer divides (the q_kmeans_step lesson: no
    * derived double enters the checked surface; sums ship as exact
    * decimal STRINGS). The layer is a join + hash aggregate: edges ×
    * dims explode map-side and collapse by (node, dim) before the
    * shuffle, so bytes moved ∝ nodes × dims, not edges × dims — the
    * same partial-aggregation geometry that makes distributed GNN
    * feature propagation feasible. Graph = qGridNeighbors pairs,
    * symmetrized. */
  def qGnnAggregate(spark: SparkSession, d: String): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE (the r9 rework): a vector's aggregated
    // message is fully determined by its CONTENT — identical embeddings
    // share both neighbor structure (same (x,y) cell, same distances)
    // and per-dim contributions — so the quadratic grid-pair stage runs
    // over DISTINCT content with a multiplicity weight, and members
    // inherit their group's message by one linear join at the end. On a
    // duplicate-free corpus this costs one extra map-side hash
    // aggregate; on a pre-dedup corpus (where a message-passing audit
    // actually runs) it divides the pair volume by the square of the
    // mean duplication factor — measured 48.5 s → ~linear at the K=10
    // probe, whose verbatim replication is exactly such a corpus.
    // Exactness is preserved: the oracle sums per-member
    // CAST(x AS DECIMAL(18,6)) terms, and w identical terms sum to
    // w × the term exactly in scaled-integer decimal arithmetic.
    val r2 = 0.04 * 0.04
    val v = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val groups = v.groupBy("embedding")
      .agg(min("vec_id").as("gid"), count(lit(1)).as("g"))
      .withColumn("x", element_at(col("embedding"), 1).cast("double"))
      .withColumn("y", element_at(col("embedding"), 2).cast("double"))
      .withColumn("cx", floor(col("x") / 0.05))
      .withColumn("cy", floor(col("y") / 0.05))
      // r12 perf: the per-dim contribution quantizes to DECIMAL(18,6)
      // (the oracle's cast) ONCE per distinct embedding, carried as a
      // scaled int64 (×10⁶) so the pair fan-out and the (dst, dim)
      // aggregate run entirely on primitive longs — the decimal(38,6)
      // multiply-accumulate per (pair × dim) was the query's hot stage
      // (24 CPU·s / 56 MB shuffle of 16-byte decimals at sf0.1). The
      // decimal value is refit EXACTLY at output (see msg_sum below).
      // Magnitude ceiling: |Σ w·xs| ≤ Σw·10⁶·|x| — int64-safe while a
      // group's total neighbor multiplicity stays < ~9e12, far beyond
      // any physical grid-cell density (documented, like qKsTest's).
      .withColumn("esc", expr(
        "transform(embedding, v -> cast(cast(cast(v as double) " +
          "as decimal(18,6)) * 1000000 as bigint))"))
      .persist() // consumers: probe side, src side, self term, member map
    // Directed rep-level grid edges dst ← src (same h=0.05 cell
    // geometry as qGridNeighbors; src's home cell is unique, so each
    // directed group pair matches exactly once — no distinct needed).
    val probes = groups
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("gid").as("dst"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("dx")).as("tcx"), (col("cy") + col("dy")).as("tcy"))
    val ext = probes
      .join(groups.select(col("gid").as("src"), col("x").as("xb"),
          col("y").as("yb"), col("cx"), col("cy"), col("g").as("w"),
          col("esc").as("e")),
        col("tcx") === col("cx") && col("tcy") === col("cy") &&
          col("dst") =!= col("src"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) < r2)
      .select(col("dst"), col("w"), col("e"))
    // Within-group term: each member's g−1 co-duplicates are neighbors
    // at distance 0 (an inner-join row source of its own, so members of
    // a ≥2 group emit even with no external neighbors).
    val self = groups.filter(col("g") > 1)
      .select(col("gid").as("dst"), (col("g") - 1).as("w"),
        col("esc").as("e"))
    // join WHOLE vectors (one probe per group edge), THEN explode to
    // dims — same geometry lesson as the r8 form, now at group scale.
    // The sums are pure int64 (scaled ×10⁶); msg_sum refits the exact
    // DECIMAL(38,6) the oracle's sum produces: DECIMAL(38,0) × the
    // exact literal 0.000001 (DECIMAL(6,6)) is lossless (scale 6,
    // 32 integral digits of headroom) and prints identically.
    val msgs = ext.union(self)
      // repartition the COMPACT pair rows by dst before the ×dims
      // explode: the (dst, dim) aggregate's clustering is satisfied by
      // hash(dst), so the exchange moves one array per pair instead of
      // dims partially-collapsed rows per pair (~8× fewer bytes), and
      // the aggregate collapses fully in place (output = groups × dims)
      .repartition(col("dst"))
      .select(col("dst"), col("w"), posexplode(col("e")).as(Seq("dim", "xs")))
      .groupBy(col("dst"), col("dim").cast("long").as("dim"))
      .agg(sum(col("w")).as("n_neighbors"),
        sum(col("xs") * col("w")).as("ss"))
      .withColumn("msg_sum", expr(
        "cast(cast(ss as decimal(38,0)) * cast(0.000001 as decimal(6,6)) as string)"))
    val members = v
      .join(groups.select(col("embedding"), col("gid")), Seq("embedding"))
      .select(col("vec_id"), col("gid").as("dst"))
    msgs.join(members, Seq("dst"))
      .select(col("vec_id"), col("dim"), col("n_neighbors"), col("msg_sum"))
      .orderBy("vec_id", "dim")
  }

  /** Spatial grid-neighbor join over the first two embedding
    * dimensions: all point pairs within L2 radius r = 0.04, found by
    * bucketing the plane into h = 0.05 cells (h ≥ r guarantees every
    * qualifying pair shares a cell or touches adjacent cells). Each
    * point is replicated to its 3×3 cell neighborhood on the PROBE
    * side only and equi-joined against points keyed by home cell —
    * a pair (a,b) matches exactly once (b's home cell is unique), so
    * no distinct pass is needed. This is the canonical way a spatial
    * self-join scales: shuffle is hash(cell), candidate count is
    * bounded by local density × 9, and the O(n²) cross join never
    * exists in the plan (PlanQualitySpec sweeps it). The exact
    * distance check runs residually on candidates, in double — both
    * engines evaluate the identical IEEE expression, so the r²
    * boundary is bit-stable. */
  def qGridNeighbors(spark: SparkSession, d: String): DataFrame = {
    val r2 = 0.04 * 0.04
    val pts = Tables.embeddings(spark, d).select(
      col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
      .withColumn("cx", floor(col("x") / 0.05))
      .withColumn("cy", floor(col("y") / 0.05))
      .persist()
    val probes = pts
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("vec_id").as("vec_a"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("dx")).as("tcx"), (col("cy") + col("dy")).as("tcy"))
    probes
      .join(pts.select(col("vec_id").as("vec_b"), col("x").as("xb"),
          col("y").as("yb"), col("cx"), col("cy")),
        col("tcx") === col("cx") && col("tcy") === col("cy") &&
          col("vec_a") < col("vec_b"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) < r2)
      .select("vec_a", "vec_b")
      .orderBy("vec_a", "vec_b")
  }

  /** Per-vector spatial degree under qGridNeighbors' exact geometry
    * (L2 radius 0.04, h = 0.05 cells, 3×3 probe replication) — the
    * shared subplan of the two OUTPUT-BOUNDED grid companions below.
    * The candidate pair stream exists only transiently inside a hash
    * aggregate keyed by the probe vector: partial aggregation collapses
    * it map-side, so at most ONE row per vector per input partition
    * enters the shuffle regardless of local density — unlike
    * qGridNeighbors, whose RESULT is the pair set and therefore grows
    * K² on a K-replicated corpus (the r9 scaling report's one
    * adjudicated output-bound flag). Isolated vectors (degree 0) are
    * recovered by a left join back to the point set. */
  private def gridDegrees(spark: SparkSession, d: String): DataFrame = {
    // LOCATION COLLAPSE (r10, after the first K=30 scaling report): a
    // vector's degree is fully determined by its (x, y) — co-located
    // points share external neighbors and add (multiplicity − 1)
    // internal ones — so the 3×3 candidate join runs over DISTINCT
    // locations with a multiplicity weight, making join volume
    // independent of the duplication factor (the member-level form's
    // join produced K² candidate rows on a K-replicated corpus:
    // measured 12×/8.5× time for 3× data at the K=30 tier, now ~3×).
    // Returns LOCATION-level rows (cell, w, deg); consumers aggregate
    // with the weight — no member expansion ever exists.
    //
    // PLAN SELECTION (r11, the qLabelAudit dup-factor gate): on a
    // corpus with all-distinct locations the groupBy adds a full
    // shuffle for nothing — a 1-row probe (count vs count-distinct of
    // a 64-bit location hash) skips it and feeds the shared downstream
    // with w = 1. Hash collisions only undercount distincts, i.e. can
    // only route a duplicate-free corpus to the collapse (correct,
    // slower); a real co-location always hashes identically, so the
    // w = 1 shape runs only when multiplicities provably are all 1.
    val r2 = 0.04 * 0.04
    val raw = Tables.embeddings(spark, d).select(
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    // shared session-cached 1-row probe: co-location factor (one probe
    // job across the embedding family)
    val located =
      if (Probes.embeddings(spark, d).xyDupFree) raw.withColumn("w", lit(1L))
      else raw.groupBy("x", "y").agg(count(lit(1)).as("w"))
    val pts = located
      .withColumn("cx", floor(col("x") / 0.05))
      .withColumn("cy", floor(col("y") / 0.05))
      .persist()
    val probes = pts
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("dx")).as("tcx"), (col("cy") + col("dy")).as("tcy"))
    val ext = probes
      .join(pts.select(col("x").as("xb"), col("y").as("yb"),
          col("cx"), col("cy"), col("w").as("wb")),
        col("tcx") === col("cx") && col("tcy") === col("cy") &&
          (col("xa") =!= col("xb") || col("ya") =!= col("yb")))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) < r2)
      .groupBy(col("xa").as("x"), col("ya").as("y"))
      .agg(sum("wb").as("ext"))
    // degree = external neighbors + (w − 1) co-located duplicates
    // (distance 0 < r); shared by every member of the location
    pts.join(ext, Seq("x", "y"), "left")
      .select(col("cx"), col("cy"), col("w"),
        (coalesce(col("ext"), lit(0L)) + col("w") - 1).as("deg"))
  }

  /** Per-cell neighbor statistics — the output-bounded companion to
    * qGridNeighbors for the user who wants density/degree structure,
    * not the pair set itself: rows ∝ occupied cells, never pairs. */
  def qGridNeighborStats(spark: SparkSession, d: String): DataFrame = {
    gridDegrees(spark, d)
      .groupBy("cx", "cy")
      .agg(sum("w").as("n_pts"),
        sum(col("deg") * col("w")).as("deg_sum"),
        max("deg").as("deg_max"),
        sum(when(col("deg") === 0, col("w")).otherwise(lit(0L))).as("n_isolated"))
      .orderBy("cx", "cy")
  }

  /** Spatial degree histogram: how many vectors have exactly d
    * neighbors within the radius — rows ∝ distinct degrees (bounded by
    * the max local density), the other output-bounded reading of the
    * grid graph. */
  def qDegreeHistogram(spark: SparkSession, d: String): DataFrame = {
    gridDegrees(spark, d)
      .groupBy(col("deg").as("degree"))
      .agg(sum("w").as("n_vecs"))
      .orderBy("degree")
  }

  /** All-pairs brute-force near-dup — O(n²), NOT a declared query: it
    * exists as the ground truth `qEmbedNeardup`'s recall is measured
    * against (SimilaritySpec). */
  private[graft] def embedNeardupBrute(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val a = v.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .filter(col("cos") >= 0.45)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** IVF cell-balance audit: per-cluster population, corpus share,
    * and load factor vs perfect balance (10⁶ = ideal, k·n/N scaled) —
    * the index-health table that predicts tail latency (a 3× hot cell
    * makes every probe touching it 3× slower; rebalancing/splitting
    * triggers off exactly this report). Reuses the declared
    * assignment ([[ivfAssigned]]); the audit itself is one k-row
    * aggregate plus a 1-row total broadcast. */
  def qIvfBalance(spark: SparkSession, d: String): DataFrame = {
    val sizes = ivfAssigned(spark, d)
      .groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
    val total = sizes.agg(sum("n_vecs").cast("long").as("n_total"),
      count(lit(1)).as("k"))
    sizes.crossJoin(broadcast(total)) // 1-row totals (PlanQualitySpec-allowlisted)
      .withColumn("share_ppm", expr("(n_vecs * 1000000) div n_total"))
      .withColumn("load_ppm", expr("(n_vecs * k * 1000000) div n_total"))
      .select("cluster", "n_vecs", "share_ppm", "load_ppm")
      .orderBy("cluster")
  }

  /** IVF assignment-margin audit: per cluster, how decisively its
    * members chose it — margin = cos(best centroid) − cos(second
    * best). A thin average margin means the cell boundary cuts
    * through dense data and single-probe recall will be poor there
    * (the per-cell companion to the global q_ann_recall number, and
    * the signal that picks WHICH cells need nprobe>1 or a re-train).
    * The per-vector top-2 is a map-side sort of the constant 8-entry
    * (−cos, centroid) array — the ivfAssignedK shape, no window over
    * the expanded corpus; the average is decimal-pinned. */
  /** Label-separability audit: the pairwise cosine between per-label
    * embedding CENTROIDS — the class-confusability matrix a labeled
    * training corpus is triaged with (two labels whose centroids sit
    * at cos ≥ ~0.9 are either synonyms to merge or a labeling-noise
    * hotspot for [[qKnnClassify]]'s noise audit to drill into; a label
    * whose nearest neighbor is far is safely separable). Centroid
    * parity uses [[qEmbedOutliers]]' exact recipe: per-dim means from
    * DECIMAL(18,6) sums routed through a STRING before the double
    * cast, reassembled in dim order so the vec_dot fold sees identical
    * operands in identical order on both engines.
    *
    * Scale shape: the corpus collapses to |labels|×|dims| rows in one
    * aggregate — the pairwise grid is |labels|² (≤100 here, ≤ a few
    * thousand for any real label set), a broadcast enumeration that
    * never touches corpus-sized data again. */
  def qLabelSeparability(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val comp = v.select(col("label"), posexplode(col("e")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg((sum(col("x").cast("decimal(18,6)")).cast("string").cast("double")
        / count(lit(1))).as("m"))
    val cent = comp.groupBy("label")
      .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("label"), expr("transform(dm, s -> s.m)").as("c"))
      .withColumn("cn", expr("sqrt(vec_dot(c, c))"))
      .join(v.groupBy("label").agg(count(lit(1)).as("n_vecs")), "label")
    val a = cent.select(col("label").cast("long").as("label_a"),
      col("c").as("ca"), col("cn").as("cna"), col("n_vecs").as("n_a"))
    val b = cent.select(col("label").cast("long").as("label_b"),
      col("c").as("cb"), col("cn").as("cnb"), col("n_vecs").as("n_b"))
    // |labels|² centroid grid (PlanQualitySpec-allowlisted enumeration)
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .withColumn("cent_cos", round(expr("vec_dot(ca, cb) / (cna * cnb)"), 4))
      .select("label_a", "label_b", "n_a", "n_b", "cent_cos")
      .orderBy("label_a", "label_b")
  }

  def qIvfMargin(spark: SparkSession, d: String): DataFrame = {
    val v = withNorm(spark, Tables.embeddings(spark, d))
    val centroids = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("e").as("ea"), col("nrm").as("na"))
    val corpus = v.select(col("vec_id"), col("e").as("eb"), col("nrm").as("nb"))
    corpus.join(broadcast(centroids), lit(true))
      .withColumn("cos", expr(s"$dot / (na * nb)"))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(struct((-col("cos")).as("nc"),
        col("centroid_id")))).as("ranked"))
      .select(col("vec_id"), col("ranked")(0).getField("centroid_id").as("cluster"),
        (col("ranked")(1).getField("nc") - col("ranked")(0).getField("nc")).as("margin"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("margin").cast("decimal(18,12)")).cast("double") / count(lit(1)))
          .as("avg_margin"),
        min_by(col("vec_id"), struct(col("margin"), col("vec_id"))).as("edge_vec"),
        min("margin").as("min_margin"))
      .select("cluster", "n_vecs", "avg_margin", "min_margin", "edge_vec")
      .orderBy("cluster")
  }
}
