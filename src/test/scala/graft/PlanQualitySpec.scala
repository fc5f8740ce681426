package graft

import org.apache.spark.sql.functions._

/** Plan-shape guardrails — the properties that decide whether the
  * engine survives a 100 TB run, asserted against the ACTUAL physical
  * plans so a regression (a lost pushdown, an accidental cartesian)
  * fails CI instead of surfacing as a cluster fire.
  */
class PlanQualitySpec extends SparkSpec {

  test("filter pushdown and column pruning reach the parquet scan") {
    val plan = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .select("event_id", "event_type")
      .queryExecution.executedPlan.toString
    // the predicate lands in the scan, not a Filter above it
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"),
      s"filter not pushed:\n$plan")
    // the scan reads ONLY the projected columns — ts (rewritten by the
    // nanos shim in Tables.events) is pruned away when unused
    assert(plan.contains("ReadSchema: struct<event_id:bigint,event_type:string>"),
      s"columns not pruned:\n$plan")
  }

  /** Queries whose physical plan legitimately contains a
    * BroadcastNestedLoopJoin: in every case the broadcast side is
    * constant-size by construction (config dims, k centroids/
    * hyperplanes/probes, or a 1-row corpus count), so the "nested
    * loop" is a map-side constant expansion, not an n² join. */
  private val nestedLoopAllowed = Set(
    "q_cross_dims",        // region × nation × literal dims (the reference's enumeration)
    "q_acquisition_plan",  // same dim cross product feeding the flagship plan
    "q_cosine_topk",       // probes (5 rows) broadcast against the corpus
    "q_knn_classify",      // probes (10 rows) broadcast against the corpus
    "q_bm25",              // 1-row corpus stats (N, Σdl) broadcast
    "q_hybrid_rank",       // composes q_bm25 — same 1-row stats broadcast
    "q_rbo_overlap",       // composes q_bm25 — same 1-row stats broadcast
    "q_daily_anomaly",     // 1-row day-volume moment stats broadcast
    "q_ann_ivf",           // centroids (8) broadcast for assignment
    "q_ann_ivfpq",         // same centroid broadcast in the IVF half
    "q_ann_lsh",           // hyperplanes (16) broadcast for signatures
    "q_embed_neardup",     // multi-probe assignment, same centroid broadcast
    "q_kmeans_step",       // assignment step, same centroid broadcast
    "q_kmeans_train",      // Lloyd rounds, same centroid broadcast per round
    "q_tfidf",             // 1-row corpus count N broadcast
    "q_perplexity_proxy",  // 1-row total-token count broadcast
    "q_vocab_coverage",    // 1-row total-token count broadcast
    "q_pmi_bigrams",       // 1-row totals broadcast
    "q_mix_weights",       // 1-row (total_chars, n_sources) broadcast
    "q_upsample_plan",     // same 1-row mixture total broadcast
    "q_vocab_drift",       // 1-row corpus token total broadcast
    "q_freshness",         // 1-row corpus watermark broadcast
    "q_gap_fill",          // 1-row calendar-bounds broadcast (obs filter + grid)
    "q_skew_profile",      // 1-row key-count total broadcast
    "q_market_basket",     // 1-row basket-universe count broadcast
    "q_label_separability", // |labels|² centroid grid: both sides label-dim-sized (≤10 rows)
    "q_impute",            // 1-row global-median fallback broadcast
    "q_rfm",               // 1-row ref-date + quartile-threshold broadcasts
    "q_curriculum",        // 1-row length-quartile thresholds broadcast
    "q_pareto",            // 1-row decile-threshold + total broadcast
    "q_activity_bitmap",   // 1-row corpus-watermark broadcast
    "q_heavy_hitters",     // 1-row count-min sketch broadcast to the top-10 probes
    "q_dq_audit",          // 1-row audit counters joined to 1-row table totals
    "q_theta_overlap",     // |types|-row sketch table, pairwise inequality join
    "q_zorder_skipping",   // 3-row query boxes × file-count-sized stats tables
    "q_rand_project",      // 16-row ±1 sign matrix broadcast (×16 constant expansion)
    "q_hard_negatives",    // probes (5 rows) broadcast against the corpus
    "q_ann_recall",        // composes q_ann_ivf + q_cosine_topk — same constant broadcasts
    "q_ndcg_eval",         // composes q_ann_ivf + q_cosine_topk — same constant broadcasts
    "q_interleave",        // 1-row source-count broadcast
    "q_bigram_lm",         // 1-row vocabulary-size broadcast
    "q_tpch_dormant",      // 1-row positive-balance (Σbal, n) broadcast (Q22 scalar subquery)
    "q_target_encode",     // 1-row global-prior (Σ, n) broadcast from the per-segment frame
    "q_class_weights",     // 1-row (N, k) totals broadcast from the per-class frame
    "q_benford",           // 1-row digit-total broadcast over the 9-row histogram
    "q_label_audit",       // centroids (8) broadcast for the IVF candidate assignment
    "q_drift_bins",        // 1-row period-totals broadcast over the 10-row bin frame
    "q_dsir_weight",       // 1-row corpus/target gram-total broadcast over the gram table
    "q_ivf_probe_sweep",   // centroids (8) broadcast for assignment (corpus + probe sides)
    "q_vocab_growth",      // 10-row decile-threshold broadcast, theta-joined to prefixes
    "q_detector_agreement", // three 1-row pair-count totals broadcast-crossed
    "q_kl_drift",          // |sources| × top-100 vocab grid + 1-row corpus mass broadcast
    "q_join_card_est",     // per-join 1-row stats/actual-count broadcasts
    "q_decayed_trend",     // 1-row corpus-watermark broadcast
    "q_wau_stickiness",    // ≤|days|-row grid banded-joined to (user, day) pairs
    "q_ivf_balance",       // centroids (8) broadcast for assignment + 1-row totals
    "q_ivf_margin",        // centroids (8) broadcast for the top-2 scoring
    "q_degree_dist",       // 1-row node-count total broadcast
    "q_path_trigrams",     // 1-row trigram total broadcast
    "q_temporal_split",    // 1-row cutoff + 1-row event totals broadcast
    "q_woe_encode",        // 1-row label totals broadcast
    "q_daily_close",       // |users| × observed-day-grid enumeration
    "q_ks_test",           // |sources| × distinct-length grid enumeration (CDF zero-fill)
    "q_mannwhitney",       // |sources| × distinct-length grid enumeration (rank zero-fill)
    "q_bpe_merge",         // 1-row winning-pair broadcast over the vocabulary
    "q_bpe_train3",        // per-round 1-row winning-pair broadcasts over the vocabulary
    "q_bpe_encode",        // same training loop + 1-row pick-triple broadcast to the corpus scan
    "q_js_divergence")     // |sources| × top-100 vocab grid enumeration (zero-fill)

  test("no declared query plans a cartesian product; nested-loop joins only where the broadcast side is constant") {
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      spark.catalog.clearCache() // drop per-query persisted subtrees
      name -> plan
    }
    val cartesian = plans.collect { case (name, plan) if plan.contains("CartesianProduct") => name }
    assert(cartesian.isEmpty, s"CartesianProduct in ${cartesian.mkString(", ")}")
    // Exact equality, both directions, as for the global windows: a
    // retired broadcast must retire its allowlist entry too.
    val nlj = plans.collect { case (name, plan) if plan.contains("BroadcastNestedLoopJoin") => name }.toSet
    val unexpected = nlj -- nestedLoopAllowed
    val stale = nestedLoopAllowed -- nlj
    assert(unexpected.isEmpty && stale.isEmpty,
      s"BroadcastNestedLoopJoin drift — new offenders (document the constant side or fix the plan): " +
        s"${unexpected.toSeq.sorted.mkString(", ")}; stale allowlist entries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("similarity top-k plans use the bounded aggregator, not per-probe window sorts") {
    // A row_number() window partitioned by probe_id shuffles EVERY
    // scored candidate into |probes| reducer partitions and sorts each
    // in a single task — the per-probe top-k must instead collapse
    // map-side via TopKAggregator (≤ k rows per probe per partition
    // enter the shuffle).
    for (name <- Seq("q_cosine_topk", "q_ann_ivf", "q_ann_lsh")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      spark.catalog.clearCache()
      assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window"),
        s"$name still ranks candidates with a window sort:\n$plan")
    }
  }

  /** Queries whose physical plan legitimately contains an
    * UNPARTITIONED window (WindowExec with an empty partitionSpec —
    * Spark warns "Moving all data to a single partition"): acceptable
    * ONLY because the window's input is already collapsed to a dim- or
    * band-bounded aggregate, so the single partition holds tens of
    * rows, not data. The bound is documented per entry; a global
    * window over a FACT-sized stream would be a 100 TB cluster-killer
    * and fails this sweep. */
  private val globalWindowAllowed = Map(
    "q_cumulative_users" -> "|distinct days| rows (per-day first-seen counts)",
    "q_neardup_sweep"    -> "|sim bands| ≤ 11 rows (banded threshold sweep)",
    "q_semdedup_sweep"   -> "|cos bands| ≤ 41 rows (banded threshold sweep)",
    "q_quality_sweep"    -> "|score bands| ≤ 11 rows (banded threshold sweep)",
    "q_vocab_coverage"   -> "|top vocab| rows (rank + cumulative mass)",
    "q_pmi_bigrams"      -> "top-N bigram rows after the count cut",
    "q_degree_dist"      -> "|distinct degrees| rows (ccdf accumulation)",
    "q_return_hazard"    -> "≤15 gap-day buckets (survival accumulation)",
    "q_interleave"       -> "|sources| rows (source ordinal dim)",
    "q_mutual_info"      -> "|langs|×|sources| contingency cells (corpus total N)",
    "q_chi2_test"        -> "|langs|×|sources| zero-filled grid (grid total N)")

  test("no declared query runs an unpartitioned window over fact-sized input; global windows only on dim/band-bounded aggregates") {
    // The OPTIMIZED LOGICAL plan, not executedPlan: under AQE the
    // physical plan is an AdaptiveSparkPlanExec whose inner tree
    // collect() can't see before execution; the logical Window node
    // carries the same partitionSpec and survives every rewrite that
    // matters here (an empty spec is never invented or removed by
    // physical planning).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val global = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.optimizedPlan
      spark.catalog.clearCache()
      val hit = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.nonEmpty
      if (hit) Some(name) else None
    }.toSet
    // Exact equality, both directions: a NEW global window must arrive
    // with a documented bound, and a plan change that removes one must
    // retire its allowlist entry (no silent rot in either direction).
    val unexpected = global -- globalWindowAllowed.keySet
    val stale = globalWindowAllowed.keySet -- global
    assert(unexpected.isEmpty && stale.isEmpty,
      s"unpartitioned WindowExec drift — new offenders (document the bound or fix the plan): " +
        s"${unexpected.toSeq.sorted.mkString(", ")}; stale allowlist entries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("throttle scan shuffles the events table exactly once (the user repartition)") {
    // The secondary-sort pattern must be: one hash exchange (the
    // repartition by user), an in-partition sort, the mapPartitions
    // scan — a second hash exchange would mean the sort or scan lost
    // the co-partitioning. The only other exchange allowed is the
    // final output orderBy (range partitioning).
    val plan = graft.ops.TimeWindows.qThrottleEvents(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hashExchanges = "hashpartitioning".r.findAllIn(plan.toLowerCase).length
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange (the user repartition), got $hashExchanges:\n$plan")
  }

  test("skyline joins the frontier back by broadcast, never a shuffle of the fact side") {
    // The frontier only shrinks (≤ |distinct prices| rows), so the
    // join back to the fact scan must be a BroadcastHashJoin; a
    // SortMergeJoin would shuffle the full fact table a second time.
    val plan = graft.ops.Analytics.qSkyline(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"frontier join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact side shuffled for the join:\n$plan")
  }

  test("sessionize shuffles the events table exactly once (windows + groupBy share one exchange)") {
    // qSessionize's groupBy(user_id, session_id) must reuse the
    // lag/running-sum window's hash partitioning on user_id
    // (ClusteredDistribution satisfied by a subset key) — a second
    // full-table exchange between the windows and the aggregate would
    // double the shuffled bytes at 100 TB. The only other exchange
    // allowed is the final output orderBy (range partitioning).
    val plan = graft.ops.Analytics.qSessionize(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hashExchanges = "hashpartitioning".r.findAllIn(plan.toLowerCase).length
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange (the window shuffle), got $hashExchanges:\n$plan")
  }
}
