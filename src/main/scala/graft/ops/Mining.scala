package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables

/** Pattern-mining and change-data operators: the discovery layer a
  * completeness store grows once the landed inventory is treated as a
  * fact corpus — co-occurrence mining over baskets, fuzzy entity
  * resolution over free-text names, link-graph centrality over the
  * trade network, changelog application, and decayed time-series
  * smoothing. (Reference scope: the S3 inventory + tags of
  * app.py:467-480 queried as facts; none of these exist there — they
  * are the §2.2 "what the store grows into" categories.)
  *
  * Cross-engine parity rule used throughout: every ratio ships as a
  * scaled-integer (`ppm`) computed with integer floor division —
  * `div` here, `//` in the DuckDB oracle, identical on non-negative
  * operands — so no result column ever crosses a float-rounding
  * boundary (the q_kmeans_step lesson, SURVEY §6).
  */
object Mining {

  /** The shared brand co-purchase basket frame: distinct brands per
    * order, built with ONE shuffle (collect_set dedups in the agg).
    * Persisted — callers that build it fresh have 3 consumers (pair
    * stream, marginals, basket count); the landing path unpersists it
    * after the artifact write. */
  private def basketFrame(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select("l_orderkey", "l_partkey")
      .join(Tables.part(spark, d).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      // r12: explicit orderkey exchange of the narrow fact projection,
      // at the session's shuffle parallelism. The collect_set output is
      // byte-tiny, so AQE coalesced its ENSURE_REQUIREMENTS exchange to
      // ~1 partition and the downstream double-explode pair expansion
      // ran serial at bench scale; the explicit count pins it while the
      // set aggregate runs complete in place (same partitioning the
      // aggregate requires — identical plan at production scale).
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(collect_set(col("p_brand")).as("basket"))
      .persist()

  /** Basket frame → the full co-purchase pair table with marginals:
    * (a, b, n_ab, n_a, n_b, n_orders, pos_lift). Pair expansion
    * happens MAP-SIDE by double-exploding the ≤17-brand basket array,
    * so the quadratic blow-up never touches an exchange — only
    * collapsed (a, b) counts shuffle; the marginals and the 1-row
    * basket total are second aggregates over the persisted baskets,
    * broadcast back. `pos_lift` is THE one positive-lift predicate
    * every graph-family consumer shares — the exact integer
    * cross-multiply n_ab·N > n_a·n_b (lift > 1), not a floored-ppm
    * approximation: one predicate, one graph, and no ×1e6 factor
    * eating int64 headroom at scale. */
  private def brandPairsOf(bk: DataFrame): DataFrame = {
    val nOrders = bk.agg(count(lit(1)).as("n_orders"))
    val marginals = bk
      .select(explode(col("basket")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("n_x"))
    val pairs = bk
      .select(explode(col("basket")).as("a"), col("basket"))
      .select(col("a"), explode(col("basket")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marginals.select(col("brand").as("a"), col("n_x").as("n_a"))), "a")
      .join(broadcast(marginals.select(col("brand").as("b"), col("n_x").as("n_b"))), "b")
      // 1-row order total broadcast (PlanQualitySpec-allowlisted)
      .crossJoin(broadcast(nOrders))
      .withColumn("pos_lift",
        col("n_ab") * col("n_orders") > col("n_a") * col("n_b"))
  }

  /** Landed co-purchase graph artifact (`lift_edges_v1`): the full
    * pair+marginal table materialized ONCE per corpus through the same
    * write-once Landing pattern as the dedup family's lsh_pairs_v1
    * (Quality.neardupPairs) — the graph family (label propagation,
    * degree distribution, assortativity, triangles, the composed
    * graph flagship) previously recomputed the basket→pairs→marginals
    * →lift pipeline ≥5× per round, ~22 s of the sf0.1 bench. This
    * mirrors production at 100 TB: the co-occurrence mining run WRITES
    * its edge list and every downstream graph analytic reads the
    * artifact. The declared q_market_basket stays self-contained so
    * the oracle surface still verifies the full pipeline; the Landing
    * key folds in the corpus fingerprint, so a regenerated corpus
    * re-lands automatically. Dim-bounded output (≤ |brands|² rows) —
    * coalesce(1) keeps the artifact a single small file. */
  private[graft] def liftEdges(spark: SparkSession, d: String): DataFrame = {
    // r10: landed on TxTable (Landing.table) — two JVMs racing to land
    // serialize through the version-0 claim instead of overwriting each
    // other mid-read
    var bk: DataFrame = null
    val edges = graft.sources.Landing.table(spark, d, "lift_edges_v2") {
      bk = basketFrame(spark, d)
      brandPairsOf(bk)
        .select("a", "b", "n_ab", "n_a", "n_b", "n_orders", "pos_lift")
        .coalesce(1)
    }
    // staging happened (or was skipped) inside the call — safe to drop
    // the basket cache now
    if (bk != null) bk.unpersist(blocking = false)
    edges
  }

  /** Association mining over order baskets at the brand granularity:
    * support and lift for every co-purchased brand pair. Brand-level
    * (not part-level) because the pair support at part granularity is
    * ~1 — the classic reason basket mining aggregates SKUs to a
    * category axis first.
    *
    * Plan shape for 100 TB: the basket self-join is keyed on
    * l_orderkey, so pair expansion is bounded by (basket size)² per
    * order — ≤ 17 items here, a constant — never corpus². Distinct
    * (order, brand) collapses map-side BEFORE the join, and only
    * (order, brand) pairs ever shuffle. Stays SELF-CONTAINED (fresh
    * pipeline, not the landed artifact) so the declared oracle keeps
    * verifying the full basket→pair→lift construction end to end. */
  def qMarketBasket(spark: SparkSession, d: String): DataFrame =
    brandPairsOf(basketFrame(spark, d))
      // lift = P(ab) / (P(a)·P(b)) = n_ab·N / (n_a·n_b), floored to ppm
      .withColumn("lift_ppm", expr("(n_ab * n_orders * 1000000) div (n_a * n_b)"))
      .select(col("a").as("brand_a"), col("b").as("brand_b"),
        col("n_ab"), col("n_a"), col("n_b"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("brand_a"), col("brand_b"))

  /** Triangle counting over the brand co-purchase graph — the classic
    * graph-analytics companion to [[qMarketBasket]]'s pair mining
    * (a triangle = three brands that pairwise co-occur in baskets;
    * triangle density is the standard clustering-coefficient input).
    *
    * Plan shape for 100 TB: naive triangle enumeration self-joins the
    * edge list twice with per-node cost ∝ degree² — a power-law hub
    * explodes. The standard fix implemented here is DEGREE
    * ORIENTATION: orient every undirected edge from its
    * lower-(degree, name) endpoint to the higher one, making out-
    * degrees ≤ O(√|E|) for ANY degree distribution, so the wedge join
    * is bounded by Σ out-deg² ≤ |E|^1.5 — the provably-optimal join
    * size — and every triangle is found exactly once (its unique
    * orientation-minimal apex). Wedges close against the oriented
    * edge set via one equi-join on the (dst₁, dst₂) pair. All
    * comparisons use (degree, name) struct ordering, identical in the
    * oracle's row-value comparison. */
  def qTriangles(spark: SparkSession, d: String): DataFrame = {
    // The raw co-occurrence edge set is the landed artifact's pair
    // table unfiltered (a pair row exists iff the brands co-occur in
    // ≥1 basket) — one tiny parquet scan replaces the basket rebuild.
    val edges = liftEdges(spark, d).select("a", "b")
      .persist() // degree pass + orientation share it
    val deg = edges.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    // orient by (degree, name): src is the smaller endpoint under that
    // order; carry dst's degree so wedges can order neighbors the same way
    val o = edges
      .join(broadcast(deg).withColumnRenamed("v", "a").withColumnRenamed("dg", "da"), "a")
      .join(broadcast(deg).withColumnRenamed("v", "b").withColumnRenamed("dg", "db"), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a")).otherwise(col("b")).as("src"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b")).otherwise(col("a")).as("dst"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("db")).otherwise(col("da")).as("dst_dg"))
      .persist() // wedge build + closing join share it
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.dst_dg"), col("e1.dst")) < struct(col("e2.dst_dg"), col("e2.dst")))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val tri = wedges.join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("p_brand"))
      .groupBy("p_brand").agg(count(lit(1)).as("n_triangles"))
      .orderBy("p_brand")
  }

  /** Fuzzy entity resolution over free-text names: the
    * dedup-block-compare plan every record-linkage pipeline runs.
    * Step 1 DEDUPLICATES the 20k part names to their ~64 distinct
    * strings (carrying the group size), step 2 BLOCKS on the head
    * noun (the last token — candidate pairs only within a block),
    * step 3 scores candidates with exact Levenshtein and keeps
    * distance ≤ 2.
    *
    * The blocking step is what survives 100×: compare work is
    * Σ(block size)², never (distinct names)², and the expensive edit
    * distance runs on the POST-dedup name table — cardinality of the
    * name domain, not of the fact table. Both engines implement plain
    * Levenshtein (no transposition), so the score is integer-exact
    * cross-engine. */
  def qFuzzyJoin(spark: SparkSession, d: String): DataFrame = {
    val names = Tables.part(spark, d)
      .groupBy("p_name")
      .agg(count(lit(1)).as("n_parts"))
      .withColumn("noun", expr("element_at(split(p_name, ' '), -1)"))
      .persist() // both sides of the block self-join
    names.select(col("noun"), col("p_name").as("name_a"), col("n_parts").as("parts_a"))
      .join(names.select(col("noun"), col("p_name").as("name_b"), col("n_parts").as("parts_b")),
        Seq("noun"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("edit_dist") <= 2)
      .select("name_a", "name_b", "edit_dist", "parts_a", "parts_b")
      .orderBy("name_a", "name_b")
  }

  /** Changelog application (CDC apply): the events stream read as a
    * keyed change feed — `error` rows are DELETE markers, everything
    * else upserts (user_id, value). Replay in (ts, event_id) order and
    * emit the final table state: last surviving row per key, with op
    * counts for audit. The SCD2 / merge-upsert family above keeps
    * history; this is the "current state" materialization with delete
    * semantics — the third leg of the CDC triad.
    *
    * One shuffle on the key, then a single window pass computes the
    * last row AND the audit counts together; no self-join, no second
    * scan. At 100 TB the changelog is partitioned by key and the
    * window is a per-partition sort — the same plan Spark would pick
    * for any latest-row query. */
  def qCdcApply(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val wOrd = w.orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_ops", count(lit(1)).over(w))
      .withColumn("n_deletes", count(when(col("event_type") === "error", lit(1))).over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_op"),
        col("value").as("last_value"), col("ts").as("updated_at"),
        col("n_ops"), col("n_deletes"))
      .orderBy("user_id")
  }

  /** Exponentially-weighted moving average of each user's last 8
    * event values (α = 1/2) — the decayed-signal smoother every
    * monitoring surface keeps per series. Weights are the exact
    * powers-of-two 128…1 (integers, via shift), the value routes
    * through DECIMAL(18,6), and the weighted sum is exact decimal —
    * only the FINAL division happens in IEEE double on both engines,
    * on bit-identical operands. Windowing is rank-then-filter: one
    * shuffle on the key, the per-user tail never exceeds 8 rows into
    * the aggregate. */
  def qEwma(spark: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= 8)
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), 8 - rn)"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_recent"),
        sum(expr("CAST(value AS DECIMAL(18,6)) * w")).as("num"),
        sum(col("w")).as("den"))
      .withColumn("ewma", expr("CAST(num AS DOUBLE) / den"))
      .select("user_id", "n_recent", "den", "ewma")
      .orderBy("user_id")
  }

  /** Missing-value imputation: `error` events carry glitched readings,
    * so their `value` is treated as missing and repaired with the
    * user's MEDIAN of good readings (global median when the user has
    * none). Median, not mean, on purpose twice over: it is the robust
    * choice next to the very outliers that made the reading suspect,
    * and `percentile_disc` SELECTS an observed value — no division, no
    * float arithmetic, so both engines emit the identical bits.
    *
    * Plan: one aggregate over good rows per user (map-side combining),
    * a key join back to the error rows only (never the full stream),
    * and a 1-row global-median broadcast as the cold-start fallback. */
  def qImpute(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select("event_id", "user_id", "ts", "event_type", "value")
    val good = ev.filter(col("event_type") =!= "error")
    val userMed = good.groupBy("user_id")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("user_median"))
    val globalMed = good.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("global_median"))
    ev.filter(col("event_type") === "error")
      .join(userMed, Seq("user_id"), "left")
      .crossJoin(broadcast(globalMed))
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("user_median"), col("global_median")).as("value_imputed"),
        when(col("user_median").isNotNull, "user_median")
          .otherwise("global_median").as("impute_source"))
      .orderBy("event_id")
  }

  /** Incremental view maintenance (IVM): refresh a per-customer
    * order-count / spend aggregate from a change feed WITHOUT
    * rescanning the base — the standard nightly-refresh shape for any
    * materialized rollup over an append-only fact stream. Orders
    * before the refresh watermark (2001-01-01) stand in for the
    * already-materialized base aggregate; orders at/after it are the
    * newly-arrived delta. The engine aggregates each side separately
    * and MERGES: counts add, and the spend sums are exact
    * DECIMAL(18,6) partials, so base+delta is bit-identical to the
    * from-scratch aggregate (decimal addition is exact and
    * associative — a double sum would hash-diverge on grouping). The
    * oracle is the full recompute: green means the incremental path
    * IS the batch path.
    *
    * Plan shape for 100 TB: the base side is the stored aggregate
    * (here recomputed only because the sandbox has no persisted
    * state) — the real cost is the DELTA-sized aggregate plus the
    * merge join. Both children hash-partition on o_custkey as a
    * byproduct of their own aggregates, so the full-outer merge
    * introduces NO additional exchange (verified in PlanQualitySpec's
    * exchange-count sweep); a day's delta against a years-deep base
    * never touches the base rows. n_base/n_delta ship in the checked
    * surface so the oracle also proves the feed was split correctly. */
  def qIvmMerge(spark: SparkSession, d: String): DataFrame = {
    val cut = "TIMESTAMP '2001-01-01 00:00:00'"
    val orders = Tables.orders(spark, d)
      .select(col("o_custkey"), col("o_orderdate"),
        expr("CAST(o_totalprice AS DECIMAL(18,6))").as("price"))
    def side(pred: String, n: String, s: String) = orders
      .filter(expr(pred))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as(n), sum(col("price")).as(s))
    val base = side(s"o_orderdate < $cut", "n_base", "sum_base")
    val delta = side(s"o_orderdate >= $cut", "n_delta", "sum_delta")
    base.join(delta, Seq("o_custkey"), "full_outer")
      .select(
        col("o_custkey"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
          .as("n_orders"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        expr("""CAST(coalesce(sum_base, CAST(0 AS DECIMAL(28,6)))
               |   + coalesce(sum_delta, CAST(0 AS DECIMAL(28,6))) AS DOUBLE)"""
          .stripMargin).as("total_spend"))
      .orderBy("o_custkey")
  }

  /** PageRank over the nation-to-nation trade graph (customer nation →
    * supplier nation, weighted by lineitem count): link-graph
    * centrality, the canonical iterative-graph workload.
    *
    * Determinism across engines comes from FIXED-POINT INTEGER
    * arithmetic: ranks are scaled by 1e9, edge weights normalize to
    * floored ppm fractions, and each iteration is
    * `150_000_000 + Σ (85·rank·w_ppm) div 1e8` — floor division on
    * non-negative longs, bit-identical to the oracle's `//`. Ten
    * iterations, damping 0.85. (A float PageRank would hash-diverge on
    * summation order; this one cannot.)
    *
    * Scale split: the expensive part — aggregating 100 TB of facts
    * into the weighted edge list — is a distributed 4-table join that
    * shuffles once per join key. The iteration then runs on the
    * AGGREGATED graph, which is dim-bounded (≤ nations² = 625 edges)
    * no matter the fact volume, so it is collected and iterated
    * exactly, like every other config-sized dim in this engine
    * (SURVEY §6: the 25-row `.collect()` precedent). Iterating that
    * graph distributed would shuffle 625 rows ten times for nothing.
    * For graphs that DON'T aggregate dim-sized, the engine's iterative
    * template is `lpa3` (checkpointed label propagation). */
  def qPagerank(spark: SparkSession, d: String): DataFrame = {
    val raw = Tables.lineitem(spark, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val outW = raw.groupBy("src").agg(sum("w").as("outw"))
    val edges = raw.join(outW, "src")
      .select(col("src").cast("int"), col("dst").cast("int"),
        expr("(w * 1000000) div outw").as("wppm"))
      .collect() // dim-bounded: ≤ 625 rows post-aggregation
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val nations = Tables.nation(spark, d).select("n_nationkey", "n_name")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val scale = 1000000000L
    var pr = nations.map { case (k, _) => k -> scale }.toMap
    for (_ <- 1 to 10) {
      val in = new scala.collection.mutable.HashMap[Int, Long]()
      edges.foreach { case (src, dst, wppm) =>
        in(dst) = in.getOrElse(dst, 0L) + (85L * pr(src) * wppm) / 100000000L
      }
      pr = nations.map { case (k, _) => k -> (150000000L + in.getOrElse(k, 0L)) }.toMap
    }
    val rows = nations.map { case (k, name) => Row(name, pr(k)) }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
        StructType(Seq(StructField("n_name", org.apache.spark.sql.types.StringType, nullable = false),
          StructField("pagerank", LongType, nullable = false))))
      .orderBy("n_name")
  }

  /** Bounded k-hop reachability (BFS to 3 hops) over the bipartite
    * part↔supplier graph, from the seed parts with p_partkey < 5 —
    * the blast-radius query ("everything within k supply-chain hops
    * of these SKUs"). Semi-naive evaluation: each hop joins the
    * FRONTIER (only the newly discovered nodes) against the edge
    * list, then anti-joins the visited set, so a node's neighborhood
    * is expanded exactly once — the delta iteration Datalog engines
    * use, and the reason hop h costs |frontier_h| × degree, not
    * |visited| × degree. Spark mechanics: the edge list is persisted
    * once (both directions); the frontier is localCheckpoint()ed per
    * hop (constant-size plan, and fresh size stats so Catalyst
    * broadcasts it while it fits and shuffle-joins when a hop
    * explodes past the threshold — exactly the adaptivity a 100 TB
    * graph needs). The oracle is a recursive CTE walking the same
    * edges with hop < 3, min(hop) per node. */
  def qKhopReach(spark: SparkSession, d: String): DataFrame = {
    // Nodes travel as LONGS through every shuffle (part → 2k,
    // supplier → 2k+1): the BFS's distinct/anti-join/equi-join all
    // hash and compare 8-byte keys instead of the display strings —
    // at 100 TB the frontier/visited shuffles are the whole cost, and
    // an integer key roughly halves the shuffled bytes besides being
    // a cheaper hash. The "p123"/"s45" labels are rebuilt in the
    // final projection only.
    val e = Tables.lineitem(spark, d)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val edges = e.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .union(e.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2).as("dst")))
      // r12: cache the edge list hash(src)-partitioned, once. Every
      // hop joins frontier⋈edges on src; while the frontier fits a
      // broadcast the layout is free, and the moment a hop explodes
      // past the broadcast threshold the sort-merge/shuffled-hash plan
      // reuses this cached partitioning instead of re-exchanging the
      // full edge list EVERY hop — the standard pre-partitioned-graph
      // (Pregel) layout: one exchange at build, zero per iteration.
      // Locally it also keeps the cache from materializing on the ~1
      // AQE-coalesced partition of the distinct upstream.
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("src"))
      .persist()
    val seeds = Tables.part(spark, d).filter(col("p_partkey") < 5)
      .select((col("p_partkey") * 2).as("node"))
    var frontier = seeds.localCheckpoint()
    // visited is a UNION of the ≤4 checkpointed frontiers — plan depth
    // is bounded by the hop count, so it needs no checkpoint of its
    // own (one materialization job per hop saved; the frontier's
    // checkpoint is the one that matters, for stats + the anti-join).
    var visited = frontier.withColumn("hop", lit(0L))
    for (h <- 1 to 3) {
      frontier = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .localCheckpoint()
      visited = visited.union(frontier.withColumn("hop", lit(h.toLong)))
    }
    edges.unpersist(blocking = false)
    visited
      .select(concat(when(col("node") % 2 === 0, lit("p")).otherwise(lit("s")),
        expr("node div 2")).as("node"), col("hop"))
      .orderBy("node")
  }

  /** Distinct (customer, brand) ownership — the base stream of the CF
    * recommender: facts join to brand + customer, then collapse to the
    * customers × |brand dim|-bounded distinct pairs (map-side partial
    * distinct before the exchange). */
  private def ownedFrame(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select("l_orderkey", "l_partkey")
      .join(Tables.part(spark, d).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("p_brand").as("brand"))
      .distinct()

  /** Landed customer co-ownership matrix (`own_pairs_v1`): distinct
    * customers owning both brands, for every ordered brand pair —
    * [[qRecommend]]'s scoring weights, materialized ONCE per corpus
    * through the same fingerprint-keyed Landing pattern as
    * lift_edges_v1. Semantically DISTINCT from lift_edges_v1
    * (customer co-ownership ≠ per-order basket co-occurrence), hence
    * its own artifact. ≤ |brands|² rows — coalesce(1) keeps it one
    * small file; consumers broadcast it. */
  private[graft] def ownPairs(spark: SparkSession, d: String): DataFrame = {
    // r10: landed on TxTable (see liftEdges) — multi-JVM-safe landing
    graft.sources.Landing.table(spark, d, "own_pairs_v2") {
      ownedFrame(spark, d)
        .groupBy("custkey").agg(collect_set("brand").as("basket"))
        .select(explode(col("basket")).as("b1"), col("basket"))
        .select(col("b1"), explode(col("basket")).as("b2"))
        .filter(col("b1") =!= col("b2"))
        .groupBy("b1", "b2").agg(count(lit(1)).as("co"))
        .coalesce(1)
    }
  }

  /** Item-based collaborative filtering: for every customer, the top-3
    * brands they have NOT bought, scored by co-ownership with the
    * brands they have — the classic "customers who bought X also
    * bought Y" recommender, which is [[qMarketBasket]]'s co-occurrence
    * matrix put to work as a per-user ranking.
    *
    * Plan shape for 100 TB: ONE real shuffle end to end. The fact
    * stream collapses straight to per-customer brand SETS (map-side
    * partial collect_set dedups before the exchange — the distinct is
    * folded into the same aggregate instead of paying its own
    * shuffle); everything after is partitioning-preserving: the
    * basket explodes against the broadcast co-matrix, the "not
    * already owned" filter is an array_contains on the basket column
    * riding along (no anti-join pass over a second read of the
    * ownership table), and both the score aggregate on (custkey, b2)
    * and the per-customer top-3 window reuse the custkey hash
    * partitioning (a subset of their clustering keys), so neither
    * re-exchanges. The window is partitioned by CUSTOMER — millions
    * of partitions, the scalable orientation.
    *
    * Evaluated against [[liftEdges]] and deliberately NOT a consumer:
    * the CF co-matrix counts CUSTOMER co-ownership (distinct customers
    * owning both brands), a different measure than the artifact's
    * per-ORDER basket co-occurrence — sharing it would silently change
    * recommendation semantics. It therefore carries its OWN landed
    * artifact, [[ownPairs]] (`own_pairs_v1`): the co-matrix was the
    * last heavy pair table still rebuilt per run (5.1 s at the r6
    * driver bench, the surface's slowest query). */
  def qRecommend(spark: SparkSession, d: String): DataFrame = {
    // r13 (VERDICT item 3): the r12 form's "one reused custkey
    // exchange" claim was false — the exchange sat INSIDE the persist
    // boundary, an InMemoryRelation over an AdaptiveSparkPlan hides
    // its output partitioning, and Spark 4's
    // requireAllClusterKeysForCoPartition=true means a (custkey, b2)
    // anti-join can never reuse custkey-only partitioning anyway: the
    // score aggregate, both anti sides and the window each paid an
    // ENSURE_REQUIREMENTS re-exchange (plans/r12/q_recommend_after.txt
    // nodes 26/32/38). This round restores the basket-riding form with
    // the r12 lesson kept: ONE pinned custkey exchange
    // (REPARTITION_BY_NUM — AQE cannot coalesce it to a serial stage,
    // which was the r11 pathology that motivated the r12 rework), then
    // a SINGLE consumer chain with no cache, no join and no reuse to
    // get wrong: collect_set folds the distinct into the same
    // aggregate, the basket explodes map-side against the broadcast
    // co-matrix, "not already owned" is an array_contains filter on
    // the riding basket BEFORE the score aggregate (fewer rows into
    // the agg; the filter is constant per (custkey, b2) group so
    // pre-agg filtering ≡ post-agg anti), and the score aggregate and
    // top-3 window reuse the custkey clustering. The only other
    // exchange is the final orderBy's range partitioning. The ≤|brands|
    // basket array never crosses a wire — it exists map-side between
    // the aggregate and the filter.
    val owned = Tables.lineitem(spark, d)
      .select("l_orderkey", "l_partkey")
      .join(Tables.part(spark, d).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("p_brand").as("brand"))
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("custkey"))
      .groupBy("custkey").agg(collect_set("brand").as("basket"))
    val co = ownPairs(spark, d)
    val scores = owned
      .select(col("custkey"), col("basket"), explode(col("basket")).as("brand"))
      .join(broadcast(co), col("brand") === col("b1"))
      .filter(!array_contains(col("basket"), col("b2")))
      .groupBy(col("custkey"), col("b2"))
      .agg(sum("co").as("score"))
      .select(col("custkey"), col("b2").as("brand"), col("score"))
    val w = Window.partitionBy("custkey").orderBy(col("score").desc, col("brand"))
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("custkey", "brand", "score", "rn")
      .orderBy("custkey", "rn")
  }

  /** Community detection via synchronous weighted label propagation
    * (Raghavan et al. 2007) over the POSITIVE-lift co-purchase graph —
    * the community layer on top of [[qMarketBasket]]'s pairs and the
    * qualitative complement to [[qTriangles]]' density: which brand
    * groups actually sell together beyond chance (lift > 1 keeps only
    * positively-correlated edges; the raw co-purchase graph is near-
    * complete and would collapse to one community). Each node starts
    * as its own label; 3 synchronous rounds of "adopt the label with
    * the largest incident co-purchase weight" (tie: smaller label) —
    * the Pregel-shape iteration whose per-round cost is one edge⋈label
    * join + one hash aggregate, the same semi-naive discipline as
    * [[qKhopReach]], with the ≤|V|-row label frame localCheckpointed
    * per round to cut lineage. Fixed 3 rounds, not convergence —
    * deterministic, oracle-unrollable, and the standard production
    * bound (LPA oscillates under synchronous updates; bounded rounds
    * are how Pregel implementations ship it).
    *
    * 100 TB shape: labels are one row per vertex; the per-round
    * argmax collapses map-side per (node, candidate-label); nothing
    * edge-sized persists across rounds. The display join for
    * community size is a broadcast of the |V|-row result. */
  def qLabelProp(spark: SparkSession, d: String): DataFrame = {
    val labels = lpa3(liftGraph(spark, d))
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels.join(broadcast(sizes), "lbl")
      .select(col("node").as("p_brand"), col("lbl").as("community"),
        col("community_size"))
      .orderBy("p_brand")
  }

  /** The symmetric weighted positive-lift edge frame (u, v, n_ab) —
    * the landed artifact filtered on the ONE shared predicate and
    * unioned in both orientations. Persisted: LPA reads it once per
    * round plus the vertex seed. */
  private def liftGraph(spark: SparkSession, d: String): DataFrame = {
    val ed = liftEdges(spark, d).filter(col("pos_lift"))
      .select(col("a").as("brand_a"), col("b").as("brand_b"), col("n_ab"))
    ed.select(col("brand_a").as("u"), col("brand_b").as("v"), col("n_ab"))
      .unionByName(ed.select(col("brand_b").as("u"), col("brand_a").as("v"), col("n_ab")))
      .persist() // 3 LPA rounds + the vertex seed read it
  }

  /** 3 synchronous rounds of weighted label propagation over a
    * symmetric weighted edge frame (u, v, n_ab): adopt the label with
    * the largest incident weight, ties to the smaller label. Shared by
    * [[qLabelProp]] and the composed [[qGraphInsights]] flagship so
    * "community" means the same thing everywhere. */
  private def lpa3(e2: DataFrame): DataFrame = {
    var labels = e2.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to 3) {
      val wArg = Window.partitionBy("node").orderBy(col("wsum").desc, col("lbl"))
      labels = e2
        .join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("node"), col("lbl"))
        .agg(sum("n_ab").as("wsum"))
        .withColumn("rn", row_number().over(wArg))
        .filter(col("rn") === 1)
        .select("node", "lbl")
        .localCheckpoint() // |V|-row frame; cuts the per-round lineage
    }
    labels
  }

  /** The composed GRAPH FLAGSHIP (the q_training_pipeline /
    * q_curation_funnel pattern applied to the graph family): landed
    * lift-edge artifact → 3-round weighted label propagation →
    * per-community structural report, all in ONE declared plan under
    * one oracle. Per community: member count, internal edge count and
    * weight (both endpoints inside), and the internal density in ppm
    * (2·E_in / (n·(n−1)), the clustering report a community detector
    * ships). Proves the landed artifact COMPOSES: the plan scans
    * lift_edges_v1 (twice — the LPA graph and the internal-edge join)
    * and never rebuilds the basket pipeline; communities mean exactly
    * what [[qLabelProp]] declares because both call the same [[lpa3]].
    *
    * 100 TB shape: LPA is |V|-row state over the artifact scan; the
    * community stats are one broadcast join of the |V|-row label frame
    * against the artifact edge list plus a |V|-row aggregate — the
    * whole report is artifact-sized, fact tables never rescanned. */
  def qGraphInsights(spark: SparkSession, d: String): DataFrame = {
    val edges = liftEdges(spark, d).filter(col("pos_lift"))
      .select("a", "b", "n_ab")
    val labels = lpa3(liftGraph(spark, d)).persist() // sizes + 2 endpoint joins
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("n_members"))
    val internal = edges
      .join(broadcast(labels.select(col("node").as("a"), col("lbl").as("la"))), "a")
      .join(broadcast(labels.select(col("node").as("b"), col("lbl").as("lb"))), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl"))
      .agg(count(lit(1)).as("n_internal_edges"), sum("n_ab").as("internal_weight"))
    sizes.join(internal, Seq("lbl"), "left")
      .select(col("lbl").as("community"), col("n_members"),
        coalesce(col("n_internal_edges"), lit(0L)).as("n_internal_edges"),
        coalesce(col("internal_weight"), lit(0L)).as("internal_weight"))
      // singleton guard: n·(n−1) = 0 for a 1-member community
      .withColumn("density_ppm", expr(
        "(2 * n_internal_edges * 1000000) div greatest(n_members * (n_members - 1), 1)"))
      .orderBy("community")
  }

  /** Degree distribution of the positive-lift brand co-purchase graph
    * (qLabelProp's edge set: n_ab·N > n_a·n_b, exact integer
    * cross-multiply — the RAW co-occurrence graph is complete at
    * sf≥0.01 and its histogram degenerates to one row) — the first
    * question about any graph before running PageRank/triangles/BFS
    * on it at scale (a power-law tail means hub-aware partitioning;
    * near-uniform degrees mean plain hash partitioning is fine).
    * Histogram over per-node degrees with descending-cumulative node
    * counts and share ppm. The basket double-explode builds pairs
    * map-side (qTriangles' documented shape); everything after is
    * |nodes|-sized. */
  def qDegreeDist(spark: SparkSession, d: String): DataFrame = {
    val wCum = Window.orderBy(col("degree").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val edges = liftEdges(spark, d).filter(col("pos_lift")).select("a", "b")
    val deg = edges.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    val total = hist.agg(sum("n_nodes").cast("long").as("n_total"))
    hist.crossJoin(broadcast(total)) // 1-row node total (allowlisted)
      .withColumn("nodes_ge", sum("n_nodes").over(wCum))
      .withColumn("share_ppm", expr("(n_nodes * 1000000) div n_total"))
      .select("degree", "n_nodes", "nodes_ge", "share_ppm")
      .orderBy("degree")
  }

  /** Degree assortativity of the lift graph — do hubs connect to
    * hubs (r>0) or to the periphery (r<0)? The one scalar that picks
    * between [[qDegreeDist]]'s two partitioning strategies (strongly
    * disassortative hub-spoke graphs NEED hub replication; assortative
    * cores hash fine). Pearson over symmetric edge-endpoint degree
    * pairs degenerates to all-integer arithmetic (Sx=Sy, Sxx=Syy kill
    * the sqrt), with truncation-toward-zero spelled out as a CASE so
    * the signed milli division is identical across engines (Spark
    * `div` truncates, DuckDB `//` floors — they differ on negatives).
    * Edge and degree frames are |nodes|/|edges|-sized. */
  def qAssortativity(spark: SparkSession, d: String): DataFrame = {
    val edges = liftEdges(spark, d).filter(col("pos_lift")).select("a", "b")
    val deg = edges.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    // The symmetric-orientation moments follow from ONE orientation —
    // n_pairs = 2|E|, sx = Σ(da+db), sxx = Σ(da²+db²), sxy = 2Σ(da·db)
    // — so the degree-joined edge frame aggregates in a single pass
    // instead of a union that executed the whole subtree twice.
    edges
      .join(broadcast(deg.select(col("v").as("a"), col("dg").as("da"))), "a")
      .join(broadcast(deg.select(col("v").as("b"), col("dg").as("db"))), "b")
      .agg((count(lit(1)) * 2).as("n_pairs"),
        sum(expr("da + db")).as("sx"),
        (sum(expr("da * db")) * 2).as("sxy"),
        sum(expr("da * da + db * db")).as("sxx"))
      .withColumn("num", expr("n_pairs * sxy - sx * sx"))
      .withColumn("den", expr("n_pairs * sxx - sx * sx"))
      .withColumn("assort_milli", expr(
        """CASE WHEN num >= 0 THEN (1000 * num) div den
          |ELSE -((1000 * -num) div den) END""".stripMargin))
      .select("n_pairs", "sx", "sxy", "sxx", "assort_milli")
  }
}
