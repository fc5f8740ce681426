package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Inventory / completeness analytics (SURVEY.md §2.3 E9-E15, E20).
  *
  * The reference's placeholder-file + S3-tag design exists so that the
  * *completeness* of the landed dataset is queryable after the fact
  * (reference: app.py:315-334, 467-480). These operators are that
  * query surface: per-key aggregation, rollups over the date
  * hierarchy, gap detection, top-k batching, set-op diffs, and key
  * parsing over the sink listing.
  *
  * Determinism: float aggregates go through exact DECIMAL sums and are
  * converted to double once at the end, so the result is independent
  * of partial-aggregation order — a hard requirement both for the
  * DuckDB oracle hash and for stable results under AQE at scale.
  */
object Inventory {

  /** Exact, order-independent SUM of a double column: cast each value
    * to DECIMAL(18,6) (exact, deterministic per-value), sum in decimal
    * (exact, associative), convert to double once. */
  private def decSum(c: Column): Column =
    sum(c.cast("decimal(18,6)")).cast("double")

  /** E9: hash aggregation with map-side partial aggregation — per-key
    * completeness counts (reference groups per sensor IP,
    * app.py:391-397, and counts placeholders per tag,
    * app.py:467-480). groupBy on (user_id, event_type) shuffles only
    * the partially-aggregated map output. */
  def qGroupAgg(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy("user_id", "event_type")
      .agg(
        count(lit(1)).as("n"),
        decSum(col("value")).as("sum_value"),
        (decSum(col("value")) / count(lit(1))).as("avg_value"),
        min("value").as("min_value"),
        max("value").as("max_value"))
      .orderBy("user_id", "event_type")

  /** E9 under key skew: two-phase salted aggregation. Phase 1 groups
    * on (key, salt) so one hot key spreads over `nSalts` reducers;
    * phase 2 combines the partials. count/sum/min/max recombine
    * exactly; avg derives from the recombined exact sum. Same result
    * (and same oracle) as qGroupAgg — this is the documented skew
    * escape hatch from SURVEY.md §7.5, kept as a first-class query so
    * its equivalence is machine-checked every round. */
  def qGroupAggSalted(spark: SparkSession, d: String): DataFrame = {
    val nSalts = 8
    Tables.events(spark, d)
      .withColumn("salt", pmod(col("event_id"), lit(nSalts)))
      .groupBy("user_id", "event_type", "salt")
      .agg(
        count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,6)")).as("psum"),
        min("value").as("pmin"),
        max("value").as("pmax"))
      .groupBy("user_id", "event_type")
      .agg(
        sum("pn").as("n"),
        sum("psum").cast("double").as("sum_value"),
        (sum("psum").cast("double") / sum("pn")).as("avg_value"),
        min("pmin").as("min_value"),
        max("pmax").as("max_value"))
      .orderBy("user_id", "event_type")
  }

  /** E10: distinct keys fetched (reference skip-list is a distinct key
    * set, app.py:270-273). */
  def qDistinct(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d).select("l_orderkey").distinct().orderBy("l_orderkey")

  /** E11: rollup over the date hierarchy — daily landing partitions
    * (reference S3 layout `{YYYYMMDD}/`, app.py:451-459) rolled up to
    * month and year with grouping_id distinguishing the levels. */
  /** Column-level profile of the events table — null counts and
    * distinct cardinalities per column, the first sweep a data-quality
    * framework runs over a landed dataset. One aggregate pass (Spark
    * plans the multi-distinct as a single Expand — 5× row expansion,
    * map-side combined; at 100 TB swap countDistinct for
    * approx_count_distinct exactly as q_distinct_approx documents),
    * then `stack` unpivots the single profile row into one row per
    * column. */
  def qSchemaProfile(spark: SparkSession, d: String): DataFrame = {
    val cols = Seq("event_id", "user_id", "event_type", "value", "props")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"))
    }
    val stackArgs = cols
      .map(c => s"'$c', ${c}_nulls, ${c}_distinct").mkString(", ")
    Tables.events(spark, d)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"),
        expr(s"stack(${cols.length}, $stackArgs)")
          .as(Seq("col_name", "n_nulls", "n_distinct")))
      .select("col_name", "n_nulls", "n_distinct", "n_rows")
      .orderBy("col_name")
  }

  def qRollup(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select(year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        col("o_totalprice"))
      .rollup("o_year", "o_month")
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        decSum(col("o_totalprice")).as("sum_price"))
      .select("gid", "o_year", "o_month", "n", "sum_price")
      .orderBy(col("gid"), col("o_year").asc_nulls_first, col("o_month").asc_nulls_first)

  /** E11c: explicit GROUPING SETS — the general form rollup/cube are
    * sugar for, declared through the SQL surface (Tables.createViews)
    * because the Dataset API only exposes the two shorthands. Same
    * expand-based single-shuffle physical plan as rollup/cube; the
    * chosen sets (year+priority marginals but no grand total) are the
    * ones neither shorthand can express. */
  def qGroupingSets(spark: SparkSession, d: String): DataFrame = {
    graft.Tables.createViews(spark, d)
    spark.sql(
      """SELECT grouping(o_year) AS gy, grouping(o_priority) AS gp,
        |  o_year, o_priority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM (SELECT year(o_orderdate) AS o_year,
        |        o_orderpriority AS o_priority, o_totalprice FROM orders)
        |GROUP BY GROUPING SETS ((o_year, o_priority), (o_year), (o_priority))
        |ORDER BY gy, gp, o_year ASC NULLS FIRST, o_priority ASC NULLS FIRST
        |""".stripMargin)
  }

  /** E15b: intersect — the third set operation next to qUnionExcept's
    * union/except (SURVEY §2.2 set-ops row). Set semantics (distinct),
    * planned as a key-only left-semi aggregate: bytes shuffled scale
    * with distinct keys on each side. */
  def qIntersect(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val live = o.filter(col("o_orderstatus") =!= "F")
      .select("o_orderkey", "o_orderpriority")
    val big = o.filter(col("o_totalprice") > 150000.0)
      .select("o_orderkey", "o_orderpriority")
    live.intersect(big).orderBy("o_orderkey", "o_orderpriority")
  }

  /** E11b: cube over the same date hierarchy — all 4 grouping sets
    * (year+month, year, month, grand total), where rollup emits only
    * the prefix sets. Same single-shuffle expand-based physical plan. */
  def qCube(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select(year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        col("o_totalprice"))
      .cube("o_year", "o_month")
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        decSum(col("o_totalprice")).as("sum_price"))
      .select("gid", "o_year", "o_month", "n", "sum_price")
      .orderBy(col("gid"), col("o_year").asc_nulls_first, col("o_month").asc_nulls_first)

  /** E12: row_number per partition — the reference's per-IP batch
    * slicing (app.py:413-414) as a window function. */
  def qWindowRank(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("rn", row_number().over(w))
      .orderBy("o_custkey", "rn")
  }

  /** E13: data-gap detection — the analytic the placeholder files
    * exist to enable (reference: app.py:315-334): where is the
    * per-station time series missing more than `gap` of data?
    * lag() over (station, ts), exact integer microsecond arithmetic. */
  def qGapDetect(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      // r12: the window's exchange, made explicit at the session's
      // shuffle parallelism. The projection entering it is ~16 bytes a
      // row, so AQE's byte-based coalescing ran the window — and, in
      // qBackfillChunks, the hour-explode fan-out stacked on top of
      // it — on ONE task at bench scale (measured ~1.3 s serial). The
      // explicit count is the same partitioning the window requires
      // and the same number every exchange uses pre-coalesce, so plan
      // and behavior at production scale are unchanged.
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("user_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .filter(col("gap_us") > 300L * 1000000L)
      .select("user_id", "event_id", "prev_ts", "ts", "gap_us")
      .orderBy("user_id", "event_id")
  }

  /** E13b: interval coalescing — merge overlapping chunk intervals,
    * undoing the reference's deliberate ±120 s chunk overlap
    * (app.py:375-376). Classic cumulative-max islands: a row starts a
    * new island iff its start exceeds the running max end of all
    * earlier intervals in its partition. Each event contributes the
    * interval [ts, ts+5min). A typed Aggregator variant lives in
    * graft.functions.IntervalMergeAggregator; this window form is the
    * oracle-checkable one. */
  /** Each event's request window is [ts, ts + this many seconds) — one
    * constant shared by the merge, the coverage audit's raw-side
    * count-only arithmetic, and the oracle's INTERVAL 5 MINUTE. */
  private[graft] val IntervalSeconds = 300L

  def qIntervalMerge(spark: SparkSession, d: String): DataFrame = {
    val ordered = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prevRows = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val upToHere = ordered.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("ts") + expr(s"INTERVAL $IntervalSeconds SECONDS")).as("iv_end"))
      .withColumn("prev_max_end", max(col("iv_end")).over(prevRows))
      .withColumn("is_new", when(
        col("prev_max_end").isNull || col("ts") > col("prev_max_end"), 1).otherwise(0))
      .withColumn("island", sum(col("is_new")).over(upToHere))
      .groupBy("user_id", "island")
      .agg(min(col("ts")).as("merged_start"),
        max(col("iv_end")).as("merged_end"),
        count(lit(1)).as("n_chunks"))
      .select("user_id", "merged_start", "merged_end", "n_chunks")
      .orderBy("user_id", "merged_start")
  }

  /** Coverage audit over the merged request windows — the one-page
    * answer to "how much of the raw fetch time is double-covered?"
    * that decides whether overlapping chunk windows (the reference's
    * ±buffer design, app.py:375-376) are wasting fetch budget: per
    * user, raw interval seconds vs the union's covered seconds, the
    * overlap surplus, and the merge compression in ppm. Composes the
    * declared [[qIntervalMerge]]; the raw side is a count-only
    * aggregate (every interval is exactly 300 s), so the audit adds
    * one |users|-row join to the already-oracled merge. All integers
    * — durations are µs differences div 1e6. */
  def qIntervalAudit(spark: SparkSession, d: String): DataFrame = {
    val raw = Tables.events(spark, d)
      .groupBy("user_id").agg(count(lit(1)).as("n_raw"))
      .withColumn("raw_s", col("n_raw") * IntervalSeconds)
    val merged = qIntervalMerge(spark, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_merged"),
        sum(expr("(unix_micros(merged_end) - unix_micros(merged_start)) div 1000000"))
          .as("covered_s"))
    raw.join(merged, Seq("user_id"))
      .select(col("user_id"), col("n_raw"), col("raw_s"),
        col("n_merged"), col("covered_s"),
        (col("raw_s") - col("covered_s")).as("overlap_s"),
        expr("(covered_s * 1000000) div raw_s").as("coverage_ppm"))
      .orderBy("user_id")
  }

  /** Percentile profile per key — the latency/size distribution view a
    * completeness dashboard needs next to counts. `percentile` is
    * Spark's exact interpolated quantile (sort-based per group ≙
    * DuckDB quantile_cont); for 100 TB swap in `percentile_approx`
    * (t-digest sketch, constant memory) and drop the oracle. */
  def qPercentiles(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("med"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy("event_type")

  /** The 100 TB percentile path: `percentile_approx` (a bounded-memory
    * quantile sketch with map-side partial merge) instead of the exact
    * sort-based `percentile`. Sketch estimates are
    * implementation-defined, so the DECLARED surface makes them
    * checkable without hashing raw sketch output: exact quantiles as
    * companion columns (DuckDB-parity proven by q_percentiles) plus
    * per-quantile booleans asserting the sketch lands inside the
    * containment window [p(q-δ), p(q+δ)] — the oracle emits the same
    * exact quantiles and TRUE, so a sketch regression flips a boolean
    * and fails the hash. The raw sketch form stays available below for
    * the spec and for production use (where the exact companions would
    * defeat the purpose). */
  def qPercentilesApprox(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("med_exact"),
        round(expr("percentile(value, 0.95)"), 4).as("p95_exact"),
        round(expr("percentile(value, 0.99)"), 4).as("p99_exact"),
        expr("percentile_approx(value, 0.5, 10000) " +
          "BETWEEN percentile(value, 0.45) AND percentile(value, 0.55)").as("med_ok"),
        expr("percentile_approx(value, 0.95, 10000) " +
          "BETWEEN percentile(value, 0.90) AND percentile(value, 1.0)").as("p95_ok"),
        expr("percentile_approx(value, 0.99, 10000) " +
          "BETWEEN percentile(value, 0.94) AND percentile(value, 1.0)").as("p99_ok"))
      .orderBy("event_type")

  /** Raw sketch-only form (what a 100 TB run would actually execute —
    * no exact companions): InventorySpec bounds its error against the
    * exact quantiles. */
  private[graft] def percentilesApproxRaw(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy("event_type")
      .agg(
        round(expr("percentile_approx(value, 0.5, 10000)"), 4).as("med"),
        round(expr("percentile_approx(value, 0.95, 10000)"), 4).as("p95"),
        round(expr("percentile_approx(value, 0.99, 10000)"), 4).as("p99"))
      .orderBy("event_type")

  /** E14: top-k per group — the reference's batches-of-3-per-IP
    * (app.py:400-414) as a rank-and-filter. At scale this is the
    * shuffle-once pattern: one window over the group key, no self
    * join. */
  def qTopkPerGroup(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
    Tables.lineitem(spark, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("l_orderkey", "rn")
  }

  /** E14's scale form: the same top-3-per-group through the typed
    * TopKAggregator — map-side partial aggregation ships at most k
    * rows per (key, partition), vs the window form's full-group sort.
    * Checked against the identical oracle SQL as qTopkPerGroup, so the
    * equivalence of the two physical strategies is machine-verified
    * every round. */
  def qTopkAgg(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber").cast("long"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.TopKAggregator[(Long, Double, Long)](
        3, r => (r._2, r._3)).toColumn.name("topk"))
      .toDF("l_orderkey", "topk")
      .select(col("l_orderkey"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("l_orderkey"),
        col("e._2").cast("int").as("l_linenumber"),
        col("e._1").as("l_extendedprice"),
        (col("pos") + 1).as("rn"))
      .orderBy("l_orderkey", "rn")
  }

  /** E10's 100 TB path: HyperLogLog++ approximate distinct counts per
    * key next to the exact form — `approx_count_distinct` keeps a
    * constant-size sketch per group with map-side merge, where exact
    * distinct must shuffle every distinct value. HLL estimates are
    * implementation-defined, so the DECLARED surface is the
    * q_percentiles_approx pattern: exact counts as companion columns
    * plus booleans asserting the sketch is within 5% relative error —
    * the oracle emits exact counts and TRUE, so a sketch regression
    * fails the hash. Raw sketch form below for spec/production. */
  def qDistinctApprox(spark: SparkSession, d: String): DataFrame = {
    // Exact and sketch aggregates run SEPARATELY and join on the tiny
    // group key: fused, the multi-distinct Expand triples the row
    // stream and drags the 32 KB-per-group HLL buffers through every
    // phase of the 4-stage distinct plan (measured 2.1 s vs 0.5 + 0.75
    // split at sf0.1). The join is |groups| rows — broadcast, free.
    val ev = Tables.spread(spark, Tables.events(spark, d), "event_id")
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        countDistinct(col("value")).as("exact_values"))
    val approx = distinctApproxRaw(spark, d)
    exact.join(broadcast(approx), "event_type")
      .select(col("event_type"), col("exact_users"), col("exact_values"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users").cast("double") * 0.05).as("users_ok"),
        (abs(col("approx_values") - col("exact_values"))
          <= col("exact_values").cast("double") * 0.05).as("values_ok"))
      .orderBy("event_type")
  }

  /** Raw sketch-only form (the actual 100 TB execution shape). */
  private[graft] def distinctApproxRaw(spark: SparkSession, d: String): DataFrame =
    Tables.spread(spark, Tables.events(spark, d), "event_id")
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        approx_count_distinct(col("value"), 0.02).as("approx_values"))
      .orderBy("event_type")

  /** Heavy hitters via a count-min sketch ([[graft.functions
    * .CmsAggregator]]): the top-10 users by event count, each probed
    * against a single corpus-wide sketch built in one pass. The exact
    * group-count path shuffles one partial per distinct key — fine
    * here, unbounded at 100 TB key cardinality; the sketch's shuffle
    * is depth × width longs per map partition, CONSTANT in both rows
    * and keys, and the serialized sketch is storable/re-mergeable
    * across runs (the streaming-accumulator shape). Declared output
    * follows the sketch-oracle pattern (q_distinct_approx): exact
    * counts plus `_ok` flags asserting the CM guarantees — estimate ≥
    * exact always, and ≤ exact + ⌈e·N/width⌉ (the ε·N error bound,
    * deterministic here under the fixed seed). The 1-row sketch joins
    * the top-k by broadcast cross join, so the probe UDF deserializes
    * the sketch 10 times total — never per fact row. */
  def qHeavyHitters(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val width = 8192
    val ev = Tables.spread(spark, Tables.events(spark, d), "event_id")
    val sketch = ev.select(col("user_id")).as[Long]
      .select(new graft.functions.CmsAggregator(5, width, 42).toColumn)
      .toDF("cms")
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id")).limit(10)
    val check = udf { (bytes: Array[Byte], uid: Long, exact: Long) =>
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      val est = cms.estimateCount(uid)
      val band = math.ceil(math.E * cms.totalCount() / width).toLong
      Seq(est >= exact, est <= exact + band)
    }
    top.crossJoin(broadcast(sketch))
      .withColumn("ok", check(col("cms"), col("user_id"), col("exact_n")))
      .select(col("user_id"), col("exact_n"),
        col("ok").getItem(0).as("est_ge_ok"),
        col("ok").getItem(1).as("est_band_ok"))
      .orderBy(col("exact_n").desc, col("user_id"))
  }

  /** Changelog compaction (upsert keep-latest): one row per key with
    * its most recent state by (ts, event_id) — the read-side view of an
    * upsert sink, and the compaction pass a CDC-fed table needs. One
    * `max_by` hash aggregate with map-side combine: each partition
    * ships one candidate row per key, vs the window form's shuffle of
    * every version. The struct ordering (ts, event_id) makes the
    * winner deterministic under equal timestamps. */
  def qUpsertCompact(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy("user_id", "event_type")
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"), col("event_type"),
        col("last.event_id").as("last_event_id"),
        col("last.ts").as("last_ts"),
        col("last.value").as("last_value"))
      .orderBy("user_id", "event_type")

  /** Pivot: per-user event counts widened to one column per event
    * type — the completeness-matrix view (station × channel landed
    * counts) the reference's tag design implies. The pivot values are
    * EXPLICIT: with them Spark plans one pass (a single hash aggregate
    * with N conditional counts); without them it must first scan for
    * distinct values — an extra job a 100 TB run doesn't want, and
    * non-deterministic output columns besides. Absent combinations
    * fill 0, matching the oracle's count-over-CASE. */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def qPivot(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy("user_id")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .na.fill(0, eventTypes)
      .orderBy("user_id")

  /** Unpivot (melt): the inverse — the wide completeness matrix back
    * to (user_id, event_type, n) rows, zero-count combinations
    * included. Narrow per-row transform, no shuffle of its own. */
  def qUnpivot(spark: SparkSession, d: String): DataFrame =
    qPivot(spark, d)
      .unpivot(Array(col("user_id")),
        eventTypes.map(col).toArray, "event_type", "n")
      .orderBy("user_id", "event_type")

  /** E15: set operations — the ok ∪ dead-letter union the reference's
    * sink performs implicitly (placeholders and real payloads land in
    * the same bucket, app.py:435-463), then an EXCEPT inventory diff
    * (the migration script's "already at destination" set,
    * upload_to_rfs.py:182-216). */
  def qUnionExcept(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val live = o.filter(col("o_orderstatus") =!= "F")
      .select(col("o_orderkey"), lit("live").as("status"))
    val dead = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), lit("dead").as("status"))
    val migrated = o.filter(col("o_totalprice") > 200000.0)
      .select(col("o_orderkey"), lit("live").as("status"))
    live.unionByName(dead).except(migrated).orderBy("o_orderkey", "status")
  }

  /** CDC MERGE (upsert): apply a changelog of updates + inserts onto a
    * base table in one pass — matched keys take the update's values,
    * unmatched updates insert, untouched base rows carry through, and
    * an `action` column records which branch fired (the audit trail a
    * MERGE INTO emits). Planned as base ⟗ updates on the key: ONE
    * shuffle each side (or none if both are bucketed on the key), vs
    * the rewrite-the-table shape naive upserts fall into. The
    * changelog here is derived deterministically from orders (every
    * 7th key updates with price+1000; the same rows re-keyed +1e8
    * insert) so the query is a pure function of the testdata. */
  def qMergeUpsert(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val base = o.select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
    val changed = o.filter(col("o_orderkey") % 7 === 0)
    val updates = changed
      .select(col("o_orderkey").as("k"), lit("U").as("status"),
        (col("o_totalprice") + 1000.0).as("price"))
      .unionByName(changed.select(
        (col("o_orderkey") + 100000000L).as("k"), lit("I").as("status"),
        col("o_totalprice").as("price")))
    base.as("b").join(updates.as("u"), col("b.k") === col("u.k"), "full_outer")
      .select(
        coalesce(col("b.k"), col("u.k")).as("o_orderkey"),
        coalesce(col("u.status"), col("b.status")).as("status"),
        coalesce(col("u.price"), col("b.price")).as("price"),
        when(col("b.k").isNull, "insert")
          .when(col("u.k").isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy("o_orderkey")
  }

  /** E20: sink-listing inventory — build the reference's S3 keys
    * (app.py:449-459), then parse them back into an inventory table
    * with regexp_extract (the migration script's listing walk,
    * upload_to_rfs.py:16-35 + the filename parse app.py:451-454). */
  def qFilenameInventory(spark: SparkSession, d: String): DataFrame = {
    val pat = "^([^.]+)\\.([^.]+)\\.([^.]+)\\.([^.]+)\\.([^.]+)\\.mseed$"
    // r13: spread — 5 regexp_extract per row ran TWICE (sort-sampling
    // pass + sort-write pass) on the single fixture split: 1.06 s +
    // 0.58 s serial stages. Spread parallelizes both; identity at scale.
    Tables.eventsSpread(spark, d)
      .select(col("event_id"), concat_ws(".",
        lit("OX"),
        concat(lit("STA"), col("user_id")),
        col("event_id"),
        col("event_type"),
        date_format(col("ts"), "yyyyMMdd'T'HHmmss"),
        lit("mseed")).as("filename"))
      .select(
        col("event_id"),
        regexp_extract(col("filename"), pat, 1).as("network"),
        regexp_extract(col("filename"), pat, 2).as("station"),
        regexp_extract(col("filename"), pat, 4).as("channel"),
        substring(regexp_extract(col("filename"), pat, 5), 1, 8).as("date_part"),
        col("filename"))
      .withColumn("s3_key", concat_ws("/", col("date_part"), col("filename")))
      .select("event_id", "network", "station", "channel", "date_part", "s3_key")
      .orderBy("event_id")
  }

  /** Distinct-user OVERLAP between event types via theta sketches
    * (Apache DataSketches, shipped with Spark) — the set-operation
    * capability per-group HLLs cannot provide: |A ∩ B| of distinct
    * sets needs intersectable sketches, not just mergeable counters.
    * Execution is the canonical sketch-partials shape: each input
    * partition builds one local sketch per type (mapPartitions,
    * constant memory), the ≤ partitions-per-type partials union in a
    * single small aggregate, and the pairwise intersections run over
    * the |types|² tiny result — the corpus is scanned ONCE and only
    * kilobyte sketches ever shuffle. Theta unions/intersections are
    * order-independent (retained set = hashes below min θ), so the
    * result is deterministic under any partitioning. The declared
    * surface is the exact overlap plus an `est_ok` flag asserting the
    * truth lies inside the INTERSECTION SKETCH'S OWN 3σ confidence
    * interval (getLowerBound/getUpperBound(3)) — in exact mode
    * (< 4096 retained) the CI collapses to the estimate itself, and
    * past it the CI widens with the overlap-to-union ratio exactly as
    * theta theory says it must. (The round-6 10× probe killed the
    * previous FIXED ±2% band: once the per-type user sets left exact
    * mode the intersection's relative error — which scales like
    * √(|A∪B|/(k·|A∩B|)) — legitimately exceeded any fixed
    * percentage. A fixture-calibrated constant, not a sketch bug.) */
  def qThetaOverlap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{SetOperation, Sketches, UpdateSketch}
    val ut = Tables.spread(spark, Tables.events(spark, d), "event_id")
      .select(col("event_type"), col("user_id")).as[(String, Long)]
    val partials = ut.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap[String, UpdateSketch]()
      it.foreach { case (t, u) =>
        m.getOrElseUpdate(t, UpdateSketch.builder().build()).update(u)
      }
      m.iterator.map { case (t, sk) => (t, sk.compact().toByteArray) }
    }.toDF("event_type", "sk")
    val unionUdf = udf { sks: Seq[Array[Byte]] =>
      val u = SetOperation.builder().buildUnion()
      sks.foreach(b => u.union(Sketches.wrapSketch(Memory.wrap(b))))
      u.getResult.toByteArray
    }
    val merged = partials.groupBy("event_type")
      .agg(collect_list("sk").as("sks"))
      .select(col("event_type"), unionUdf(col("sks")).as("sk"))
    val boundsUdf = udf { (a: Array[Byte], b: Array[Byte]) =>
      val i = SetOperation.builder().buildIntersection()
      i.intersect(Sketches.wrapSketch(Memory.wrap(a)))
      i.intersect(Sketches.wrapSketch(Memory.wrap(b)))
      val r = i.getResult
      (math.floor(r.getLowerBound(3)).toLong, math.ceil(r.getUpperBound(3)).toLong)
    }
    val est = merged.toDF("type_a", "sk_a")
      .join(broadcast(merged.toDF("type_b", "sk_b")), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), boundsUdf(col("sk_a"), col("sk_b")).as("ci"))
    val exact = ut.distinct().toDF("type_a", "user_id")
      .join(ut.distinct().toDF("type_b", "ub"),
        col("user_id") === col("ub") && col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("exact_overlap"))
    exact.join(broadcast(est), Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("exact_overlap"),
        (col("ci._1") <= col("exact_overlap") &&
          col("exact_overlap") <= col("ci._2")).as("est_ok"))
      .orderBy("type_a", "type_b")
  }

  /** Declarative data-quality audit (the Deequ/Great-Expectations
    * shape): a fixed suite of constraints — foreign-key integrity,
    * key uniqueness, not-null, and value-domain checks — each
    * reported as (check, target, n_total, n_bad, ok). This is the
    * gate a landed batch passes before downstream jobs consume it
    * (reference analogue: the verify-before-tag pass of
    * app.py:315-334 — here generalized from "file exists" to table
    * invariants). Plan shape: the per-column checks for one table
    * fuse into ONE aggregate over one scan (then `stack` unpivots the
    * counters into rows); only the FK checks need a join — left-anti
    * against the parent keys, which Catalyst broadcasts while the
    * parent fits and shuffle-joins beyond (a 100 TB child side
    * streams either way). Every output is an integer count or a
    * boolean — nothing float, nothing order-dependent. */
  def qDqAudit(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val li = Tables.lineitem(spark, d)
    val ord = Tables.orders(spark, d)
    def bad(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val evChecks = ev.agg(count(lit(1)).as("n"),
        bad(col("user_id").isNull).as("null_user"),
        bad(col("value").isNull).as("null_value"),
        bad(col("ts").isNull || col("ts") < lit("1990-01-01").cast("timestamp") ||
          col("ts") >= lit("2030-01-01").cast("timestamp")).as("ts_range"))
      .select(expr("""stack(3,
        'not_null_events_user',  'events', n, null_user,
        'not_null_events_value', 'events', n, null_value,
        'range_events_ts',       'events', n, ts_range)
        AS (check_name, target, n_total, n_bad)"""))
    val liChecks = li.agg(count(lit(1)).as("n"),
        bad(col("l_quantity") < 1 || col("l_quantity") > 50).as("qty_range"),
        bad(col("l_extendedprice") <= 0).as("price_range"))
      .select(expr("""stack(2,
        'range_lineitem_quantity', 'lineitem', n, qty_range,
        'range_lineitem_price',    'lineitem', n, price_range)
        AS (check_name, target, n_total, n_bad)"""))
    val ordChecks = ord.agg(count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
        bad(col("o_totalprice") <= 0).as("price_range"))
      .select(expr("""stack(2,
        'pk_orders_unique',       'orders', n, dup_keys,
        'range_orders_totalprice','orders', n, price_range)
        AS (check_name, target, n_total, n_bad)"""))
    val fkLi = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"),
        "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .crossJoin(li.agg(count(lit(1)).as("n_total")))
      .select(lit("fk_lineitem_orders").as("check_name"), lit("lineitem").as("target"),
        col("n_total"), col("n_bad"))
    val fkOrd = ord.select(col("o_custkey"))
      .join(Tables.customer(spark, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .crossJoin(ord.agg(count(lit(1)).as("n_total")))
      .select(lit("fk_orders_customer").as("check_name"), lit("orders").as("target"),
        col("n_total"), col("n_bad"))
    evChecks.union(liChecks).union(ordChecks).union(fkLi).union(fkOrd)
      .withColumn("ok", col("n_bad") === 0)
      .orderBy("check_name")
  }

  /** ANSI null-semantics coverage: the three places NULL keys change
    * query results and silently corrupt pipelines that assume
    * not-null — (1) GROUP BY collects all NULL keys into ONE group
    * (they are "not distinct" for grouping even though `NULL = NULL`
    * is unknown); (2) `count(col)` skips NULLs while `count(*)` does
    * not — the pair is the standard null-rate probe; (3) an equi-join
    * DROPS null keys but a null-safe join (`<=>` / IS NOT DISTINCT
    * FROM) matches them — the dim here carries an explicit NULL member
    * so both behaviors are observable side by side. The error-typed
    * events stand in for the reference's placeholder records
    * (app.py:315-334): a dead-letter key that is semantically "no
    * value", exactly where naive equi-join enrichment silently loses
    * the failure rows. Broadcast 3-row dim; one aggregate of the
    * fact. */
  def qNullSemantics(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = Tables.events(spark, d)
      .select(when(col("event_type") === "error", lit(null))
        .otherwise(col("event_type")).as("et"),
        col("user_id"))
    val dim = Seq(Option("click"), Option("purchase"), Option.empty[String])
      .toDF("k").withColumn("present", lit(true))
    base.groupBy("et")
      .agg(count(lit(1)).as("n_rows"),
        count(col("et")).as("n_nonnull_key"),
        countDistinct("user_id").as("n_users"))
      .join(broadcast(dim), col("et") <=> col("k"), "left")
      .withColumn("in_dim_nullsafe", coalesce(col("present"), lit(false)))
      .drop("k", "present")
      .join(broadcast(dim.withColumnRenamed("k", "k2")),
        col("et") === col("k2"), "left")
      .withColumn("in_dim_equijoin", coalesce(col("present"), lit(false)))
      .select("et", "n_rows", "n_nonnull_key", "n_users",
        "in_dim_nullsafe", "in_dim_equijoin")
      .orderBy(col("et").asc_nulls_first)
  }

  /** Window-function coverage suite: the analytic functions a
    * warehouse user expects, exercised together over the per-user
    * event sequence — row_number, first_value and nth_value over the
    * running frame, lag-delta and lead, and rank vs dense_rank on a
    * TIE-RICH ordering (event_type) where the two visibly diverge
    * (rank skips after ties, dense_rank does not). Ordering keys
    * include event_id so every running-frame function is
    * deterministic; rank/dense_rank are tie-order-independent by
    * definition. One shuffle on user_id serves BOTH window specs —
    * the second (order by event_type) re-sorts within partitions but
    * never re-exchanges, the standard shared-partitioning win. */
  def qWindowSuite(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val wSeq = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wType = Window.partitionBy("user_id").orderBy("event_type")
    ev.select(col("user_id"), col("event_id"),
        row_number().over(wSeq).as("seq"),
        first(col("us")).over(wSeq).as("first_us"),
        nth_value(col("us"), 3).over(wSeq).as("third_us"),
        (col("us") - lag("us", 1).over(wSeq)).as("prev_gap_us"),
        lead("event_id", 1).over(wSeq).as("next_event"),
        rank().over(wType).as("type_rank"),
        dense_rank().over(wType).as("type_dense_rank"))
      .orderBy("user_id", "seq")
  }

  /** Mutual information between the documents table's lang and source
    * labels — the metadata-dependence profile a feature auditor reads
    * before using either column as a stratification key (MI ≈ 0 means
    * the two partitionings are independent and stratifying on both
    * multiplies cells for nothing; high MI means one is redundant).
    * I = Σ_cells (o/N)·ln(o·N / (c_lang·c_source)) over OBSERVED
    * cells (empty cells contribute 0 in the limit). Per-cell terms
    * are doubles over exact integer operands, pinned to
    * DECIMAL(18,12) before the exact sum — the qEntropy parity
    * recipe.
    *
    * Plan shape: one plan, two exchanges. One hash aggregate builds
    * the contingency table; N, c_lang and c_source are window sums over
    * its ≤|langs|·|sources| cells. N comes first: its unpartitioned
    * window moves the cells to one partition, which already satisfies
    * the two marginal windows and the final aggregate, so neither adds
    * an exchange. N counts every cell; a cell with a NULL label is then
    * dropped, as an equi-join to the marginals drops it. */
  def qMutualInfo(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .withColumn("nn", sum("o").over(Window.partitionBy()))
      .withColumn("cl", sum("o").over(Window.partitionBy("lang")))
      .withColumn("cs", sum("o").over(Window.partitionBy("source")))
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .withColumn("term_mi",
        expr("(o / CAST(nn AS DOUBLE)) * ln((o * nn) / CAST(cl * cs AS DOUBLE))"))
      .agg(max("nn").as("n_docs"), count(lit(1)).as("n_cells"),
        sum(col("term_mi").cast("decimal(18,12)")).cast("double").as("mi_nats"))

  /** Chi-squared independence contributions per lang over the
    * (lang × source) contingency grid — MI's hypothesis-test
    * companion: chi² = Σ (o−e)²/e with e = c_lang·c_source/N,
    * computed as (o·N − c_lang·c_source)²/(N·c_lang·c_source) so
    * every operand stays an exact 64-bit integer until the one double
    * division. Unlike [[qMutualInfo]] the grid here is the FULL
    * lang × source enumeration (an absent cell contributes e, not 0).
    * Per-lang rows keep the table readable; the overall statistic is
    * their sum.
    *
    * Plan shape: one plan, two exchanges. The contingency aggregate
    * collapses to ONE row: the distinct langs, the distinct sources and
    * a (lang, source) → o map. Exploding the two sets gives the
    * zero-filled grid on one partition, where N and the marginals are
    * window sums that need no exchange. NULL labels take no part: the
    * sets drop them, so a cell with a NULL label is never looked up.
    * A lang seen only with a NULL source (or a source only with a NULL
    * lang) has a zero marginal; its terms are NULL, not an error, as
    * in DuckDB, and a lang with no non-NULL term reports a NULL part. */
  def qChi2Test(spark: SparkSession, d: String): DataFrame = {
    val known = col("lang").isNotNull && col("source").isNotNull
    Tables.documents(spark, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .agg(collect_set("lang").as("langs"), collect_set("source").as("sources"),
        map_from_entries(collect_list(
          when(known, struct(struct(col("lang"), col("source")), col("o"))))).as("cells"))
      .select(explode(col("langs")).as("lang"), col("sources"), col("cells"))
      .select(col("lang"), explode(col("sources")).as("source"), col("cells"))
      .select(col("lang"), col("source"),
        coalesce(element_at(col("cells"), struct(col("lang"), col("source"))), lit(0L)).as("o"))
      .withColumn("nn", sum("o").over(Window.partitionBy()))
      .withColumn("cl", sum("o").over(Window.partitionBy("lang")))
      .withColumn("cs", sum("o").over(Window.partitionBy("source")))
      .withColumn("term_chi2",
        expr("""try_divide((o * nn - cl * cs) * (o * nn - cl * cs),
               |  CAST(nn * cl * cs AS DOUBLE))""".stripMargin))
      .groupBy("lang")
      .agg(max("cl").as("n_docs"), count(lit(1)).as("n_cells"),
        sum(col("term_chi2").cast("decimal(18,12)")).cast("double").as("chi2_part"))
      .orderBy("lang")
  }

  /** One fixed functional-dependency probe A→B: distinct determinant
    * count, distinct (A,B) pair count, determinants with >1 dependent
    * value. Key-only aggregates — the raw table never shuffles, only
    * (A, ndv_B) rows. */
  private def fdProbe(df: DataFrame, table: String, det: String, dep: String): DataFrame =
    df.groupBy(col(det)).agg(countDistinct(col(dep)).as("ndv"))
      .agg(count(lit(1)).as("n_keys"), sum("ndv").cast("long").as("n_pairs"),
        sum(when(col("ndv") > 1, 1L).otherwise(0L)).as("n_violating_keys"))
      .select(lit(table).as("tbl"), lit(det).as("det"), lit(dep).as("dep"),
        col("n_keys"), col("n_pairs"), col("n_violating_keys"),
        (col("n_violating_keys") === 0L).as("fd_holds"))

  /** Approximate-FD discovery over a fixed probe set — the schema-
    * profiling pass (Papenbrock/Naumann-style, counts-only) a data
    * platform runs before choosing partition and bucketing keys: a
    * dependent column functionally determined by the key can ride the
    * same bucketing for free, a violated "FD" that ops believed held
    * (brand→type) is a silent corruption alarm. Each probe is two
    * hash aggregates whose shuffle carries only (determinant, ndv)
    * pairs; the probes union into one 8-row report. */
  def qFdDiscovery(spark: SparkSession, d: String): DataFrame = {
    val probes = Seq(
      fdProbe(Tables.nation(spark, d), "nation", "n_nationkey", "n_name"),
      fdProbe(Tables.customer(spark, d), "customer", "c_custkey", "c_mktsegment"),
      fdProbe(Tables.customer(spark, d), "customer", "c_nationkey", "c_mktsegment"),
      fdProbe(Tables.part(spark, d), "part", "p_brand", "p_type"),
      fdProbe(Tables.part(spark, d), "part", "p_type", "p_brand"),
      fdProbe(Tables.orders(spark, d), "orders", "o_custkey", "o_orderpriority"),
      fdProbe(Tables.events(spark, d), "events", "user_id", "event_type"),
      fdProbe(Tables.documents(spark, d), "documents", "source", "lang"))
    probes.reduce(_.union(_)).orderBy("tbl", "det", "dep")
  }

  /** Join-cardinality estimation audit: the textbook optimizer
    * formula |A⋈B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k)) against the
    * ACTUAL join count for the three fixture FK joins — the
    * stats-quality report that decides whether a cost-based join
    * reorder can be trusted (an estimate off by >10⁵ ppm means stale
    * NDVs would mis-order a 100 TB plan). All-integer arithmetic;
    * each row needs two count/ndv aggregates plus one key-only join
    * count (the fact side ships only its key column). */
  def qJoinCardEst(spark: SparkSession, d: String): DataFrame = {
    def probe(name: String, a: DataFrame, ka: String, b: DataFrame, kb: String): DataFrame = {
      val sa = a.agg(count(lit(1)).as("n_left"), countDistinct(col(ka)).as("ndv_left"))
      val sb = b.agg(count(lit(1)).as("n_right"), countDistinct(col(kb)).as("ndv_right"))
      val actual = a.select(col(ka)).join(b.select(col(kb)), col(ka) === col(kb))
        .agg(count(lit(1)).as("actual_rows"))
      sa.crossJoin(broadcast(sb)).crossJoin(broadcast(actual)) // 1-row stats (allowlisted)
        .withColumn("est_rows",
          expr("(n_left * n_right) div greatest(ndv_left, ndv_right)"))
        .withColumn("abs_err_ppm",
          expr("(abs(actual_rows - est_rows) * 1000000) div actual_rows"))
        .select(lit(name).as("join_name"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"), col("est_rows"),
          col("actual_rows"), col("abs_err_ppm"))
    }
    probe("lineitem_orders", Tables.lineitem(spark, d), "l_orderkey",
        Tables.orders(spark, d), "o_orderkey")
      .union(probe("orders_customer", Tables.orders(spark, d), "o_custkey",
        Tables.customer(spark, d), "c_custkey"))
      .union(probe("lineitem_part", Tables.lineitem(spark, d), "l_partkey",
        Tables.part(spark, d), "p_partkey"))
      .orderBy("join_name")
  }

  /** Small-file compaction planner: given a per-partition file
    * inventory (here: one "file" per (ingest day, event type), sized
    * by its payload bytes — the shape [[qFilenameInventory]] lists),
    * assign files to compaction bins targeting 4 KiB output objects
    * by OFFSET-BASED CONCATENATION SPLITTING: files sorted
    * largest-first inside their day, bin = floor(running-bytes-before
    * / target) — i.e. the day's files are laid out as one byte stream
    * and cut at target boundaries, with each file assigned wholly to
    * the bin its start offset falls in (a file larger than the target
    * therefore owns its bin and may exceed the target; no file is
    * split). The lakehouse maintenance op every small-file-heavy
    * ingest needs — the reference's per-chunk uploads (app.py:449-459)
    * produce exactly this inventory shape at one object per
    * station-hour.
    *
    * Plan shape for 100 TB: bin assignment is a WINDOW CUMSUM per
    * day-partition — no driver loop, no global sort; each day's file
    * list (dim-bounded: types × 1) sorts independently, so a million
    * partition-days plan in one shuffle. The scheme's bound (asserted
    * by InventorySpec) is n_bins ≤ floor(total/target) + 1 per day —
    * offsets only cross a target boundary once per target of bytes.
    * Integer bytes end-to-end. */
  def qCompactionPlan(spark: SparkSession, d: String): DataFrame = {
    val target = 4096L
    val files = Tables.events(spark, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg((sum(length(col("props"))) + lit(64L) * count(lit(1))).as("bytes"))
    val w = Window.partitionBy("day")
      .orderBy(col("bytes").desc, col("event_type"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum("bytes").over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $target"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_files"),
        (max("bin") + 1).as("n_bins"),
        sum("bytes").as("total_bytes"))
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .orderBy("day")
  }

  /** The true Next-Fit-DECREASING compaction planner — the
    * capacity-respecting sibling of [[qCompactionPlan]]: where the
    * offset scheme cuts the concatenated byte stream at exact target
    * boundaries (minimum bins, but bins overflow the target when a
    * file straddles a cut), NFD treats the 4 KiB target as a CAPACITY
    * — largest-first, one open bin, a file that doesn't fit closes the
    * bin — so output objects stay ≤ target unless a single oversize
    * file owns its bin, with the textbook n_bins ≤ 2·OPT guarantee
    * (consecutive bins sum > target; see
    * functions/NfdPackAggregator). The pair prices the real lakehouse
    * trade: object-size SLA (NFD) vs minimum object count (offset).
    *
    * Plan shape for 100 TB: the fold is a typed Aggregator whose
    * buffer holds the day's FILE SIZES — dim-bounded at ≤ |event
    * types| longs per day — so map-side partial aggregation applies
    * and a million partition-days plan in one shuffle of tiny
    * buffers; no window sort, no driver loop. */
  def qCompactionNfd(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val files = Tables.events(spark, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg((sum(length(col("props"))) + lit(64L) * count(lit(1))).as("bytes"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("bytes"))
    files.as[(String, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.NfdPackAggregator(4096L).toColumn.name("r"))
      .toDF("day", "r")
      .select(col("day"), col("r._1").as("n_files"), col("r._2").as("n_bins"),
        col("r._3").as("total_bytes"), col("r._4").as("max_bin_bytes"))
      .orderBy("day")
  }
}
