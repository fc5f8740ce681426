package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.MaxTiesAggregator

/** Classic warehouse-shaped analytics: the multi-join / aggregate /
  * top-k reports a completeness store grows into once the landed data
  * (reference: the S3 inventory tags, app.py:467-480) is queried like
  * a fact table. Shapes follow the public TPC-H patterns (pricing
  * summary, shipping priority, local-supplier volume) because those
  * are the canonical stress tests for join ordering, partial
  * aggregation, and distributed top-k — the three things that
  * dominate a 100 TB scan-join-agg plan.
  *
  * Scale notes:
  *  - Every aggregate routes doubles through exact DECIMAL sums, so
  *    results are independent of partial-aggregation order (AQE may
  *    change the partial/final split at runtime).
  *  - Revenue terms multiply DECIMAL-cast operands — decimal×decimal
  *    is exact in both engines, so the oracle hash-matches without
  *    float-association caveats. Products stay ≤ DECIMAL(38,12);
  *    never chain a third decimal factor (precision would overflow 38
  *    and both engines would round differently).
  *  - Dims (region/nation/supplier) are explicitly broadcast — they
  *    stay config-sized at 100 TB. customer/orders/lineitem joins are
  *    left to Catalyst/AQE: broadcast at test SF, shuffle-hash on a
  *    cluster, with runtime bloom pruning available (RuntimeFilterSpec).
  *  - Top-k is `orderBy().limit(k)` → TakeOrderedAndProject: each
  *    partition keeps k rows, the driver merges partition winners. A
  *    window rank over an unpartitioned ORDER BY would be a
  *    single-task global sort (the anti-pattern).
  */
object Relational {

  private def dec(c: Column): Column = c.cast("decimal(18,6)")
  private def decSum(c: Column): Column = sum(dec(c)).cast("double")

  /** Revenue term: extendedprice × (1 − discount), exact. */
  private def revenue: Column =
    sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount"))))
      .cast("double")

  /** Pricing summary (TPC-H Q1 shape): one wide partial-aggregated
    * scan of lineitem with the ship-date filter pushed into the
    * parquet reader. The group-by key has 6 distinct values, so the
    * map-side combine reduces ~everything before the (tiny) shuffle —
    * the ideal 100 TB aggregation profile. */
  def qTpchPricing(spark: SparkSession, d: String): DataFrame =
    Tables.spread(spark,
        Tables.lineitem(spark, d)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")),
        "l_orderkey") // exchange sits ABOVE the filter: pushdown intact
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base"),
        revenue.as("sum_disc_price"),
        count(lit(1)).as("n_rows"))
      .withColumn("avg_qty", col("sum_qty") / col("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Shipping priority (TPC-H Q3 shape): segment-filtered customers ⋈
    * date-split orders ⋈ lineitem, revenue per order, top 10. Both
    * date predicates reach their scans (PushedFilters), the customer
    * filter shrinks the build side before the join, and the final
    * top-10 is a distributed TakeOrderedAndProject, not a sort. */
  def qTpchShipping(spark: SparkSession, d: String): DataFrame = {
    val cut = lit("1998-01-01").cast("timestamp")
    val cust = Tables.customer(spark, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    Tables.orders(spark, d)
      .filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(
        Tables.lineitem(spark, d).filter(col("l_shipdate") > cut)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(10)
  }

  /** Local-supplier volume (TPC-H Q5 shape): the 6-table join —
    * region-filtered nation chain on the customer side, supplier
    * joined on BOTH l_suppkey and the customer's nation (the classic
    * "local supplier" equi-pair). region/nation/supplier broadcast;
    * the orders year filter prunes before the big join. */
  def qTpchVolume(spark: SparkSession, d: String): DataFrame = {
    val nr = Tables.nation(spark, d)
      .join(broadcast(Tables.region(spark, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, d)
      .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey", "n_name")
    Tables.orders(spark, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(spark, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Sales by brand: the fact joined to the mid-size product dim on
    * partkey (the one dim no other query touches) and rolled up per
    * brand. part is broadcast at test SF by Catalyst; on a cluster it
    * crosses the threshold and AQE shuffle-joins it — exactly the dim
    * size where bucketing both sides on the key (IntegrationSpec's
    * co-located join) removes the exchange entirely. */
  /** Order-fulfillment latency report: days from order to each line's
    * ship date, distributed per order priority — min / discrete median
    * / p90 / max. The fact-dim join is the only shuffle; latency is an
    * integer day count and every summary statistic is a SELECTED
    * member value (percentile_disc), so the whole row is exact. */
  def qOrderLatency(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select("l_orderkey", "l_shipdate")
      .join(Tables.orders(spark, d).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("lat_days",
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")).cast("long"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        min("lat_days").as("min_days"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_days) AS BIGINT)")
          .as("median_days"),
        expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_days) AS BIGINT)")
          .as("p90_days"),
        max("lat_days").as("max_days"))
      .orderBy("o_orderpriority")

  /** Forecast-revenue-change probe (TPC-H Q6 shape): how much revenue
    * a discount-band change would move — a single filtered scan with
    * ALL THREE predicates (ship-date range, discount band, quantity
    * cap) pushed into the parquet reader, then a global aggregate.
    * This is the purest 100 TB shape in the suite: zero joins, zero
    * group keys, the map-side combine collapses every partition to one
    * partial row, and the only shuffle is |partitions| rows wide. The
    * discount-band compares run on the SAME stored doubles in both
    * engines (no arithmetic before the compare), so the predicate is
    * parity-exact; the revenue product goes through DECIMAL as
    * everywhere else. */
  def qTpchDiscount(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice")) * dec(col("l_discount"))).cast("double")
          .as("lost_revenue"))

  /** Returned-item report (TPC-H Q10 shape): the 20 customers who
    * returned the most revenue — the fact filtered to return-flagged
    * lines BEFORE any join (the scan ships only the ~25% 'R' slice),
    * then orders → customer → broadcast nation, and a distributed
    * top-20 via TakeOrderedAndProject. The revenue tie-break is
    * c_custkey so the limit boundary is a total order in both
    * engines. */
  def qTpchReturned(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d).select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(count(lit(1)).as("n_lines"), revenue.as("lost_revenue"))
      .orderBy(col("lost_revenue").desc, col("c_custkey"))
      .limit(20)

  /** Promotion-effect report (TPC-H Q14 shape), widened from Q14's
    * single month to a per-month 1997 series: for each ship month,
    * the revenue carried by PROMO-type parts next to the total. The
    * classic conditional-aggregation pattern — ONE scan computes both
    * sums via sum(CASE...), instead of two filtered scans or a
    * self-join. part joins before the aggregate (the p_type predicate
    * is needed per line); at 100 TB that join is the co-partitioned /
    * runtime-bloom-pruned kind, and the aggregate collapses to 12
    * rows map-side. The promo/total RATIO never ships — both operands
    * do (the q_kmeans_step derived-double lesson). */
  def qTpchPromo(spark: SparkSession, d: String): DataFrame =
    Tables.spread(spark,
        Tables.lineitem(spark, d)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount"),
        "l_partkey")
      .join(Tables.part(spark, d).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("MONTH", col("l_shipdate")).as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", lit(1)).otherwise(lit(0))).as("n_promo_lines"),
        count(lit(1)).as("n_lines"),
        sum(when(col("p_type") === "PROMO",
          dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount"))))
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double").as("promo_revenue"),
        revenue.as("total_revenue"))
      .orderBy("ship_month")

  /** Small-quantity revenue leak (TPC-H Q17 shape), per brand: lines
    * ordering less than 20% of their part's average quantity — the
    * correlated-subquery classic, decorrelated into a per-part
    * aggregate JOINED back to the fact. The predicate is the exact
    * integer-scaled cross-multiply `qty·5·n_part < Σqty` on
    * DECIMAL(18,6) operands — no division, no double compare, so the
    * filter boundary is bit-identical cross-engine. At 100 TB the
    * per-part aggregate and the fact share the l_partkey hash
    * partitioning (the join adds no exchange beyond the aggregate's
    * own), and the final rollup is 25 brand rows. */
  def qTpchSmallQty(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val perPart = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_part"), sum(dec(col("l_quantity"))).as("sum_qty"))
    li.join(perPart, Seq("l_partkey"))
      .filter(dec(col("l_quantity")) * lit(5) * col("n_part") < col("sum_qty"))
      .join(Tables.part(spark, d).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small_lines"),
        decSum(col("l_extendedprice")).as("small_revenue"))
      .orderBy("p_brand")
  }

  /** Large-volume orders (TPC-H Q18 shape): customers whose single
    * orders total > 260 units. The HAVING-on-a-join-key pattern:
    * lineitem aggregates to ONE row per order BEFORE any join (the
    * 100 TB fact collapses first — the filter then keeps ~1% of
    * orders, and only those rows ever meet orders/customer), then the
    * distributed top-20 via TakeOrderedAndProject with the o_orderkey
    * tie-break making the limit boundary a total order. */
  def qTpchLargeOrders(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select("l_orderkey", "l_quantity")
      .groupBy("l_orderkey")
      .agg(decSum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 260.0)
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(20)

  /** Top supplier(s) by quarterly revenue (TPC-H Q15 shape): the
    * max-of-an-aggregate selection. Per-supplier revenue stays an
    * exact DECIMAL(38,12) and the winners are every supplier at an
    * exact decimal EQUALITY with the max (Q15's defining subtlety:
    * selecting the max by float equality is flaky; decimal equality is
    * not). Revenue goes to double only in the projected output, after
    * selection.
    *
    * Plan shape: lineitem is scanned once. The per-supplier aggregate
    * feeds one bounded aggregate, [[graft.functions.MaxTiesAggregator]],
    * that carries the max and every supplier tied at it — only the
    * running max and its ties per partition enter its shuffle, so the
    * |suppliers|-row frame never meets a global window or a second
    * scan. The winners then meet the broadcast supplier dim. */
  def qTpchTopSupplier(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))).as("rev"))
      .select("rev", "l_suppkey").as[(java.math.BigDecimal, Option[Long])]
      .select(MaxTiesAggregator.toColumn) // one (max, tied keys) row
      .select(col("_1").as("rev"), explode(col("_2")).as("l_suppkey"))
      .join(broadcast(Tables.supplier(spark, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev").cast("double").as("revenue"))
      .orderBy("s_suppkey")
  }

  def qBrandSales(spark: SparkSession, d: String): DataFrame =
    Tables.spread(spark,
        Tables.lineitem(spark, d)
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount"),
        "l_partkey")
      .join(Tables.part(spark, d).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        decSum(col("l_quantity")).as("sum_qty"),
        revenue.as("revenue"))
      .orderBy("p_brand")

  /** Two-nation trade volume (TPC-H Q7 shape): revenue flowing between
    * NATION_1 suppliers and NATION_2 customers — in BOTH directions,
    * per ship year. The defining feature is the symmetric pair
    * predicate `(s,c) ∈ {(A,B),(B,A)}`: both nation dims broadcast
    * pre-filtered to the two nations, so the fact join fans in, not
    * out, and the disjunction becomes a residual comparison on two
    * broadcast-joined columns. One scan, exact-decimal revenue,
    * |2 directions × years| output rows. With this, every TPC-H
    * pattern expressible on the fixture schema ships (Q2/Q11/Q20 need
    * partsupp, Q12 needs shipmode — columns the testdata does not
    * have). */
  def qTpchNationTrade(spark: SparkSession, d: String): DataFrame = {
    val nations = broadcast(Tables.nation(spark, d)
      .filter(col("n_name").isin("NATION_1", "NATION_2")))
    val supp = Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")
      .join(nations.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation")), Seq("s_nationkey"))
    val cust = Tables.customer(spark, d).select("c_custkey", "c_nationkey")
      .join(nations.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation")), Seq("c_nationkey"))
    Tables.lineitem(spark, d)
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(count(lit(1)).as("n_lines"), revenue.as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Sole-fault supplier report (TPC-H Q21 shape): in multi-supplier
    * orders, the suppliers who were the ONLY one with return-flagged
    * lines — Q21's defining double correlation (EXISTS another
    * supplier in the order, NOT EXISTS another supplier with a fault)
    * decorrelated into ONE per-order aggregate: n_suppliers,
    * n_faulty_suppliers, and the faulty supplier's key via a
    * conditional max (valid exactly when n_faulty = 1 — the kept
    * branch). The fact collapses to one row per order before the
    * supplier rollup; no semi/anti join pair, no self-join, one
    * shuffle on orderkey then one on suppkey. Top-10 by fault count,
    * supplier tie-break. */
  def qTpchSoleFault(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_returnflag") === "R").as("faulty"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("faulty")).as("supp_faulty"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(when(col("supp_faulty"), 1L).otherwise(0L)).as("n_faulty"),
        max(when(col("supp_faulty"), col("l_suppkey"))).as("sole_supp"))
      .filter(col("n_suppliers") > 1 && col("n_faulty") === 1)
      .groupBy(col("sole_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(10)

  /** The SQL front door, exercised end to end as a DECLARED query:
    * the report is authored as ANSI SQL against the registered temp
    * views (`Tables.createViews`) with an explicit `BROADCAST` hint —
    * proving the library's SQL surface (views + hints + the same
    * Catalyst planning) is production, not a test-only convenience. A
    * user of the reference who talks SQL, not Scala, runs exactly
    * this path. The query itself is a region-by-priority revenue
    * rollup: fact → orders → customer → broadcast nation/region. */
  def qSqlReport(spark: SparkSession, d: String): DataFrame = {
    Tables.createViews(spark, d)
    // r13: the fact side rides a REPARTITION(l_orderkey) hint over the
    // PRUNED projection — the SQL-surface spelling of Tables.spread
    // (the single-row-group fixture file gives the scan ≤ 3 splits, so
    // the whole join+partial-agg map phase ran on 3 of 32 cores;
    // profile: stage of 3 tasks = 1.6 s of the 2.9 s wall). The hint
    // uses the session's shuffle parallelism — no pinned count — and
    // at production split counts the exchange is the plan's only
    // addition, carrying three pruned columns.
    spark.sql(
      """SELECT /*+ BROADCAST(nation), BROADCAST(region) */
        |  r_name AS region, o_orderpriority AS priority,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |           * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
        |    AS DOUBLE) AS revenue
        |FROM (SELECT /*+ REPARTITION(l_orderkey) */
        |        l_orderkey, l_extendedprice, l_discount FROM lineitem) lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, o_orderpriority
        |ORDER BY region, priority""".stripMargin)
  }

  /** Supplier diversity per part segment (TPC-H Q16 shape): how many
    * DISTINCT suppliers ship each (brand, type), under the classic
    * Q16 exclusion predicates (a blocked brand, blocked type values,
    * a size IN-list) — all three pushed into the part scan before the
    * join. The COUNT(DISTINCT l_suppkey) runs as partial distinct
    * aggregation: (brand, type, suppkey) dedups map-side first, so
    * the shuffle carries distinct triples, not fact rows. Ordering is
    * the Q16 convention: supplier_cnt DESC, then the group key. */
  def qTpchSupplierDiversity(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d).select("l_partkey", "l_suppkey")
      .join(Tables.part(spark, d)
          .filter(col("p_brand") =!= "Brand#12" &&
            !col("p_type").isin("PROMO", "ECONOMY") &&
            col("p_size").isin(5, 10, 15, 20, 25, 30))
          .select("p_partkey", "p_brand", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))

  /** Order-priority check (TPC-H Q4 shape): orders in one quarter
    * with AT LEAST ONE return-flagged line, counted per priority —
    * the canonical decorrelated-EXISTS: a LEFT SEMI join against the
    * pre-filtered fact (the 'R' slice), never a join-then-distinct
    * (which would materialize every matching line before collapsing).
    * Both sides prune before the join: orders by the date range
    * (pushed to the scan), lineitem by the return flag. At 100 TB the
    * semi join ships only order keys from the fact side. */
  def qTpchPriority(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .select("o_orderkey", "o_orderpriority")
      .join(Tables.lineitem(spark, d)
          .filter(col("l_returnflag") === "R").select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** Disjunctive-predicate revenue (TPC-H Q19 shape): three
    * brand-specific (size, quantity) windows OR'd together across the
    * lineitem⋈part boundary. A mixed OR-of-ANDs referencing both join
    * sides cannot be pushed through the join by Catalyst — so the
    * derivable single-side relaxations ARE pushed by hand, the classic
    * Q19 rewrite: `p_brand IN (…)` prunes part before the join and
    * `l_quantity BETWEEN global-min AND global-max` reaches the
    * lineitem parquet scan as a min/max row-group filter. At 100 TB
    * that turns a full-fact join into a join of two pre-filtered
    * slivers; the exact disjunction then runs residually on the
    * surviving rows. Output is a single (n_lines, revenue) row —
    * partial-agg collapses everything map-side. */
  def qTpchDisjunct(spark: SparkSession, d: String): DataFrame = {
    val branches =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#13" && col("p_size").between(1, 20) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#14" && col("p_size").between(1, 25) &&
        col("l_quantity").between(20, 30))
    Tables.lineitem(spark, d)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .filter(col("l_quantity").between(1, 30)) // pushed relaxation (lineitem side)
      .join(Tables.part(spark, d).select("p_partkey", "p_brand", "p_size")
        .filter(col("p_brand").isin("Brand#12", "Brand#13", "Brand#14")), // pushed relaxation (part side)
        col("l_partkey") === col("p_partkey"))
      .filter(branches)
      .agg(count(lit(1)).as("n_lines"), revenue.as("revenue"))
  }

  /** Customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed exactly k (non-urgent) orders, INCLUDING k = 0.
    * The defining subtlety is the LEFT outer join with the extra
    * `o_orderpriority <> '1-URGENT'` predicate INSIDE the join
    * condition (a WHERE would silently drop the zero-order customers),
    * then `count(o_orderkey)` counting only matched rows. Double
    * aggregation: the first collapses the fact to one row per
    * customer (shuffle ∝ customers), the second to ~20 histogram rows
    * — at 100 TB the second agg is free and the first is the
    * unavoidable per-entity rollup. */
  def qTpchCustdist(spark: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(spark, d).select("o_custkey", "o_orderkey", "o_orderpriority")
    Tables.customer(spark, d).select("c_custkey")
      .join(orders,
        col("c_custkey") === col("o_custkey") && col("o_orderpriority") =!= "1-URGENT",
        "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Dormant high-balance customers (TPC-H Q22 shape): customers whose
    * balance exceeds the global positive-balance mean AND who placed
    * no order since 2000-01-01, rolled up per market segment. Two
    * classic decorrelations in one plan: the scalar subquery becomes a
    * broadcast 1-row cross join, and the NOT EXISTS becomes a LEFT
    * ANTI join against the date-filtered orders (filter pushed BELOW
    * the anti join — only recent orders ever shuffle). The mean
    * comparison is the exact integer-scaled cross-multiply
    * `bal·n > Σbal` on DECIMAL operands — no decimal division, whose
    * result scale differs between engines, ever happens. */
  def qTpchDormant(spark: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(spark, d)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val posStats = cust.filter(col("c_acctbal") > 0)
      .agg(sum(dec(col("c_acctbal"))).as("s"), count(lit(1)).as("n"))
    val recent = Tables.orders(spark, d)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(posStats))
      .filter(dec(col("c_acctbal")) * col("n") > col("s"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), decSum(col("c_acctbal")).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** Regional market share (TPC-H Q8 shape): NATION_2's share of ASIA
    * customer revenue per order year. Star join of the fact against
    * four broadcast dims (orders→customer is the one fact-sized join;
    * nation/region are config-sized), then ONE conditional aggregate
    * computes the focal nation's revenue next to the total — never two
    * scans, never a self-join. The share RATIO itself is not in the
    * declared output (nation_rev / total_rev is a double division the
    * consumer applies); both exact-decimal operands are. The supplier
    * side tags each line's selling nation by joining the broadcast
    * supplier dim through the nation dim — the focal nation is picked
    * BY NAME (n_name = 'NATION_2', the qTpchNationTrade pattern), not
    * by assuming the fixture's name↔key alignment. */
  def qTpchMktshare(spark: SparkSession, d: String): DataFrame = {
    val asiaCust = Tables.customer(spark, d).select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(spark, d)
        .join(Tables.region(spark, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val suppNation = Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")
      .join(Tables.nation(spark, d)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("supp_nation")),
        Seq("s_nationkey"))
      .select("s_suppkey", "supp_nation")
    val rev = dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))
    Tables.lineitem(spark, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_2", rev).otherwise(lit(0).cast("decimal(18,6)")))
          .cast("double").as("nation_rev"),
        sum(rev).cast("double").as("total_rev"),
        count(lit(1)).as("n_lines"))
      .orderBy("o_year")
  }

  /** Margin by selling nation and year (TPC-H Q9 shape, retail-cost
    * variant: this testdata has no partsupp.ps_supplycost, so cost is
    * half the part's retail price per unit — the join topology, not
    * the cost model, is what Q9 stress-tests). Margin stays exact
    * decimal end-to-end: price×(1−disc) − 0.5×retail×qty with every
    * factor at DECIMAL(18,6) and ≤ one decimal×decimal product per
    * term, so both engines sum bit-identical values in any partial-agg
    * order. The fact joins part (co-partitionable on partkey at
    * 100 TB) and broadcast supplier→nation. */
  def qTpchProfit(spark: SparkSession, d: String): DataFrame = {
    val margin =
      dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount"))) -
        dec(col("p_retailprice")) * dec(col("l_quantity") * 0.5)
    Tables.spread(spark, Tables.lineitem(spark, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate"), "l_orderkey")
      .join(Tables.part(spark, d).select("p_partkey", "p_retailprice"),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).cast("long").as("o_year"))
      .agg(sum(margin).cast("double").as("sum_margin"), count(lit(1)).as("n_lines"))
      .orderBy("nation", "o_year")
  }

  /** Regional top-brand report with an ORDERED list aggregation: per
    * region, the top-3 brands by revenue rendered as one
    * rank-ordered comma string plus their combined revenue — the
    * executive-summary shape (one row per region, ranked names
    * inline) every BI export needs, exercising deterministic ordered
    * string aggregation, which no other declared query covers. The
    * 6-table star chain aggregates to |regions|×|brands| BEFORE the
    * window ranks within 5 regions; the list assembles from a
    * sort_array of (rank, brand) structs — order is carried by data,
    * never by collect_list's arrival order, so the string is stable
    * under any partitioning. Revenue ties break on the brand name. */
  def qRegionTopBrands(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("r_name").orderBy(col("rev").desc, col("p_brand"))
    Tables.spread(spark, Tables.lineitem(spark, d)
      .select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount"),
      "l_orderkey")
      .join(Tables.part(spark, d).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, d).select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "p_brand")
      .agg(sum(dec(col("l_extendedprice"))
        * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))).as("rev"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("r_name")
      .agg(
        array_join(transform(sort_array(collect_list(struct(col("rn"), col("p_brand")))),
          x => x.getField("p_brand")), ",").as("top_brands"),
        sum("rev").cast("double").as("top3_revenue"))
      .orderBy("r_name")
  }

  /** Gini concentration of customer order value per market segment —
    * the inequality audit behind "a handful of whales carry this
    * segment" (Gini→0: uniform book; →1: one account is the
    * business; it reframes qPareto's deciles as one comparable
    * scalar). G = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) with ascending value ranks
    * (ties on custkey). Numerator/denominator are exact
    * DECIMAL×integer sums floored to BIGINT before ONE integer ppm
    * division — no decimal division, no double accumulation. Ranks
    * come from a per-segment window over the |customers|-sized
    * aggregate, not the order stream. */
  def qGiniConcentration(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy("rev", "c_custkey")
    val perCust = Tables.orders(spark, d).select("o_custkey", "o_totalprice")
      .join(Tables.customer(spark, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "c_custkey")
      .agg(sum(dec(col("o_totalprice"))).as("rev"))
      .withColumn("i", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
    perCust.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        floor(sum(col("rev") * (lit(2) * col("i") - col("n") - lit(1))))
          .cast("long").as("num_int"),
        floor(sum("rev") * count(lit(1))).cast("long").as("den_int"))
      // num·10⁶ would overflow int64 at sf≥0.1 (den ~ n²·x̄ ≈ 1e14);
      // splitting the scale 10³/10⁻³ keeps every operand ≤ ~1e18 at
      // the 3× probe while preserving ppm resolution
      .withColumn("gini_ppm",
        expr("(num_int * 1000) div greatest(den_int div 1000, 1L)"))
      .select("c_mktsegment", "n_customers", "gini_ppm")
      .orderBy("c_mktsegment")
  }

  /** Herfindahl–Hirschman supplier-concentration index per part type:
    * Σ share² of each supplier's revenue within the type, in ppm of
    * 10⁶ (antitrust convention: >2500 points ≙ >250 000 ppm is
    * "highly concentrated" — here it flags part types whose supply a
    * single vendor could hold hostage). Shares derive from
    * floor-to-unit integer revenues so every step after the decimal
    * aggregate is 64-bit integer; the square-sum collapses over the
    * ≤|types|×|suppliers| frame.
    *
    * Plan shape: one plan. The per-type total is a window sum over the
    * (type, supplier) aggregate, partitioned by p_type — the same hash
    * exchange the final per-type aggregate then reuses. A NULL p_type
    * is dropped, as an equi-join to the totals drops it. */
  def qHhiConcentration(spark: SparkSession, d: String): DataFrame =
    Tables.spread(spark, Tables.lineitem(spark, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount"),
      "l_partkey")
      .join(Tables.part(spark, d).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_type", "l_suppkey")
      .agg(floor(sum(dec(col("l_extendedprice"))
        * (lit(1).cast("decimal(18,6)") - dec(col("l_discount"))))).cast("long")
        .as("rev_int"))
      .filter(col("p_type").isNotNull)
      .withColumn("type_rev", sum("rev_int").over(Window.partitionBy("p_type")))
      .withColumn("share_ppm", expr("(rev_int * 1000000) div type_rev"))
      .groupBy("p_type")
      .agg(count(lit(1)).as("n_suppliers"),
        max("share_ppm").as("top_share_ppm"),
        expr("CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)").as("hhi_ppm"))
      .orderBy("p_type")
}
