package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Acquisition, Inventory, Relational}

/** The etl-family queries whose marginals, totals or max run inside
  * the aggregate's own plan (q_mutual_info, q_chi2_test,
  * q_hhi_concentration, q_tpch_top_supplier, q_completeness): each runs
  * in a fixed small number of Spark jobs, and each equals its earlier
  * two-step formulation — collapse, re-aggregate, join or broadcast the
  * result back — kept inline below, on fixtures with NULL grouping keys
  * and maxima tied between suppliers. */
class MarginalTailsSpec extends SparkSpec {

  private type Query = (SparkSession, String) => DataFrame

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")

  // ---- the earlier two-step formulations ----

  private def mutualInfoJoined(spark: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(spark, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val ml = cells.groupBy("lang").agg(sum("o").cast("long").as("cl"))
    val ms = cells.groupBy("source").agg(sum("o").cast("long").as("cs"))
    val n = cells.agg(sum("o").cast("long").as("nn"))
    cells.join(ml, "lang").join(ms, "source").crossJoin(broadcast(n))
      .withColumn("term_mi",
        expr("(o / CAST(nn AS DOUBLE)) * ln((o * nn) / CAST(cl * cs AS DOUBLE))"))
      .agg(max("nn").as("n_docs"), count(lit(1)).as("n_cells"),
        sum(col("term_mi").cast("decimal(18,12)")).cast("double").as("mi_nats"))
  }

  private def chi2Joined(spark: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(spark, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val grid = cells.select("lang").distinct()
      .crossJoin(broadcast(cells.select("source").distinct()))
    val g = grid.join(cells, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), coalesce(col("o"), lit(0L)).as("o"))
    val ml = g.groupBy("lang").agg(sum("o").cast("long").as("cl"))
    val ms = g.groupBy("source").agg(sum("o").cast("long").as("cs"))
    val n = g.agg(sum("o").cast("long").as("nn"))
    g.join(ml, "lang").join(ms, "source").crossJoin(broadcast(n))
      .withColumn("term_chi2",
        expr("((o * nn - cl * cs) * (o * nn - cl * cs)) / CAST(nn * cl * cs AS DOUBLE)"))
      .groupBy("lang")
      .agg(max("cl").as("n_docs"), count(lit(1)).as("n_cells"),
        sum(col("term_chi2").cast("decimal(18,12)")).cast("double").as("chi2_part"))
      .orderBy("lang")
  }

  private def hhiJoined(spark: SparkSession, d: String): DataFrame = {
    val perSupp = Tables.lineitem(spark, d)
      .join(Tables.part(spark, d).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_type", "l_suppkey")
      .agg(floor(sum(dec(col("l_extendedprice"))
        * (lit(1).cast("decimal(18,6)") - dec(col("l_discount"))))).cast("long").as("rev_int"))
    val totals = perSupp.groupBy("p_type").agg(sum("rev_int").as("type_rev"))
    perSupp.join(broadcast(totals), "p_type")
      .withColumn("share_ppm", expr("(rev_int * 1000000) div type_rev"))
      .groupBy("p_type")
      .agg(count(lit(1)).as("n_suppliers"), max("share_ppm").as("top_share_ppm"),
        expr("CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)").as("hhi_ppm"))
      .orderBy("p_type")
  }

  private def topSupplierJoined(spark: SparkSession, d: String): DataFrame = {
    val perSupp = Tables.lineitem(spark, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))).as("rev"))
    perSupp
      .join(broadcast(perSupp.agg(max(col("rev")).as("max_rev"))),
        col("rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev").cast("double").as("revenue"))
      .orderBy("s_suppkey")
  }

  private def completenessJoined(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d).select(col("event_type"),
      date_trunc("day", col("ts")).as("day"), date_trunc("hour", col("ts")).as("hr"))
    val landed = ev.distinct().groupBy("event_type", "day").agg(count(lit(1)).as("n_landed"))
    val grid = ev.select("event_type").distinct().crossJoin(broadcast(ev.select("day").distinct()))
    grid.join(landed, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n_landed"), lit(0L)).as("n_landed"), lit(24L).as("n_expected"),
        (lit(24L) - coalesce(col("n_landed"), lit(0L))).as("n_missing"))
      .orderBy("event_type", "day")
  }

  private val pairs: Seq[(String, Query, Query)] = Seq(
    ("q_mutual_info", Inventory.qMutualInfo _, mutualInfoJoined _),
    ("q_chi2_test", Inventory.qChi2Test _, chi2Joined _),
    ("q_hhi_concentration", Relational.qHhiConcentration _, hhiJoined _),
    ("q_tpch_top_supplier", Relational.qTpchTopSupplier _, topSupplierJoined _),
    ("q_completeness", Acquisition.qCompleteness _, completenessJoined _))

  // ---- fixtures ----

  private def write(dir: String, name: String, schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private val ts = (s: String) => Timestamp.valueOf(s)

  /** A corpus whose grouping keys hold NULLs — a NULL lang, a NULL
    * source, a NULL part type, a NULL event type, a NULL event time —
    * and whose top revenue is tied between suppliers 1 and 2 and a NULL
    * supplier key. `nullTop` instead gives the NULL key the max alone. */
  private def fixture(nullTop: Boolean): String = {
    val dir = tempDir("graft_tails_")
    write(dir, "documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      Seq(("en", "web"), ("en", "web"), ("en", "wiki"), ("de", "web"), ("de", "news"),
        ("fr", "news"), ("fr", "news"), ("fr", "wiki"), (null, "web"), (null, "books"),
        ("es", "books"), ("es", null), ("en", null), (null, null))
        .zipWithIndex.map { case ((l, s), i) => Row(i.toLong, s"t$i", l, s, 10L + i) })
    val q1 = "1997-02-03 00:00:00"
    // (suppkey, partkey, price, discount, shipdate); supplier 1, 2 and
    // the NULL key each earn 300.00 in Q1 1997, supplier 3 earns 110.00
    val items = Seq[(java.lang.Long, Long, Double, Double, String)](
      (1L, 10L, 100.0, 0.0, q1), (1L, 11L, 250.0, 0.2, q1),
      (2L, 12L, 300.0, 0.0, q1), (2L, 13L, 999.0, 0.0, "1998-01-01 00:00:00"),
      (null, 10L, if (nullTop) 400.0 else 300.0, 0.0, q1),
      (3L, 14L, 100.0, 0.1, q1), (3L, 11L, 40.0, 0.5, q1), (4L, 13L, 70.0, 0.0, q1))
    write(dir, "lineitem", StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType))),
      items.zipWithIndex.map { case ((s, p, price, disc, ship), i) =>
        Row(i.toLong, p, s, 1, 1.0, price, disc, 0.0, "N", "O", ts(ship)) })
    write(dir, "part", StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType), StructField("p_brand", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      Seq(10L -> "STEEL", 11L -> "STEEL", 12L -> "TIN", 13L -> null, 14L -> "TIN")
        .map { case (k, t) => Row(k, s"p$k", "B#1", t, 1, 1.0) })
    write(dir, "supplier", StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (1L to 4L).map(k => Row(k, s"Supplier#$k", 1, 0.0)))
    write(dir, "events", StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))),
      Seq[(String, String)](
        ("click", "2024-01-01 01:10:00"), ("click", "2024-01-01 01:50:00"),
        ("click", "2024-01-01 02:00:00"), ("click", "2024-01-02 05:00:00"),
        ("view", "2024-01-02 05:30:00"), (null, "2024-01-01 03:00:00"),
        (null, "2024-01-03 04:00:00"), ("view", null), ("signup", null))
        .zipWithIndex.map { case ((t, at), i) =>
          Row(i.toLong, Option(at).map(ts).orNull, 1L, t, 1.0, "{}") })
    dir
  }

  test("each rewritten tail equals its two-step formulation on NULL keys and tied maxima") {
    for (nullTop <- Seq(false, true)) {
      val dir = fixture(nullTop)
      for ((name, rewritten, joined) <- pairs) {
        val got = rewritten(spark, dir)
        val want = joined(spark, dir)
        assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType),
          s"$name schema")
        assert(got.collect().toSeq == want.collect().toSeq, s"$name (nullTop = $nullTop)")
      }
      val top = Relational.qTpchTopSupplier(spark, dir).collect().map(_.getLong(0)).toSeq
      // the NULL key takes part in the max, then drops at the supplier join
      assert(top == (if (nullTop) Seq.empty else Seq(1L, 2L)), s"top suppliers: $top")
    }
  }

  test("chi2: a lang seen only with a NULL source gives a NULL part, not an error") {
    val dir = tempDir("graft_chi2_")
    write(dir, "documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      Seq(("en", "web"), ("en", "wiki"), ("de", "web"), ("es", null))
        .zipWithIndex.map { case ((l, s), i) => Row(i.toLong, s"t$i", l, s, 10L + i) })
    // the oracle SQL's result on this table under DuckDB
    assert(Inventory.qChi2Test(spark, dir).collect().toSeq ==
      Seq(Row("de", 1L, 2L, 0.5), Row("en", 2L, 2L, 0.25), Row("es", 0L, 2L, null)))
  }

  test("each rewritten tail equals its two-step formulation on the fixture corpus") {
    for ((name, rewritten, joined) <- pairs)
      assert(rewritten(spark, sfDir).collect().toSeq == joined(spark, sfDir).collect().toSeq, name)
  }

  test("each rewritten tail runs in a fixed small number of jobs") {
    // the two-step plans ran 13, 20, 11, 8 and 9 jobs here
    val bounds = Seq("q_mutual_info" -> 3, "q_chi2_test" -> 3, "q_hhi_concentration" -> 7,
      "q_tpch_top_supplier" -> 4, "q_completeness" -> 4)
    for ((name, bound) <- bounds) {
      val df = SparkEntry.queries(name)(spark, sfDir) // resolves its tables first
      val jobs = SparkSpec.jobsOf(df.collect())
      assert(jobs <= bound, s"$name ran $jobs jobs (bound $bound)")
    }
  }
}
