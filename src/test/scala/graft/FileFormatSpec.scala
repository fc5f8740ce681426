package graft

import org.apache.spark.sql.functions._

import graft.sources.{OrcSource, PartitionedSource, TextSource}

class FileFormatSpec extends SparkSpec {
  import spark.implicits._

  test("ORC round-trip preserves the dim exactly (schema + every row)") {
    val back = OrcSource.qOrcRoundtrip(spark, sfDir)
    val dim = Tables.nation(spark, sfDir).orderBy("n_nationkey")
    assert(back.schema == dim.schema)
    assert(back.collect().toSeq == dim.collect().toSeq)
  }

  test("text-lines round-trip recovers every doc_id and the exact text bytes (md5)") {
    val lines = TextSource.qTextLines(spark, sfDir)
    val direct = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
    assert(lines.collect().toSeq == direct.collect().toSeq)
  }

  test("partitioned read prunes at planning time: only the o_orderstatus=O directory is scanned") {
    val df = PartitionedSource.qPartitionPrune(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
    // the status predicate must be a partition filter, not a data filter
    assert(scan.contains("PartitionFilters") && scan.contains("o_orderstatus"))
    // and the scan's selected listing is down to the single matching
    // partition directory (3 statuses exist; 2 were pruned unread).
    // AQE nests query stages as leaf wrappers — run, then unwrap
    // recursively to reach the actual file scan.
    df.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val counts = scans(df.queryExecution.executedPlan).map(_.selectedPartitions.partitionCount)
    assert(counts.nonEmpty && counts.forall(_ == 1))
  }

  test("partition-pruned aggregate equals the unpartitioned filter+aggregate") {
    val pruned = PartitionedSource.qPartitionPrune(spark, sfDir).collect().toSeq
    val direct = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "O")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("sum_price"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(pruned == direct)
  }

  test("corrupt JSON records: PERMISSIVE quarantines, DROPMALFORMED drops, FAILFAST throws") {
    // Real feeds ship malformed lines; a 100 TB ingest must quarantine
    // them into a dead-letter column, not die or silently mangle.
    // This pins Spark's three parser modes on a file with 3 good and
    // 2 broken records (the reference's placeholder-row philosophy,
    // app.py:315-334, applied at the parser layer).
    val dir = new java.io.File(tempDir("graft_badjson_"))
    val f = new java.io.File(dir, "feed.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"id": 1, "station": "BEDF"}""")
    w.println("""{"id": 2, "station": "HOLM"}""")
    w.println("""{"id": 3 "station": "SWAF"}""") // missing comma
    w.println("""not json at all""")
    w.println("""{"id": 5, "station": "CHLM"}""")
    w.close()
    val schema = "id BIGINT, station STRING, _corrupt_record STRING"
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").json(f.getPath)
      .cache()
    assert(permissive.count() == 5)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 2)
    assert(permissive.filter(col("_corrupt_record").isNull)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 5L))
    permissive.unpersist()
    val dropped = spark.read.schema("id BIGINT, station STRING")
      .option("mode", "DROPMALFORMED").json(f.getPath)
    assert(dropped.count() == 3)
    val failfast = intercept[org.apache.spark.SparkException] {
      spark.read.schema("id BIGINT, station STRING")
        .option("mode", "FAILFAST").json(f.getPath).collect()
    }
    assert(failfast.getMessage.toLowerCase.contains("malformed")
      || Option(failfast.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
    f.delete(); dir.delete()
  }
}
