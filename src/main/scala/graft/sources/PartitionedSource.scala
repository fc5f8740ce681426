package graft.sources


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Hive-style partitioned layout + partition-pruned read — the single
  * most important scan optimization at 100 TB: a predicate on the
  * partition column eliminates whole directories at PLANNING time, so
  * a one-status query over a 3-status lake reads ~1/3 of the bytes and
  * lists ~1/3 of the files. This is the read side of
  * `Sinks.writeDatePartitioned` (reference: the date-partitioned S3
  * layout, upload_to_rfs.py:199-203).
  *
  * The query lands orders partitioned by o_orderstatus, reads it back
  * with a status predicate, and aggregates. PlanQualitySpec asserts
  * the predicate lands in the scan's PartitionFilters (not a
  * post-scan Filter) and that only the matching directory's files are
  * read. The partition column comes back from the directory name as a
  * string — values are \w+ so no escaping ambiguity. */
object PartitionedSource {

  def qPartitionPrune(spark: SparkSession, d: String): DataFrame = {
    val dir = Landing.dir(spark, d, "part_orders") { path =>
      Tables.orders(spark, d)
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    }
    spark.read.parquet(dir)
      .filter(col("o_orderstatus") === "O")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }
}
