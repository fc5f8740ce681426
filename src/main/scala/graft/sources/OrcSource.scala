package graft.sources


import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** ORC ingestion surface (SURVEY.md §2.2 readers): alongside parquet,
  * ORC is the other columnar container a lake-wide engine must scan —
  * same predicate-pushdown/column-pruning contract, different file
  * format. The query lands the nation dim as ORC through the engine's
  * own writer and reads it back: schema fidelity, type round-trip,
  * and the ORC scan path are all exercised; the oracle is the dim
  * itself (byte-equal round-trip), mirroring CsvSource/JsonSource. */
object OrcSource {

  def qOrcRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val dir = Landing.dir(spark, d, "orc_cfg") { path =>
      Tables.nation(spark, d)
        .repartition(1) // config-sized dim: one file, deterministic layout
        .write.mode("overwrite").orc(path)
    }
    spark.read.orc(dir).orderBy("n_nationkey")
  }
}
