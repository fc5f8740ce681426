package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.Tables

/** The CSV ingestion surface (SURVEY.md §2.2 readers): a config-style
  * CSV document read back through `spark.read.csv` with an explicit
  * schema — no inference pass, which at 100 TB would scan the data
  * twice and type-guess besides. Companion to JsonSource.qJsonConfig:
  * same round-trip contract, same oracle (the dim itself), proving the
  * delimited-text scan end to end (header handling, typed columns). */
object CsvSource {

  private val dimSchema = new StructType()
    .add("n_nationkey", LongType)
    .add("n_name", StringType)
    .add("n_regionkey", LongType)

  /** Land the nation dim as a headered CSV, read it back through the
    * engine's CSV scan. The written file is byte-deterministic (sorted
    * by key), so the query is a pure function of the testdata. Dim
    * names are \w+ in the testdata (asserted in SinkSourceSpec), so no
    * quoting/escaping ambiguity exists in the round-trip. */
  def qCsvConfig(spark: SparkSession, d: String): DataFrame = {
    val dir = Landing.dir(spark, d, "csv_cfg") { path =>
      val rows = Tables.nation(spark, d)
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect() // config-sized dim (25 rows) — driver-side like JsonSource
        .sortBy(_.getAs[Number]("n_nationkey").longValue)
      val body = rows.map { r =>
        s"${r.getAs[Number]("n_nationkey").longValue},${r.getAs[String]("n_name")},${r.getAs[Number]("n_regionkey").longValue}"
      }.mkString("n_nationkey,n_name,n_regionkey\n", "\n", "\n")
      Files.createDirectories(Paths.get(path))
      Files.writeString(Paths.get(path, "config.csv"), body)
    }
    spark.read
      .option("header", "true")
      .schema(dimSchema)
      .csv(dir)
      .orderBy("n_nationkey")
  }
}
