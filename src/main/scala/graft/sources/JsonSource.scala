package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.Tables

/** The JSON ingestion surface (SURVEY.md §2.2 `json` readers; reference
  * R1 — the catalog/config load is `json.load(config)`,
  * /root/reference/app.py:28-33, and §1.2 maps device-registry JSON to
  * `from_json`/explicit schemas).
  *
  * Two paths, both driver-verified:
  *  - `qJsonConfig`: a config-style MULTILINE JSON document (one JSON
  *    array in one file — exactly the reference's config.json shape)
  *    read with `spark.read.option("multiLine", true).json` under an
  *    explicit schema. Config materialization is driver-side by nature
  *    (the reference's json.load is too): the dim is config-sized, and
  *    the round-trip proves the engine's JSON scan, not a distributed
  *    collect pattern.
  *  - `qFromJson`: embedded-JSON column parsing with `from_json` under
  *    an explicit schema (no schema inference on the hot path — at
  *    100 TB inference would scan the corpus twice), vs
  *    q_json_extract's string-path `get_json_object`.
  */
object JsonSource {

  private val configSchema = new StructType()
    .add("n_nationkey", LongType)
    .add("n_name", StringType)
    .add("n_regionkey", LongType)

  /** R1: land the nation dim as a multiLine JSON config document, read
    * it back through the engine's JSON scan with an explicit schema.
    * The written document is byte-deterministic (sorted by key), so
    * the query is a pure function of the testdata. */
  def qJsonConfig(spark: SparkSession, d: String): DataFrame = {
    val rows = Tables.nation(spark, d)
      .select("n_nationkey", "n_name", "n_regionkey")
      .collect() // config-sized dim (25 rows) — driver-side like the reference's json.load
      .sortBy(_.getAs[Number]("n_nationkey").longValue)
    val doc = rows.map { r =>
      val k = r.getAs[Number]("n_nationkey").longValue
      val g = r.getAs[Number]("n_regionkey").longValue
      s"""  {"n_nationkey": $k, "n_name": "${r.getAs[String]("n_name")}", "n_regionkey": $g}"""
    }.mkString("[\n", ",\n", "\n]")
    val dir = Landing.dir(spark, d, "json_cfg") { path =>
      Files.createDirectories(Paths.get(path))
      Files.writeString(Paths.get(path, "config.json"), doc)
    }
    spark.read
      .option("multiLine", "true")
      .schema(configSchema)
      .json(dir)
      .orderBy("n_nationkey")
  }

  /** `from_json` with explicit schema over the embedded-JSON
    * `events.props` column, aggregated — the typed sibling of
    * q_json_extract's `get_json_object`. */
  def qFromJson(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(from_json(col("props"),
        new StructType().add("k", LongType)).as("p"))
      .select(col("p.k").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** MapType surface: the same props column parsed as a dynamic
    * `map<string,bigint>` (schema-on-read when keys are not known
    * up front, e.g. free-form sensor attributes), exploded to
    * (key, value) rows and profiled per key. Exercises MapType
    * columns + explode(map) end to end; the one-key testdata keeps
    * the oracle expressible. */
  def qMapExplode(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .filter(col("props").isNotNull)
      .select(explode(from_json(col("props"),
          org.apache.spark.sql.types.MapType(StringType, LongType)))
        .as(Seq("key", "val")))
      .groupBy("key")
      .agg(count(lit(1)).as("n"),
        min("val").as("min_val"),
        max("val").as("max_val"),
        sum("val").as("sum_val"))
      .orderBy("key")
}
