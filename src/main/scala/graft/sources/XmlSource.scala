package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.Tables

/** The XML ingestion surface (SURVEY.md §2.2 readers): Spark 4's
  * NATIVE XML data source (the spark-xml package merged into core)
  * reading a config-style document with an explicit schema + rowTag —
  * no inference pass. Completes the self-describing-config family
  * (JsonSource, CsvSource, OrcSource): same round-trip contract, same
  * oracle (the dim itself), proving the markup scan end to end
  * (rowTag extraction, element→column mapping, typed values). The
  * reference's config.json plays this role (app.py:236-244); XML is
  * what the same station metadata ships as in FDSN StationXML feeds. */
object XmlSource {

  private val dimSchema = new StructType()
    .add("n_nationkey", LongType)
    .add("n_name", StringType)
    .add("n_regionkey", LongType)

  /** Land the nation dim as an XML document, read it back through the
    * engine's XML scan. The written file is byte-deterministic (sorted
    * by key); dim names are \w+ in the testdata (asserted in
    * SinkSourceSpec), so no entity-escaping ambiguity exists. */
  def qXmlConfig(spark: SparkSession, d: String): DataFrame = {
    val dir = Landing.dir(spark, d, "xml_cfg") { path =>
      val rows = Tables.nation(spark, d)
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect() // config-sized dim (25 rows) — driver-side like JsonSource
        .sortBy(_.getAs[Number]("n_nationkey").longValue)
      val body = rows.map { r =>
        s"""  <nation>
           |    <n_nationkey>${r.getAs[Number]("n_nationkey").longValue}</n_nationkey>
           |    <n_name>${r.getAs[String]("n_name")}</n_name>
           |    <n_regionkey>${r.getAs[Number]("n_regionkey").longValue}</n_regionkey>
           |  </nation>""".stripMargin
      }.mkString("<nations>\n", "\n", "\n</nations>\n")
      Files.createDirectories(Paths.get(path))
      Files.writeString(Paths.get(path, "config.xml"), body)
    }
    spark.read
      .option("rowTag", "nation")
      .schema(dimSchema)
      .format("xml")
      .load(dir)
      .orderBy("n_nationkey")
  }
}
