package graft.sources


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Line-oriented text ingestion (SURVEY.md §2.2 readers): raw text
  * corpora land as one-record-per-line files long before they have a
  * schema — `spark.read.text` is the entry point that turns them into
  * a DataFrame the rest of the quality/dedup pipeline consumes.
  *
  * The query writes `doc_id \t text` lines from the documents table
  * (SinkSourceSpec asserts the corpus is tab/newline-free, so the
  * framing is unambiguous), reads them back as raw lines, and parses
  * the projection with substring_index — the split-on-first-delimiter
  * idiom every log-ingest pipeline uses. Parsing is a codegen'd
  * per-row projection; the lines source itself splits by file block,
  * so a 100 TB corpus parallelizes by HDFS/S3 split exactly like
  * parquet. Oracle: the same projection computed straight from the
  * documents table. */
object TextSource {

  def qTextLines(spark: SparkSession, d: String): DataFrame = {
    val dir = Landing.dir(spark, d, "text_lines") { path =>
      Tables.documents(spark, d)
        .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
        .repartition(1)
        .write.mode("overwrite").text(path)
    }
    spark.read.text(dir)
      .select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        substring_index(col("value"), "\t", -1).as("text"))
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }
}
