package graft

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet metadata: the two questions the daily cycle
  * keeps asking — "what schema is landed?" and "how many rows are
  * landed?" — answered from file footers instead of a Spark job. A
  * plain `spark.read.parquet(p)` infers its schema with a job that
  * reads one footer on an executor, and `count()` scans; both are
  * driver round-trips that carry no data (the Delta Lake idea of
  * answering metadata questions from file metadata). Paths go through
  * `Path.getFileSystem`, so every Hadoop scheme (file, s3a, a custom
  * one wired by config) works unchanged. */
private[graft] object ParquetMeta {

  /** Spark's hidden-file rule for scans: names starting `_` or `.` are
    * writer metadata (`_SUCCESS`, `_temporary`, `.crc`), except `k=v`
    * partition directories; `._COPYING_` is a copy in flight. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** Every data file a Spark scan of `path` reads: `(path relative to
    * `path`, status)`, recursing into directories, sorted by relative
    * path. A file path lists as itself; a missing path lists empty. */
  def dataFiles(fs: FileSystem, path: Path): Seq[(String, FileStatus)] = {
    def walk(dir: Path, prefix: String): Seq[(String, FileStatus)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val rel = if (prefix.isEmpty) name else s"$prefix/$name"
        if (hidden(name)) Nil
        else if (st.isDirectory) walk(st.getPath, rel)
        else Seq(rel -> st)
      }
    val root = try Some(fs.getFileStatus(path)) catch { case _: FileNotFoundException => None }
    root.toSeq.flatMap(st =>
      if (st.isDirectory) walk(path, "") else Seq(st.getPath.getName -> st)).sortBy(_._1)
  }

  private def files(spark: SparkSession, path: String): (Configuration, Seq[FileStatus]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    (conf, dataFiles(p.getFileSystem(conf), p).map(_._2))
  }

  private def footer(conf: Configuration, st: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), filter)

  /** The schema Spark's non-merging inference gives `path`'s data
    * columns, from ONE footer: Spark's own row metadata when the file
    * carries it, else the parquet schema through the session's
    * converter (so `nanosAsLong` and TIMESTAMP_NTZ inference apply).
    * Partition columns are not in it: a `spark.read.schema(s)` of a
    * partitioned directory infers them from the paths as before. A
    * path without data files falls back to Spark, which raises its
    * own error (or infers from a summary file). */
  def schema(spark: SparkSession, path: String): StructType = {
    val (conf, data) = files(spark, path)
    data.headOption.fold(spark.read.parquet(path).schema) { st =>
      val meta = footer(conf, st, ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** Rows under `path` (0 when it is missing): the sum of its data
    * files' row-group counts, which is what a full scan returns. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val (conf, data) = files(spark, path)
    data.map(st =>
      footer(conf, st, ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum).sum
  }
}
