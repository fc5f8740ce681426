package graft.sinks

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.{ParquetMeta, Tables}

/** Sink-side operators (SURVEY.md §2.1 R16/R22).
  *
  * R16 — the reference uploads each chunk to
  * `bucket/{YYYYMMDD}/{filename}` and tags failures with
  * `is_placeholder=true` (reference: app.py:449-480). Spark-first:
  * a date-partitioned parquet write with placeholder-ness as a
  * column (object tags have no parquet analog; a column is queryable,
  * which is the tag's whole purpose).
  *
  * R22 — the migration script moves S3 objects to a file share with
  * verify-then-delete semantics (reference: upload_to_rfs.py:154-223,
  * verify at 65-77): copy, check size at destination, only then delete
  * the source; keep the source when verification fails. Spark-first:
  * write to destination, read back and count-verify, then delete the
  * source directory — the same effectively-once upgrade of an
  * at-least-once copy, at directory granularity (the unit of a Spark
  * committer) instead of per object.
  */
object Sinks {

  /** R16: land a frame partitioned by UTC date of `ts`; placeholder
    * rows (empty/missing content) are flagged, not dropped — they are
    * the queryable failure set. Partition count at scale: one
    * directory per day × shuffle partitions files; callers coalesce
    * if the per-day volume is small. */
  def writeDatePartitioned(df: DataFrame, path: String): Unit =
    withDatePart(df).write.mode(SaveMode.Append)
      .partitionBy("date_part")
      .parquet(path)

  /** The `date_part` partition column: UTC day of `ts` as yyyyMMdd. */
  private def withDatePart(df: DataFrame): DataFrame =
    df.withColumn("date_part", date_format(col("ts"), "yyyyMMdd"))

  /** R22: verify-then-delete move. Returns (rowsMoved, deletedSource).
    * The source survives any verification failure — exactly the
    * reference's keep-on-mismatch rule (upload_to_rfs.py:206-216).
    * Verification is the DELTA at the destination (`after − before ==
    * expected`), not `after >= expected`: a destination pre-populated
    * by earlier moves must not vouch for a partial copy. All three
    * counts are footer metadata ([[ParquetMeta.rowCount]]), read from
    * the destination itself after the copy, so the copy is the move's
    * only Spark job. The source count covers every data file under
    * it, so a file its partitioned read would not see (a flat file at
    * the root of a partitioned tree) fails the check and the source
    * is kept. */
  def moveVerified(spark: SparkSession, srcDir: String, dstDir: String): (Long, Boolean) =
    moveVerifiedImpl(spark, srcDir, dstDir,
      (df, dst) => df.write.mode(SaveMode.Append).parquet(dst))

  /** Copy step injectable so the keep-on-partial-copy contract is
    * testable (SinkSourceSpec simulates a half-written copy). */
  private[graft] def moveVerifiedImpl(
      spark: SparkSession, srcDir: String, dstDir: String,
      copy: (org.apache.spark.sql.DataFrame, String) => Unit): (Long, Boolean) = {
    val expected = ParquetMeta.rowCount(spark, srcDir)
    val landedBefore = ParquetMeta.rowCount(spark, dstDir)
    copy(Tables.read(spark, srcDir), dstDir)
    val landedAfter = ParquetMeta.rowCount(spark, dstDir)
    if (landedAfter - landedBefore == expected && expected > 0) {
      val p = new Path(srcDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (expected, fs.delete(p, true))
    } else (expected, false)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. The small-files problem is the classic
    * failure mode of streaming/per-batch sinks at scale (a 100 TB table
    * fed by minutely microbatches accretes millions of KB-files; every
    * downstream scan then pays per-file open/footer costs and the
    * NameNode/listing pays the metadata). One pass: size the input from
    * the file statuses (no data read), `repartition(ceil(bytes/target))`,
    * write to a temp sibling, then swap via two renames: the original
    * is renamed aside first, the compacted copy renamed into place,
    * and only then is the old copy deleted — a crash at any point
    * leaves a complete data set on disk (under `dir`, `dir._old`, or
    * `dir._compacting`), never a deleted canonical path with the new
    * copy stranded. The swap is two metadata ops, not atomic: a reader
    * racing the instant between the renames can observe the path
    * missing (a true atomic directory swap needs a transactional table
    * layer — see the format comment on the class). Returns the
    * (before, after) file counts. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long = 128L << 20): (Int, Int) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new Path(p.getParent, p.getName + "._compacting")
    Tables.read(spark, dir).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val out = fs.listStatus(tmp).count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val old = new Path(p.getParent, p.getName + "._old")
    fs.delete(old, true) // clear any leftover from a crashed prior run
    fs.rename(p, old)
    fs.rename(tmp, p)
    fs.delete(old, true)
    (files.length, out)
  }

  /** R9 + R16: idempotent append — only rows whose `key` is absent
    * from the existing sink are written (the reference's
    * skip-if-exists re-run safety, app.py:270-273, 419-421). Returns
    * the number of appended rows. The anti join is key-only; at scale
    * the sink side prunes to the key column at scan time. A
    * partitioned sink (e.g. a [[writeDatePartitioned]] root) is
    * appended to partitioned by its own columns — flat files at its
    * root would be invisible to its partitioned read — with a missing
    * `date_part` derived as [[writeDatePartitioned]] derives it.
    *
    * The sink's schema comes from a footer and the row count from an
    * [[Observation]] on the one write, so the anti join runs once and
    * no job is spent on a schema or a count. A zero-row write still
    * lands an empty part file (a flat one) and `_SUCCESS`. Into an
    * existing sink, only what such a write adds is removed again: new
    * top-level `part-` files holding no rows, and a `_SUCCESS` that was
    * not there before; anything else new (another writer's
    * `_temporary`, a part file with rows) stays. Into a missing sink,
    * the first directory the write created (`path` or one of its
    * missing parents) is removed. So a re-run with nothing new leaves
    * the sink as it found it. */
  def appendNew(spark: SparkSession, df: DataFrame, key: String, path: String): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstMissing(p: Path): Path =
      if (p.getParent == null || fs.exists(p.getParent)) p else firstMissing(p.getParent)
    // the sink's names, or the first directory a write into it would create
    val before: Either[Path, Set[String]] =
      try Right(fs.listStatus(root).map(_.getPath.getName).toSet)
      catch { case _: FileNotFoundException => Left(firstMissing(root)) }
    val existing = before.toOption.map(_ => Tables.read(spark, path))
    val partCols = existing.toSeq.flatMap(_.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.partitionSchema.fieldNames
    }).flatten
    val shaped =
      if (partCols.contains("date_part") && !df.columns.contains("date_part")) withDatePart(df)
      else df
    val fresh = existing.fold(shaped)(e => shaped.join(e.select(key), Seq(key), "left_anti"))
    val written = Observation()
    fresh.observe(written, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append).partitionBy(partCols: _*).parquet(path)
    val n = written.get("n").asInstanceOf[Long]
    if (n == 0) before match {
      case Left(made) => fs.delete(made, true)
      case Right(names) => fs.listStatus(root).filter { st =>
        val name = st.getPath.getName
        !names(name) && st.isFile && (name == "_SUCCESS" ||
          name.startsWith("part-") && ParquetMeta.rowCount(spark, st.getPath.toString) == 0)
      }.foreach(st => fs.delete(st.getPath, false))
    }
    n
  }
}
