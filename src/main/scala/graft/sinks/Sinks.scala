package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

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
    * by earlier moves must not vouch for a partial copy. */
  def moveVerified(spark: SparkSession, srcDir: String, dstDir: String): (Long, Boolean) =
    moveVerifiedImpl(spark, srcDir, dstDir,
      (df, dst) => df.write.mode(SaveMode.Append).parquet(dst))

  /** Copy step injectable so the keep-on-partial-copy contract is
    * testable (SinkSourceSpec simulates a half-written copy). */
  private[graft] def moveVerifiedImpl(
      spark: SparkSession, srcDir: String, dstDir: String,
      copy: (org.apache.spark.sql.DataFrame, String) => Unit): (Long, Boolean) = {
    val src = spark.read.parquet(srcDir)
    val expected = src.count()
    val dstPath = new Path(dstDir)
    val dstFs = dstPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val landedBefore =
      if (dstFs.exists(dstPath)) spark.read.parquet(dstDir).count() else 0L
    copy(src, dstDir)
    val landedAfter = spark.read.parquet(dstDir).count()
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
    spark.read.parquet(dir).repartition(nOut)
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
    * `date_part` derived as [[writeDatePartitioned]] derives it. */
  def appendNew(spark: SparkSession, df: DataFrame, key: String, path: String): Long = {
    val existing =
      if (new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(new Path(path))) Some(spark.read.parquet(path))
      else None
    val partCols = existing.toSeq.flatMap(_.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.partitionSchema.fieldNames
    }).flatten
    val shaped =
      if (partCols.contains("date_part") && !df.columns.contains("date_part")) withDatePart(df)
      else df
    val fresh = existing.fold(shaped)(e => shaped.join(e.select(key), Seq(key), "left_anti"))
    // persist so the anti-join runs once, not once for the count and
    // again for the write
    fresh.persist()
    try {
      val n = fresh.count()
      if (n > 0) fresh.write.mode(SaveMode.Append).partitionBy(partCols: _*).parquet(path)
      n
    } finally fresh.unpersist()
  }
}
