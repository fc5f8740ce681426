package graft.sinks

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.SortedMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, DecimalType, StructField, StructType}

/** Minimal transactional table: a commit-log protocol over plain
  * parquet that makes MULTI-WRITER appends, atomic whole-table
  * replacement (compaction), and torn-read-free snapshot reads safe —
  * the lakehouse upgrade of the reference's verify-then-delete move
  * discipline (upload_to_rfs.py:154-223: never expose a state a crash
  * can make ambiguous) from per-object to per-table granularity.
  * The protocol is the public optimistic-concurrency design of the
  * Delta Lake paper (Armbrust et al., VLDB 2020) reduced to its core;
  * no code is shared with any implementation.
  *
  * Layout:
  * {{{
  *   <table>/_txlog/00000000000000000000.txn   // version-numbered commits
  *   <table>/data/<attemptId>/part-*.parquet   // writer-private staging
  *   <table>/data/<attemptId>/k=v/any.file     // (commitOnce: any writer)
  * }}}
  *
  * A `.txn` file is a line manifest (`graft-txn-v1` header, `op=`,
  * repeated `add=`/`remove=` table-relative paths, `end` terminator).
  * Invariants:
  *
  *  - Data files are FULLY written before the commit referencing them
  *    exists, and every writer stages under its own `data/<attemptId>/`
  *    directory — uncommitted data is invisible to readers by
  *    construction, so a crashed writer leaves garbage (reclaimed by
  *    [[vacuum]]), never a torn table.
  *  - The commit file is published ATOMICALLY via the scheme's
  *    [[ClaimPrimitive]] ([[Claims.forFs]]): `link(2)` on POSIX (the
  *    claim and the content appear in one metadata op), `create(
  *    overwrite = false)` on HDFS-like stores (atomic claim at the
  *    namenode; content follows, so readers additionally require the
  *    `end` terminator and treat a header-only file as
  *    not-yet-committed), and a conditional PUT (`If-None-Match`) on
  *    object stores ([[ConditionalPutClaim]] — content-atomic, the
  *    preferred 100 TB claim; register a store binding via
  *    [[Claims.register]]).
  *  - Version numbers are claimed optimistically: a writer lists the
  *    log, stages, and tries `lastVersion + 1`; losing a race costs
  *    one re-list and a new claim — the staged data is reused, nothing
  *    is rewritten. Two concurrent appenders therefore serialize into
  *    versions N and N+1 with BOTH data sets live (no lost update —
  *    exactly the race the pre-TxTable sinks could not survive).
  *  - A replace commit (compaction) lists the files it removes; the
  *    claim succeeding at `snapshotVersion + 1` PROVES no commit
  *    interleaved since the snapshot was read, so the removal set is
  *    exact (claim-fail ⇒ re-read and retry: optimistic concurrency).
  *  - Readers fold `add`/`remove` over the CONTIGUOUS committed prefix
  *    (versions 0..k). Removed files stay on disk, so `read(asOf = v)`
  *    time-travels until a vacuum reclaims old versions.
  *
  * Schema evolution (r12, schema-in-log — the Delta-paper move): every
  * append/replace manifest records the writer's schema JSON on a
  * `schema=` line; the reader's effective schema is the version-ordered
  * BY-NAME MERGE over the snapshot (add columns and widen nullability
  * freely; a type change in place is refused at the writer). [[read]]
  * scans with that schema explicitly — files that predate a column
  * read it as NULL, a writer that stops writing a column cannot erase
  * it from reads, and no parquet footer is ever sampled or merged for
  * schema (the default `spark.read.parquet` samples ONE footer and
  * silently drops columns that file predates; `mergeSchema=true` reads
  * every footer — both wrong at 100 TB). Checkpoints carry the folded
  * schema, so evolution survives manifest cleanup; manifests without
  * schema lines (pre-r12 logs) fall back to sample-file inference.
  *
  * Data skipping (r12, stats-in-log — the second half of the same
  * design): [[stage]] collects typed per-file min/max from the parquet
  * FOOTER (metadata-only) for every top-level primitive column and the
  * manifest records them on `stats=` lines; [[readPruned]] answers a
  * range scan opening only files whose recorded [min,max] can
  * intersect the bound — the whole-file lift of parquet's row-group
  * pruning, decided from the O(1) manifest fold without touching even
  * the pruned files' footers. Pruning is strictly conservative: no
  * stats (legacy manifest, failed collection, all-null or non-primitive
  * column, type mismatch) → the file is scanned. The `stats=` JSON is
  * written and read with Jackson, so string bounds holding quotes,
  * backslashes or braces prune like any other. Checkpoints carry the
  * folded stats verbatim, so skipping survives manifest cleanup;
  * compaction's rewrite records fresh stats for the files it produces.
  *
  * At 100 TB: the log is one small file per commit and a reader lists
  * one directory — no data-file listing, no eventual-consistency
  * exposure; snapshot isolation comes from immutability (a committed
  * file is never modified, only superseded). Readers additionally
  * parse O(1) manifests, not O(commits): every [[CheckpointInterval]]
  * commits a writer folds the live file list into a
  * `<version>.ckpt` manifest (same line format, op=checkpoint,
  * write-once like a commit; two racers produce identical content),
  * and [[files]]/[[read]] start from the newest parseable checkpoint
  * at-or-below `asOf` and fold only the `.txn` tail above it. A torn
  * or garbage checkpoint is skipped (older checkpoint, then the full
  * fold — checkpoints are pure acceleration, never a correctness
  * dependency). [[commits]] remains the O(commits) protocol view.
  *
  * Every operation lists `_txlog` once ([[openLog]], the only listing)
  * and folds that listing at most once into one [[Snapshot]]: reads,
  * pruning, the writer's schema check, its claim and its fence all
  * answer from the same listing. Only a writer that loses a claim race,
  * or folds a checkpoint after its commit, lists again. Whether a table
  * is already written at all is one question, [[initialized]], asked by
  * [[commitOnce]] and by sources.Landing alike.
  *
  * Crash recovery on stores whose claim is not content-atomic
  * (HDFS-like `create(overwrite=false)`): a claimant that dies between
  * the namenode claim and the `end` terminator leaves an unterminated
  * `.txn` that would truncate every later reader's snapshot forever.
  * [[fenceStalled]] — run automatically by writers ONLY on such
  * stores; content-atomic claims make torn manifests impossible by
  * protocol and skip the scan — rewrites
  * any unparseable manifest older than [[DefaultFenceTtlMs]] into an
  * explicit no-op `op=abort` commit, restoring contiguity; the TTL
  * keeps a LIVE claimant's in-flight write safe (same discipline as
  * [[vacuum]]'s staging TTL). The crashed writer's own retry is
  * unaffected: its staged files were fully written before any claim,
  * and its successful re-claim at a later version references them.
  */
object TxTable {

  private val Magic = "graft-txn-v1"

  /** A writer folds a checkpoint after every N commits (triggered
    * best-effort from [[append]]). */
  val CheckpointInterval = 10

  /** An unterminated manifest older than this is presumed crashed and
    * may be fenced ([[fenceStalled]]); a healthy claim-to-terminator
    * window is milliseconds. */
  val DefaultFenceTtlMs: Long = 10 * 60 * 1000L

  /** One parsed commit. Paths are table-relative. `schema` is the
    * writer's Spark schema JSON (one line; absent on pre-r12
    * manifests and on no-op fences — the manifest format is itself
    * forward/backward compatible: unknown lines are skipped, a
    * missing schema line falls back to sample-file inference). */
  final case class Commit(version: Long, op: String,
      added: Seq[String], removed: Seq[String],
      schema: Option[String] = None,
      stats: Map[String, String] = Map.empty)

  private def logDir(table: String) = new Path(table, "_txlog")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def render(op: String, added: Seq[String], removed: Seq[String],
      schema: Option[String] = None,
      stats: Map[String, String] = Map.empty): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(Magic).append('\n').append("op=").append(op).append('\n')
    schema.foreach(j => sb.append("schema=").append(j).append('\n'))
    added.foreach { a =>
      sb.append("add=").append(a).append('\n')
      stats.get(a).foreach(j =>
        sb.append("stats=").append(a).append('\t').append(j).append('\n'))
    }
    removed.foreach(r => sb.append("remove=").append(r).append('\n'))
    sb.append("end\n")
    sb.toString.getBytes(UTF_8)
  }

  /** Parses a commit file; None = malformed or incomplete (treated as
    * not-yet-committed — the HDFS create-then-write window). */
  private def parse(version: Long, bytes: Array[Byte]): Option[Commit] = {
    val lines = new String(bytes, UTF_8).split("\n", -1).toSeq
    if (lines.headOption.contains(Magic) && lines.exists(_ == "end")) {
      val body = lines.takeWhile(_ != "end")
      val op = body.collectFirst { case l if l.startsWith("op=") => l.drop(3) }
      op.map(o => Commit(version,
        o,
        body.collect { case l if l.startsWith("add=") => l.drop(4) },
        body.collect { case l if l.startsWith("remove=") => l.drop(7) },
        body.collectFirst { case l if l.startsWith("schema=") => l.drop(7) },
        body.collect { case l if l.startsWith("stats=") => l.drop(6) }
          .flatMap { l =>
            val t = l.indexOf('\t')
            if (t > 0) Some(l.substring(0, t) -> l.substring(t + 1)) else None
          }.toMap))
    } else None
  }

  /** By-name, version-ordered schema merge — SCHEMA EVOLUTION on the
    * read path: the snapshot's effective schema is the union of every
    * commit's recorded schema (first appearance fixes position; later
    * appearances must agree on type — evolution may ADD columns and
    * widen nullability, never change a type in place). Files written
    * before a column existed read as NULL for it (Spark's parquet
    * reader resolves an explicit schema by name and fills missing
    * columns), so old snapshots stay readable after the table grows —
    * without schema-in-log, `spark.read.parquet` samples ONE file's
    * footer and silently DROPS the columns the sampled file predates.
    * At 100 TB this is also the cheap path: the schema rides in the
    * O(1) manifest fold; `mergeSchema=true` footer-merging would read
    * every file's footer. */
  private[graft] def mergeSchema(a: StructType, b: StructType): StructType = {
    val out = scala.collection.mutable.LinkedHashMap[String, StructField]()
    (a.fields ++ b.fields).foreach { f =>
      out.get(f.name) match {
        case None => out(f.name) = f
        case Some(prev) =>
          require(prev.dataType == f.dataType,
            s"TxTable schema evolution cannot change column '${f.name}': " +
              s"${prev.dataType.simpleString} vs ${f.dataType.simpleString}")
          if (!prev.nullable && f.nullable) out(f.name) = prev.copy(nullable = true)
      }
    }
    StructType(out.values.toSeq)
  }

  /** Writes and reads the `stats=` lines. Unquoted `NaN`/`Infinity`
    * are accepted because earlier manifests wrote doubles that way. */
  private val Json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  /** Per-file column stats from the parquet FOOTER (metadata-only —
    * no data pages read): one-line JSON of typed min/max per TOP-LEVEL
    * primitive column, merged across row groups. Typed so pruning
    * never round-trips an int64 through a double: `"t":"i"` plain
    * int32/64 (not a decimal, date or timestamp stored in one),
    * `"t":"d"` float/double, `"t":"s"` UTF-8 binary. A column missing
    * valid statistics in ANY row group is omitted (conservative).
    * Best-effort by design: any failure → no stats line → the file is
    * simply never pruned. */
  private def footerStats(spark: SparkSession, file: Path): Option[String] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val in = HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try {
      val chunks = reader.getFooter.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala).filter(_.getPath.size == 1)
      val out = Json.createObjectNode()
      chunks.map(_.getPath.toDotString).distinct.foreach { name =>
        val own = chunks.filter(_.getPath.toDotString == name)
        val st = own.map(_.getStatistics)
        if (st.forall(s => s != null && !s.isEmpty && s.hasNonNullValue)) {
          // every row group's min and max: their min is the file's
          // min, their max the file's max
          val ends = st.flatMap(s => Seq[Any](s.genericGetMin, s.genericGetMax))
          val pt = own.head.getPrimitiveType
          pt.getPrimitiveTypeName match {
            case INT32 | INT64 if pt.getLogicalTypeAnnotation == null ||
                pt.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
              val v = ends.map(_.asInstanceOf[Number].longValue)
              out.putObject(name).put("t", "i").put("min", v.min).put("max", v.max)
            case FLOAT | DOUBLE =>
              val v = ends.map(_.asInstanceOf[Number].doubleValue)
              out.putObject(name).put("t", "d")
                .put("min", v.reduce(_ min _)).put("max", v.reduce(_ max _))
            case BINARY if pt.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType() =>
              val v = ends.map(_.asInstanceOf[Binary].toStringUsingUTF8)
              out.putObject(name).put("t", "s").put("min", v.min).put("max", v.max)
            case _ => ()
          }
        }
      }
      if (out.isEmpty) None else Some(Json.writeValueAsString(out))
    } finally reader.close()
  } catch { case NonFatal(_) => None }

  private def parseSchema(json: String): Option[StructType] =
    try Some(DataType.fromJson(json).asInstanceOf[StructType])
    catch { case _: Exception => None } // tolerate foreign/corrupt lines

  private def txnName(v: Long): String = f"$v%020d.txn"

  private def ckptName(v: Long): String = f"$v%020d.ckpt"

  /** One fold of the log: the version it reached, its live files, the
    * merged schema (if any commit recorded one) and the live files'
    * `stats=` JSON. */
  private final case class Snapshot(version: Long, files: Seq[String],
      schema: Option[StructType], stats: Map[String, String])

  /** One listing of `_txlog` — the `.txn` and `.ckpt` entries by
    * version. Every operation opens the log once ([[openLog]]) and
    * answers all of its questions from this value; only a writer that
    * loses a claim race, or folds a checkpoint after its commit, opens
    * it again. Manifests are read when a question needs them, never at
    * listing time. */
  private final class Log(val fs: FileSystem,
      txns: SortedMap[Long, FileStatus], ckpts: SortedMap[Long, FileStatus]) {

    /** Above every claimed commit AND checkpoint, so a claim never
      * lands below a checkpoint whose manifests were cleaned away. */
    val nextVersion: Long = (txns.keySet ++ ckpts.keySet).maxOption.fold(0L)(_ + 1)

    /** See [[TxTable.initialized]]. */
    def initialized: Boolean = nextVersion > 0

    private def parsed(entries: Iterable[(Long, FileStatus)]): Iterator[Commit] =
      entries.iterator.flatMap { case (v, s) =>
        val in = fs.open(s.getPath)
        try parse(v, in.readAllBytes()) finally in.close()
      }

    /** Every parseable commit, including any beyond a contiguity gap. */
    def allCommits: Seq[Commit] = parsed(txns).toSeq

    /** Every parseable checkpoint. */
    def checkpoints: Seq[Commit] = parsed(ckpts).filter(_.op == "checkpoint").toSeq

    /** The newest parseable checkpoint at-or-below `asOf`; a torn or
      * garbage one is skipped for the next older. */
    def newestCheckpoint(asOf: Long = Long.MaxValue): Option[Commit] =
      parsed(ckpts.rangeTo(asOf).toSeq.reverse).find(_.op == "checkpoint")

    /** The contiguous parseable commits `from`, `from + 1`, ... up to
      * `asOf`. A gap, or a manifest that does not parse (a claimant
      * still writing, on stores whose claim is not content-atomic),
      * ends the run. */
    def run(from: Long, asOf: Long = Long.MaxValue): Iterator[Commit] =
      parsed(txns.rangeFrom(from).rangeTo(asOf)).zipWithIndex
        .takeWhile { case (c, i) => c.version == from + i }.map(_._1)

    /** The checkpoint-seeded fold: the newest checkpoint at-or-below
      * `asOf` seeds the live set, and only the contiguous `.txn` tail
      * above it is parsed, so a reader touches O(CheckpointInterval)
      * manifests however long the table has lived. None = no committed
      * state at-or-below `asOf`. Works after manifests below a
      * checkpoint have been cleaned away (where [[commits]] goes
      * empty). */
    def snapshot(asOf: Long = Long.MaxValue): Option[Snapshot] = {
      val ckpt = newestCheckpoint(asOf)
      val live = mutable.LinkedHashSet.from(ckpt.fold(Seq.empty[String])(_.added))
      val stats = mutable.Map.from(ckpt.fold(Map.empty[String, String])(_.stats))
      var schema = ckpt.flatMap(_.schema).flatMap(parseSchema)
      var version = ckpt.fold(-1L)(_.version)
      run(version + 1, asOf).foreach { c =>
        live ++= c.added; live --= c.removed; version = c.version
        stats ++= c.stats; c.removed.foreach(stats.remove)
        c.schema.flatMap(parseSchema).foreach(n =>
          schema = Some(schema.fold(n)(mergeSchema(_, n))))
      }
      if (version < 0) None
      else Some(Snapshot(version, live.toSeq, schema, stats.filter(kv => live(kv._1)).toMap))
    }

    /** See [[TxTable.fenceStalled]]: only `.txn` versions above the
      * newest checkpoint are candidates (anything at-or-below one was
      * parseable when the checkpoint folded it), and only TTL-stale
      * files are read. */
    def fenceStalled(ttlMs: Long): Seq[Long] = {
      val now = System.currentTimeMillis()
      val above = newestCheckpoint().fold(0L)(_.version + 1)
      txns.rangeFrom(above).toSeq.collect {
        case (v, s) if now - s.getModificationTime > ttlMs && parsed(Seq(v -> s)).isEmpty =>
          val out = fs.create(s.getPath, true)
          try out.write(render("abort", Seq.empty, Seq.empty)) finally out.close()
          v
      }
    }
  }

  /** The one listing of `<table>/_txlog`; a missing directory is an
    * empty log. */
  private def openLog(spark: SparkSession, table: String): Log = {
    val dir = logDir(table)
    val fs = fsOf(spark, dir)
    val entries = try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil }
    def byVersion(ext: String) = SortedMap.from(entries.flatMap { s =>
      val name = s.getPath.getName
      if (name.endsWith(ext)) name.stripSuffix(ext).toLongOption.map(_ -> s) else None
    })
    new Log(fs, byVersion(".txn"), byVersion(".ckpt"))
  }

  /** The log a writer claims from. On stores whose claim is NOT
    * content-atomic its stalled claims are fenced first; on `file`
    * (link-published) and conditional-PUT stores a torn manifest is
    * impossible by protocol, so the scan is skipped. */
  private def writerLog(spark: SparkSession, table: String): Log = {
    val log = openLog(spark, table)
    if (!Claims.forFs(log.fs).contentAtomic) log.fenceStalled(DefaultFenceTtlMs)
    log
  }

  /** The snapshot at `asOf`; throws when it has no files (there is no
    * schema to give an empty frame). */
  private def committed(log: Log, table: String, asOf: Long): Snapshot = {
    val snap = log.snapshot(asOf).filter(_.files.nonEmpty)
    require(snap.nonEmpty, s"TxTable $table has no committed files" +
      (if (asOf != Long.MaxValue) s" as of version $asOf" else ""))
    snap.get
  }

  /** The contiguous committed prefix 0..k — the protocol view, one
    * manifest per commit. A gap (possible only on stores whose claim
    * is not content-atomic, while the claimant is still writing) ends
    * it. */
  def commits(spark: SparkSession, table: String): Seq[Commit] =
    openLog(spark, table).run(0).toSeq

  /** True iff any version or checkpoint is claimed — the write-once
    * "already landed" test ([[commitOnce]], sources.Landing). It reads
    * no manifest, so it stays true after manifests below a checkpoint
    * are cleaned away (where [[commits]] goes empty) and while a
    * claimant is still writing version 0; neither may let a second
    * initializer re-claim version 0 (a silent lost write: the re-claim
    * would "succeed" while its data stays invisible to the
    * checkpoint-seeded read). */
  def initialized(spark: SparkSession, table: String): Boolean =
    openLog(spark, table).initialized

  /** Live table-relative files at `asOf` (default: latest). */
  def files(spark: SparkSession, table: String, asOf: Long = Long.MaxValue): Seq[String] =
    openLog(spark, table).snapshot(asOf).fold(Seq.empty[String])(_.files)

  /** Folds the current snapshot into a write-once `<version>.ckpt`
    * manifest (op=checkpoint, live files sorted, stats lines carried
    * verbatim — deterministic, so two racing checkpointers publish
    * identical content and the lost race is indistinguishable from the
    * win). The folded schema and stats ride in the checkpoint so
    * evolution and pruning survive manifest cleanup below it. */
  private def checkpoint(spark: SparkSession, table: String): Unit =
    openLog(spark, table).snapshot().foreach { s =>
      tryPublish(spark, table, ckptName(s.version),
        render("checkpoint", s.files.sorted, Seq.empty, s.schema.map(_.json), s.stats))
    }

  /** Gap fencing (crash recovery for non-content-atomic claims): any
    * manifest that does not parse and is older than `ttlMs` is a
    * claimant that died between its namenode claim and its `end`
    * terminator — left alone it truncates every reader's snapshot at
    * that version forever. Rewrites each one as an explicit no-op
    * `op=abort` commit (a no-op for every fold), restoring contiguity.
    * The overwrite is safe BECAUSE of the TTL: a live claimant's
    * claim-to-terminator window is milliseconds, so a manifest still
    * unterminated after `ttlMs` has no surviving writer (the residual
    * zombie window — a writer stalled past the TTL whose late write
    * lands after the fence — is caught writer-side by
    * [[CreateNoOverwriteClaim]]'s post-close verify, and is impossible
    * on content-atomic claims, which skip fencing entirely).
    *
    * Cost: O(CheckpointInterval) reads worst case, zero in a healthy
    * table, never O(commits). Writers on non-content-atomic stores run
    * it over the listing they claim from; returns the fenced
    * versions. */
  def fenceStalled(spark: SparkSession, table: String,
      ttlMs: Long = DefaultFenceTtlMs): Seq[Long] =
    openLog(spark, table).fenceStalled(ttlMs)

  /** Scans `files` of `snap`. The snapshot's merged schema (when
    * recorded) drives the scan: by-name resolution, missing columns
    * read as NULL — files that predate an added column stay readable,
    * and nothing samples or merges parquet footers. Legacy logs
    * without schema lines fall back to Spark's sample-file inference. */
  private def scan(spark: SparkSession, table: String, snap: Snapshot,
      files: Seq[String]): DataFrame =
    snap.schema.fold(spark.read)(spark.read.schema(_)).parquet(files.map(f => s"$table/$f"): _*)

  /** Snapshot read — only files named by the contiguous committed
    * prefix, so concurrent writers/compactors are invisible and a torn
    * read is impossible. Throws on an empty snapshot (no schema to
    * give an empty frame). */
  def read(spark: SparkSession, table: String, asOf: Long = Long.MaxValue): DataFrame = {
    val snap = committed(openLog(spark, table), table, asOf)
    scan(spark, table, snap, snap.files)
  }

  /** Data-skipping read — the manifest-stats half of the lakehouse
    * design ([[read]]'s schema-in-log being the other): semantically
    * IDENTICAL to `read(...).filter(col(column) BETWEEN lo AND hi)`,
    * but files whose footer-recorded [min,max] cannot intersect
    * [lo,hi] are never opened. Pruning is CONSERVATIVE: a file with
    * no stats (legacy manifest, failed collection, all-null column,
    * non-primitive column) is always scanned; a type-tag/bound
    * mismatch keeps the file. Numeric bounds compare exactly through
    * BigDecimal (an int64 never round-trips through a double), string
    * bounds lexically — the same contract parquet's own row-group
    * pruning applies, lifted to whole files through the O(1) manifest
    * fold so 999 of 1000 cold files are skipped WITHOUT reading even
    * their footers. Returns the filtered frame; [[prunedFiles]]
    * exposes the kept list for plan audits. */
  def readPruned(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, asOf: Long = Long.MaxValue): DataFrame = {
    val snap = committed(openLog(spark, table), table, asOf)
    val kept = prune(snap, column, lo, hi)
    val base =
      if (kept.nonEmpty) scan(spark, table, snap, kept)
      else // every file pruned: an empty frame in the snapshot's schema
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          snap.schema.getOrElse(scan(spark, table, snap, snap.files).schema))
    base.filter(col(column).between(lit(lo), lit(hi)))
  }

  /** The file subset [[readPruned]] would scan. */
  def prunedFiles(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, asOf: Long = Long.MaxValue): Seq[String] =
    openLog(spark, table).snapshot(asOf).fold(Seq.empty[String])(prune(_, column, lo, hi))

  private def prune(snap: Snapshot, column: String, lo: Any, hi: Any): Seq[String] = {
    val decimal = snap.schema.exists(_.find(_.name == column)
      .exists(_.dataType.isInstanceOf[DecimalType]))
    snap.files.filter(f => snap.stats.get(f).forall(overlaps(_, column, decimal, lo, hi)))
  }

  /** False only when `stats` (one file's stats line) proves no value
    * of `column` in the file lies in [lo, hi]. No stats for the
    * column, bounds of another type, or anything unexpected keep the
    * file. So does an `"i"` line for a `decimal` column: manifests
    * written before decimals were told apart from integers carry its
    * unscaled values under that tag. */
  private def overlaps(stats: String, column: String, decimal: Boolean,
      lo: Any, hi: Any): Boolean = try {
    val c = Json.readTree(stats).path(column)
    val (mn, mx) = (c.path("min"), c.path("max"))
    (c.path("t").asText, lo, hi) match {
      case ("i", _, _) if decimal => true
      case ("i" | "d", l: Number, h: Number) if mn.isNumber && mx.isNumber =>
        def dec(n: Number) = new java.math.BigDecimal(n.toString)
        mx.decimalValue.compareTo(dec(l)) >= 0 && mn.decimalValue.compareTo(dec(h)) <= 0
      case ("s", l: String, h: String) if mn.isTextual && mx.isTextual =>
        mx.asText >= l && mn.asText <= h
      case _ => true
    }
  } catch { case NonFatal(_) => true }

  /** Atomic publish of `content` at version `v`. True = this writer
    * owns the version. */
  private def tryClaim(spark: SparkSession, table: String, v: Long,
      content: Array[Byte]): Boolean =
    tryPublish(spark, table, txnName(v), content)

  /** Atomic write-once publish of a log file via the scheme's
    * [[ClaimPrimitive]] ([[Claims.forFs]]: `link(2)` on `file`,
    * create-no-overwrite on HDFS-like stores, a registered
    * [[ConditionalPutClaim]] on object stores). False = the name was
    * already claimed (a lost race — the ONLY outcome mapped to false;
    * a real IO failure propagates after the primitive's best-effort
    * cleanup of its own half-written claim, which [[fenceStalled]]
    * covers if even the cleanup fails). */
  private def tryPublish(spark: SparkSession, table: String, name: String,
      content: Array[Byte]): Boolean = {
    val dir = logDir(table)
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    Claims.forFs(fs).putIfAbsent(fs, new Path(dir, name), content)
  }

  /** Runs `write` into a fresh writer-private directory; returns it
    * (table-relative), every data file under it as a Spark scan sees
    * them ([[graft.ParquetMeta.dataFiles]]), and, if `footers`, footer
    * stats for the parquet ones. */
  private def stage(spark: SparkSession, table: String, footers: Boolean = true)(
      write: String => Unit): (String, Seq[String], Map[String, String]) = {
    val rel = s"data/${java.util.UUID.randomUUID()}"
    write(s"$table/$rel")
    val dir = new Path(s"$table/$rel")
    val fs = fsOf(spark, dir)
    val added = graft.ParquetMeta.dataFiles(fs, dir).map { case (f, _) => s"$rel/$f" }
    // footer stats per staged file (metadata-only, best-effort): the
    // data-skipping half of the commit
    val stats = added.filter(f => footers && f.endsWith(".parquet")).flatMap(f =>
      footerStats(spark, new Path(s"$table/$f")).map(f -> _)).toMap
    (rel, added, stats)
  }

  private def parquetWriter(df: DataFrame): String => Unit =
    df.write.mode(SaveMode.ErrorIfExists).parquet(_)

  /** Deletes a staging directory no commit references (a lost race). */
  private def unstage(spark: SparkSession, table: String, rel: String): Unit = {
    val dir = new Path(s"$table/$rel")
    fsOf(spark, dir).delete(dir, true)
  }

  /** The writer-private staging directory (`data/<attemptId>`) a
    * table-relative file path was staged under. */
  private[graft] def stagingDirOf(file: String): String =
    file.split('/').take(2).mkString("/")

  /** Transactional append: stage, then claim the next version of the
    * log read before staging (re-open the log and re-claim on a lost
    * race — the staged files are reused). Returns the committed
    * version. Safe under any number of concurrent appenders: each
    * one's rows land in exactly one committed version. */
  def append(df: DataFrame, table: String, maxRetries: Int = 100): Long = {
    val spark = df.sparkSession
    var log = writerLog(spark, table)
    // Refuse an append whose schema cannot merge with the table's
    // (type changed in place) BEFORE staging — a claim-time race can
    // still slip a conflicting pair through, so read() re-validates
    // when it folds (defense in depth), but the common failure is
    // caught at the writer with the writer's stack.
    log.snapshot().flatMap(_.schema).foreach(mergeSchema(_, df.schema))
    val (rel, added, stats) = stage(spark, table)(parquetWriter(df))
    val content = render("append", added, Seq.empty, Some(df.schema.json), stats)
    var attempt = 0
    while (attempt < maxRetries) {
      val v = log.nextVersion
      if (tryClaim(spark, table, v, content)) {
        // best-effort: the append IS committed at this point — a
        // failed checkpoint must not make a successful commit look
        // failed (the next interval retries it)
        if ((v + 1) % CheckpointInterval == 0)
          try checkpoint(spark, table)
          catch { case _: java.io.IOException => () }
        return v
      }
      attempt += 1
      log = writerLog(spark, table)
    }
    // reclaim our own staging before surfacing the failure — the same
    // cleanup replaceCompact/commitOnce do on a lost race (ADVICE r10)
    unstage(spark, table, rel)
    throw new IllegalStateException(
      s"TxTable.append lost $maxRetries claim races on $table")
  }

  /** Write-once initialization: exactly one concurrent caller's frame
    * becomes version 0; every other caller's staged copy is discarded.
    * Returns true iff THIS call won. */
  def commitOnce(df: DataFrame, table: String): Boolean =
    commitOnce(df.sparkSession, table, Some(df.schema))(parquetWriter(df))

  /** [[commitOnce]] for any writer: `write` fills the staging
    * directory it is given (any format, any layout) and version 0 lists
    * every data file under it — the multi-JVM-safe landing of a
    * write-once artifact (sources.Landing). Footer stats, which only
    * [[readPruned]] uses, are collected for a frame with a `schema`;
    * a directory landing is read back by its own format's reader and
    * skips the footer reads (about 12 ms per parquet file on a
    * 4-core host). A table already [[initialized]] stages nothing. */
  def commitOnce(spark: SparkSession, table: String, schema: Option[StructType] = None)(
      write: String => Unit): Boolean = {
    if (writerLog(spark, table).initialized) return false
    val (rel, added, stats) = stage(spark, table, footers = schema.nonEmpty)(write)
    val won = tryClaim(spark, table, 0L,
      render("append", added, Seq.empty, schema.map(_.json), stats))
    // lost: reclaim the orphaned staging directory immediately
    if (!won) unstage(spark, table, rel)
    won
  }

  /** Optimistic whole-table replacement — compaction as a COMMIT, the
    * transactional upgrade of [[Sinks.compact]]'s two-rename swap (a
    * reader can never observe the path missing, and a concurrent
    * append is never silently dropped: its commit makes our claim
    * fail, and the retry's fresh snapshot includes it). Rewrites the
    * current snapshot into `nOut` files. Returns the commit version. */
  def replaceCompact(spark: SparkSession, table: String, nOut: Int,
      maxRetries: Int = 20, sortBy: Seq[String] = Nil): Long = {
    var attempt = 0
    while (attempt < maxRetries) {
      // the checkpoint-seeded snapshot head, NOT the from-zero
      // commits() view — the latter goes empty after manifests below a
      // checkpoint are cleaned away (ADVICE r11)
      val snap = committed(writerLog(spark, table), table, Long.MaxValue)
      // sortBy = CLUSTERED compaction: range-partition + sort the
      // rewrite so each output file covers a tight, near-disjoint
      // range of the sort key and the fresh footer stats make
      // [[readPruned]] effective again — an unsorted repartition mixes
      // every file's range to the full domain and data skipping
      // degrades to scan-everything after compaction.
      val base = scan(spark, table, snap, snap.files)
      val compacted =
        if (sortBy.isEmpty) base.repartition(nOut)
        else base.repartitionByRange(nOut, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      val (rel, added, stats) = stage(spark, table)(parquetWriter(compacted))
      if (tryClaim(spark, table, snap.version + 1,
          render("replace", added, snap.files, Some(compacted.schema.json), stats)))
        return snap.version + 1
      // a concurrent commit interleaved: our snapshot (and removal
      // set) is stale — drop the staged copy and retry from fresh
      unstage(spark, table, rel)
      attempt += 1
    }
    throw new IllegalStateException(
      s"TxTable.replaceCompact lost $maxRetries claim races on $table")
  }

  /** Reclaims staging directories no commit references (crashed or
    * race-losing writers) once older than `ttlMs` — the TTL keeps an
    * IN-FLIGHT writer's staged-but-not-yet-committed directory safe.
    * Files removed by replace commits are kept (they serve time-travel
    * reads); pass `dropRemoved = true` to reclaim those too, after
    * which `read(asOf)` older than the last replace throws. Returns
    * the deleted directory/file names. */
  def vacuum(spark: SparkSession, table: String, ttlMs: Long,
      dropRemoved: Boolean = false): Seq[String] = {
    val log = openLog(spark, table)
    val all = log.allCommits
    // the referenced set must ALSO cover checkpoint manifests: after
    // .txn manifests at-or-below a checkpoint are cleaned away, live
    // data's ONLY surviving reference is the .ckpt — omitting it made
    // vacuum delete live data (ADVICE r11, high)
    val referenced = (all.flatMap(c => c.added ++ c.removed) ++ log.checkpoints.flatMap(_.added))
      .map(f => stagingDirOf(f).stripPrefix("data/")).toSet
    val dataDir = new Path(table, "data")
    val fs = fsOf(spark, dataDir)
    val now = System.currentTimeMillis()
    val orphans =
      if (!fs.exists(dataDir)) Seq.empty
      else fs.listStatus(dataDir).toSeq
        .filter(s => s.isDirectory && !referenced(s.getPath.getName) &&
          now - s.getModificationTime > ttlMs)
    orphans.foreach(s => fs.delete(s.getPath, true))
    val droppedFiles =
      if (!dropRemoved) Seq.empty
      else {
        val live = log.snapshot().fold(Set.empty[String])(_.files.toSet)
        val removed = all.flatMap(_.removed).distinct.filterNot(live)
        removed.filter(f => fs.delete(new Path(s"$table/$f"), false))
      }
    orphans.map(s => s"data/${s.getPath.getName}") ++ droppedFiles
  }
}
