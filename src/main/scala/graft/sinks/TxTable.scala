package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

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
  * column, escape-bearing string bound, type mismatch) → the file is
  * scanned. Checkpoints carry the folded stats verbatim, so skipping
  * survives manifest cleanup; compaction's rewrite records fresh stats
  * for the files it produces.
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
    * best-effort from [[append]]; [[checkpoint]] is also public). */
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

  /** Per-file column stats from the parquet FOOTER (metadata-only —
    * no data pages read): one-line JSON of typed min/max per TOP-LEVEL
    * primitive column, merged across row groups. Typed so pruning
    * never round-trips an int64 through a double: `"t":"i"` int32/64,
    * `"t":"d"` float/double, `"t":"s"` UTF-8 binary. A column missing
    * valid statistics in ANY row group is omitted (conservative).
    * Best-effort by design: any failure → no stats line → the file is
    * simply never pruned. */
  private def footerStats(spark: SparkSession, file: Path): Option[String] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val in = HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try {
      val md = reader.getFooter.getBlocks.asScala
      // (tag, min, max) per column; None once any row group lacks stats
      val acc = scala.collection.mutable.LinkedHashMap[String, Option[(Char, Any, Any)]]()
      md.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          if (c.getPath.size == 1) {
            val name = c.getPath.toDotString
            val st = c.getStatistics
            val pt = c.getPrimitiveType
            val isUtf8 = pt.getPrimitiveTypeName == BINARY &&
              pt.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType()
            val tag: Option[Char] = pt.getPrimitiveTypeName match {
              case INT32 | INT64 => Some('i')
              case FLOAT | DOUBLE => Some('d')
              case BINARY if isUtf8 => Some('s')
              case _ => None
            }
            val valid = tag.isDefined && st != null && !st.isEmpty && st.hasNonNullValue
            if (!valid) acc(name) = None
            else if (!acc.contains(name) || acc(name).isDefined) {
              val (mn, mx): (Any, Any) = tag.get match {
                case 'i' => (st.genericGetMin match {
                    case i: java.lang.Integer => i.longValue
                    case l: java.lang.Long => l.longValue
                  }, st.genericGetMax match {
                    case i: java.lang.Integer => i.longValue
                    case l: java.lang.Long => l.longValue
                  })
                case 'd' => (st.genericGetMin match {
                    case f: java.lang.Float => f.doubleValue
                    case d: java.lang.Double => d.doubleValue
                  }, st.genericGetMax match {
                    case f: java.lang.Float => f.doubleValue
                    case d: java.lang.Double => d.doubleValue
                  })
                case 's' =>
                  (st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                     .toStringUsingUTF8,
                   st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                     .toStringUsingUTF8)
              }
              acc(name) = acc.get(name).flatten match {
                case None => Some((tag.get, mn, mx))
                case Some((t, pmn, pmx)) =>
                  def lt(a: Any, b: Any): Boolean = (t: @unchecked) match {
                    case 'i' => a.asInstanceOf[Long] < b.asInstanceOf[Long]
                    case 'd' => a.asInstanceOf[Double] < b.asInstanceOf[Double]
                    case 's' => a.asInstanceOf[String] < b.asInstanceOf[String]
                  }
                  Some((t, if (lt(mn, pmn)) mn else pmn, if (lt(pmx, mx)) mx else pmx))
              }
            }
          }
        }
      }
      def jstr(v: String): String =
        "\"" + v.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
      val fields = acc.collect { case (name, Some((t, mn, mx))) =>
        def enc(v: Any): String = t match {
          case 's' => jstr(v.asInstanceOf[String])
          case _ => v.toString
        }
        s"${jstr(name)}:{" + "\"t\":\"" + t + "\",\"min\":" + enc(mn) +
          ",\"max\":" + enc(mx) + "}"
      }
      if (fields.isEmpty) None else Some(fields.mkString("{", ",", "}"))
    } finally reader.close()
  } catch { case scala.util.control.NonFatal(_) => None }

  private def parseSchema(json: String): Option[StructType] =
    try Some(DataType.fromJson(json).asInstanceOf[StructType])
    catch { case _: Exception => None } // tolerate foreign/corrupt lines

  private def versionOf(name: String): Option[Long] =
    if (name.endsWith(".txn")) name.stripSuffix(".txn").toLongOption else None

  private def ckptVersionOf(name: String): Option[Long] =
    if (name.endsWith(".ckpt")) name.stripSuffix(".ckpt").toLongOption else None

  private def txnName(v: Long): String = f"$v%020d.txn"

  private def ckptName(v: Long): String = f"$v%020d.ckpt"

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** All parseable commits, sorted — including any beyond a contiguity
    * gap (callers that need a snapshot use [[commits]]). */
  private def rawCommits(spark: SparkSession, table: String): Seq[Commit] = {
    val dir = logDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => versionOf(s.getPath.getName).map(v => (v, s.getPath)))
      .sortBy(_._1)
      .flatMap { case (v, p) => parse(v, readBytes(fs, p)) }
  }

  /** All parseable checkpoint manifests, sorted (vacuum's reference
    * view — after manifest cleanup a checkpoint may be live data's
    * only surviving reference). */
  private def rawCheckpoints(spark: SparkSession, table: String): Seq[Commit] = {
    val dir = logDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => ckptVersionOf(s.getPath.getName).map(v => (v, s.getPath)))
      .sortBy(_._1)
      .flatMap { case (v, p) => parse(v, readBytes(fs, p)).filter(_.op == "checkpoint") }
  }

  /** The contiguous committed prefix 0..k — the snapshot a reader may
    * trust. A gap (possible only on stores whose claim is not
    * content-atomic, while the claimant is still writing) ends the
    * snapshot before it. */
  def commits(spark: SparkSession, table: String): Seq[Commit] = {
    val raw = rawCommits(spark, table)
    raw.zipWithIndex.takeWhile { case (c, i) => c.version == i.toLong }.map(_._1)
  }

  /** The checkpoint-seeded fold: the newest parseable `.ckpt`
    * at-or-below `asOf` seeds the live set and only the contiguous
    * `.txn` tail above it is parsed, so a reader touches
    * O(CheckpointInterval) manifests however long the table has lived.
    * A torn checkpoint is skipped (next older, then the full fold —
    * checkpoints are pure acceleration, never a correctness
    * dependency). Returns (snapshot version, live files, effective
    * merged schema); None = no committed state at-or-below `asOf`.
    * Works after manifests below a checkpoint have been cleaned away
    * (where the from-zero [[commits]] view goes empty). */
  private def snapshotAt(spark: SparkSession, table: String,
      asOf: Long = Long.MaxValue)
      : Option[(Long, Seq[String], Option[StructType], Map[String, String])] = {
    val dir = logDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return None
    val entries = fs.listStatus(dir).toSeq
    val ckpt = entries
      .flatMap(s => ckptVersionOf(s.getPath.getName).map(v => (v, s.getPath)))
      .filter(_._1 <= asOf).sortBy(-_._1)
      .iterator
      .flatMap { case (v, p) => parse(v, readBytes(fs, p)).filter(_.op == "checkpoint") }
      .nextOption()
    val live = scala.collection.mutable.LinkedHashSet[String](
      ckpt.map(_.added).getOrElse(Seq.empty): _*)
    val stats = scala.collection.mutable.LinkedHashMap[String, String](
      ckpt.map(_.stats.toSeq).getOrElse(Seq.empty): _*)
    var schema: Option[StructType] = ckpt.flatMap(_.schema).flatMap(parseSchema)
    var version = ckpt.map(_.version).getOrElse(-1L)
    var expect = version + 1
    var contiguous = true
    entries
      .flatMap(s => versionOf(s.getPath.getName).map(v => (v, s.getPath)))
      .filter { case (v, _) => v >= expect && v <= asOf }.sortBy(_._1)
      .foreach { case (v, p) =>
        if (contiguous && v == expect) parse(v, readBytes(fs, p)) match {
          case Some(c) =>
            live ++= c.added; live --= c.removed; version = v; expect += 1
            stats ++= c.stats; c.removed.foreach(stats.remove)
            c.schema.flatMap(parseSchema).foreach(n =>
              schema = Some(schema.fold(n)(mergeSchema(_, n))))
          case None => contiguous = false // claimant mid-write: snapshot ends here
        }
        else contiguous = false
      }
    if (version < 0) None
    else Some((version, live.toSeq, schema, stats.filter(kv => live(kv._1)).toMap))
  }

  /** Live table-relative files at `asOf` (default: latest) —
    * checkpoint-first via [[snapshotAt]]. */
  def files(spark: SparkSession, table: String, asOf: Long = Long.MaxValue): Seq[String] =
    snapshotAt(spark, table, asOf).map(_._2).getOrElse(Seq.empty)

  /** The snapshot's effective schema at `asOf` (merged over recorded
    * commit schemas), if any commit in the snapshot recorded one. */
  def schemaAt(spark: SparkSession, table: String,
      asOf: Long = Long.MaxValue): Option[StructType] =
    snapshotAt(spark, table, asOf).flatMap(_._3)


  /** The checkpoint-seeded snapshot head — [[snapshotAt]] at latest. */
  private def snapshotState(spark: SparkSession, table: String): Option[(Long, Seq[String])] =
    snapshotAt(spark, table).map { case (v, live, _, _) => (v, live) }

  /** Folds the current contiguous snapshot into a write-once
    * `<version>.ckpt` manifest (op=checkpoint, live files sorted —
    * deterministic, so two racing checkpointers publish identical
    * content and the lost race is indistinguishable from the win).
    * Returns the checkpointed version; None on an empty table.
    * Triggered best-effort from [[append]] every [[CheckpointInterval]]
    * commits and safe to call any time — including after manifests
    * below an older checkpoint have been cleaned away (the fold seeds
    * from the newest checkpoint, not from version 0). */
  def checkpoint(spark: SparkSession, table: String): Option[Long] = {
    snapshotAt(spark, table).map { case (version, live, schema, stats) =>
      // the folded schema AND per-file stats ride in the checkpoint so
      // evolution and pruning survive manifest cleanup below it;
      // deterministic from the prefix (stats strings carried verbatim,
      // adds sorted), so racing checkpointers still publish identical
      // bytes
      tryPublish(spark, table, ckptName(version),
        render("checkpoint", live.sorted, Seq.empty, schema.map(_.json), stats))
      version
    }
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
    * Cost: only `.txn` versions ABOVE the newest checkpoint are
    * candidates (anything at-or-below a checkpoint was parseable when
    * the checkpoint folded it, so a gap there is impossible), and only
    * TTL-stale files are read — O(CheckpointInterval) reads worst
    * case, zero in a healthy table, never O(commits). Run by writers
    * on non-content-atomic stores before claiming; returns the fenced
    * versions. */
  def fenceStalled(spark: SparkSession, table: String,
      ttlMs: Long = DefaultFenceTtlMs): Seq[Long] = {
    val dir = logDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return Seq.empty
    val now = System.currentTimeMillis()
    val entries = fs.listStatus(dir).toSeq
    val newestCkpt = entries
      .flatMap(s => ckptVersionOf(s.getPath.getName).map(v => (v, s.getPath)))
      .sortBy(-_._1)
      .iterator
      .flatMap { case (v, p) => parse(v, readBytes(fs, p)).filter(_.op == "checkpoint") }
      .nextOption().map(_.version).getOrElse(-1L)
    entries
      .flatMap(s => versionOf(s.getPath.getName).map(v => (v, s)))
      .filter { case (v, s) => v > newestCkpt &&
        now - s.getModificationTime > ttlMs &&
        parse(v, readBytes(fs, s.getPath)).isEmpty }
      .map { case (v, s) =>
        val out = fs.create(s.getPath, true)
        try out.write(render("abort", Seq.empty, Seq.empty)) finally out.close()
        v
      }
      .sorted
  }

  /** Snapshot read — only files named by the contiguous committed
    * prefix, so concurrent writers/compactors are invisible and a torn
    * read is impossible. Throws on an empty snapshot (no schema to
    * give an empty frame). */
  def read(spark: SparkSession, table: String, asOf: Long = Long.MaxValue): DataFrame = {
    val snap = snapshotAt(spark, table, asOf)
    val fs = snap.map(_._2).getOrElse(Seq.empty)
    require(fs.nonEmpty, s"TxTable $table has no committed files" +
      (if (asOf != Long.MaxValue) s" as of version $asOf" else ""))
    // The snapshot's merged schema (when recorded) drives the scan:
    // by-name resolution, missing columns read as NULL — files that
    // predate an added column stay readable, and nothing samples or
    // merges parquet footers. Legacy logs without schema lines fall
    // back to Spark's sample-file inference.
    val reader = snap.flatMap(_._3)
      .map(spark.read.schema(_)).getOrElse(spark.read)
    reader.parquet(fs.map(f => s"$table/$f"): _*)
  }

  /** The snapshot's per-file stats map (table-relative path → typed
    * min/max JSON), as folded from manifests + checkpoints. */
  def statsAt(spark: SparkSession, table: String,
      asOf: Long = Long.MaxValue): Map[String, String] =
    snapshotAt(spark, table, asOf).map(_._4).getOrElse(Map.empty)

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
    val kept = prunedFiles(spark, table, column, lo, hi, asOf)
    require(kept.nonEmpty || files(spark, table, asOf).nonEmpty,
      s"TxTable $table has no committed files")
    val schema = snapshotAt(spark, table, asOf).flatMap(_._3)
    val base =
      if (kept.isEmpty) {
        // every file pruned: an empty frame in the snapshot's schema
        val sch = schema.getOrElse(read(spark, table, asOf).schema)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      } else {
        val reader = schema.map(spark.read.schema(_)).getOrElse(spark.read)
        reader.parquet(kept.map(f => s"$table/$f"): _*)
      }
    base.filter(col(column).between(lit(lo), lit(hi)))
  }

  /** The file subset [[readPruned]] would scan. */
  def prunedFiles(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any, asOf: Long = Long.MaxValue): Seq[String] = {
    val snap = snapshotAt(spark, table, asOf)
    val live = snap.map(_._2).getOrElse(Seq.empty)
    val stats = snap.map(_._4).getOrElse(Map.empty)
    live.filter { f =>
      stats.get(f).flatMap(colBounds(_, column)) match {
        case None => true // no usable stats: never prune
        case Some((tag, mn, mx)) => overlaps(tag, mn, mx, lo, hi)
      }
    }
  }

  /** Extracts column `c`'s (tag, min, max) from a stats JSON line —
    * a tiny regex-free scan of the flat one-level format [[footerStats]]
    * writes; returns None on anything unexpected (→ no pruning). */
  private def colBounds(json: String, c: String): Option[(Char, String, String)] = try {
    val key = "\"" + c + "\":{"
    val i = json.indexOf(key)
    if (i < 0) None
    else {
      val obj = json.substring(i + key.length, json.indexOf('}', i))
      def field(k: String): Option[String] = {
        val j = obj.indexOf("\"" + k + "\":")
        if (j < 0) None
        else {
          val from = j + k.length + 3
          val end = {
            var d = from; var inStr = obj.charAt(from) == '"'
            if (inStr) { d += 1; while (obj.charAt(d) != '"' || obj.charAt(d - 1) == '\\') d += 1; d + 1 }
            else { while (d < obj.length && obj.charAt(d) != ',') d += 1; d }
          }
          Some(obj.substring(from, end))
        }
      }
      for { t <- field("t"); mn <- field("min"); mx <- field("max") }
        yield (t.charAt(1), mn, mx)
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  private def overlaps(tag: Char, mnS: String, mxS: String, lo: Any, hi: Any): Boolean = try {
    tag match {
      case 'i' | 'd' =>
        def num(a: Any): Option[BigDecimal] = a match {
          case n: Number => Some(BigDecimal(n.toString))
          case _ => None
        }
        (num(lo), num(hi)) match {
          case (Some(l), Some(h)) =>
            val mn = BigDecimal(mnS); val mx = BigDecimal(mxS)
            !(mx < l || mn > h)
          case _ => true // non-numeric bounds against numeric stats: keep
        }
      case 's' =>
        (lo, hi) match {
          // any escape in the recorded bound → comparing the raw JSON
          // text could prune a MATCHING file; keep it instead (pruning
          // must only ever be conservative)
          case (_, _) if mnS.contains('\\') || mxS.contains('\\') => true
          case (l: String, h: String) =>
            val mn = mnS.stripPrefix("\"").stripSuffix("\"")
            val mx = mxS.stripPrefix("\"").stripSuffix("\"")
            !(mx < l || mn > h)
          case _ => true
        }
      case _ => true
    }
  } catch { case scala.util.control.NonFatal(_) => true }

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

  /** Fence stalls iff the scheme's claim is NOT content-atomic —
    * on `file` (link-published) and conditional-PUT stores a torn
    * manifest is impossible by protocol, so writers skip the scan
    * entirely. */
  private def fenceIfNeeded(spark: SparkSession, table: String): Unit = {
    val fs = fsOf(spark, logDir(table))
    if (!Claims.forFs(fs).contentAtomic) fenceStalled(spark, table)
  }

  private def nextVersion(spark: SparkSession, table: String): Long = {
    val dir = logDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).toSeq
      .flatMap { s =>
        val n = s.getPath.getName
        versionOf(n).orElse(ckptVersionOf(n))
      }
      .reduceOption(_ max _).map(_ + 1).getOrElse(0L)
  }

  /** Runs `write` into a fresh writer-private directory; returns it
    * (table-relative), every data file under it recursively (names
    * starting `_` or `.` are writer metadata, as in Spark's scans),
    * and, if `footers`, footer stats for the parquet ones. */
  private def stage(spark: SparkSession, table: String, footers: Boolean = true)(
      write: String => Unit): (String, Seq[String], Map[String, String]) = {
    val rel = s"data/${java.util.UUID.randomUUID()}"
    write(s"$table/$rel")
    val dir = new Path(s"$table/$rel")
    val fs = fsOf(spark, dir)
    def walk(p: Path, prefix: String): Seq[String] = fs.listStatus(p).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (st.isDirectory) walk(st.getPath, s"$prefix/$name")
      else Seq(s"$prefix/$name")
    }
    val added = if (fs.exists(dir)) walk(dir, rel).sorted else Nil
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

  /** Transactional append: stage, then claim the next version (re-list
    * and re-claim on a lost race — the staged files are reused).
    * Returns the committed version. Safe under any number of
    * concurrent appenders: each one's rows land in exactly one
    * committed version. */
  def append(df: DataFrame, table: String, maxRetries: Int = 100): Long = {
    val spark = df.sparkSession
    fenceIfNeeded(spark, table)
    // Refuse an append whose schema cannot merge with the table's
    // (type changed in place) BEFORE staging — a claim-time race can
    // still slip a conflicting pair through, so read() re-validates
    // when it folds (defense in depth), but the common failure is
    // caught at the writer with the writer's stack.
    schemaAt(spark, table).foreach(existing => mergeSchema(existing, df.schema))
    val (rel, added, stats) = stage(spark, table)(parquetWriter(df))
    val content = render("append", added, Seq.empty, Some(df.schema.json), stats)
    var attempt = 0
    while (attempt < maxRetries) {
      val v = nextVersion(spark, table)
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
    * 4-core host). */
  def commitOnce(spark: SparkSession, table: String, schema: Option[StructType] = None)(
      write: String => Unit): Boolean = {
    fenceIfNeeded(spark, table)
    // initialized = ANY claimed version or checkpoint exists (that is
    // exactly nextVersion > 0) — the from-zero commits() view goes
    // empty after manifests below a checkpoint are cleaned away, and a
    // mid-write claimant's v0 is still a claim; neither must let a
    // second initializer re-claim version 0 (ADVICE r11: a silent lost
    // write — the re-claim would "succeed" while its data stays
    // invisible to the checkpoint-seeded read).
    if (nextVersion(spark, table) > 0) return false
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
    fenceIfNeeded(spark, table)
    var attempt = 0
    while (attempt < maxRetries) {
      // snapshot head from the checkpoint-seeded fold, NOT the
      // from-zero commits() view — the latter goes empty after
      // manifests below a checkpoint are cleaned away, which made
      // compaction throw "nothing to compact" on a healthy table
      // (ADVICE r11)
      val snap = snapshotState(spark, table)
      require(snap.nonEmpty, s"TxTable $table is empty; nothing to compact")
      val (snapV, current) = snap.get
      // sortBy = CLUSTERED compaction: range-partition + sort the
      // rewrite so each output file covers a tight, near-disjoint
      // range of the sort key and the fresh footer stats make
      // [[readPruned]] effective again — an unsorted repartition mixes
      // every file's range to the full domain and data skipping
      // degrades to scan-everything after compaction.
      val base = read(spark, table, snapV)
      val compacted =
        if (sortBy.isEmpty) base.repartition(nOut)
        else base.repartitionByRange(nOut, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      val (rel, added, stats) = stage(spark, table)(parquetWriter(compacted))
      if (tryClaim(spark, table, snapV + 1,
          render("replace", added, current, Some(compacted.schema.json), stats)))
        return snapV + 1
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
    val all = rawCommits(spark, table)
    // the referenced set must ALSO cover checkpoint manifests: after
    // .txn manifests at-or-below a checkpoint are cleaned away, live
    // data's ONLY surviving reference is the .ckpt — omitting it made
    // vacuum delete live data (ADVICE r11, high)
    val ckptAdds = rawCheckpoints(spark, table).flatMap(_.added)
    val referenced = (all.flatMap(c => c.added ++ c.removed) ++ ckptAdds)
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
        val live = files(spark, table).toSet
        val removed = all.flatMap(_.removed).distinct.filterNot(live)
        removed.filter(f => fs.delete(new Path(s"$table/$f"), false))
      }
    orphans.map(s => s"data/${s.getPath.getName}") ++ droppedFiles
  }
}
