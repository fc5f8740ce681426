package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.TxTable

/** Write-once landing area for the file-format round-trip queries
  * (CSV/JSON/XML config, ORC, text lines, partitioned parquet, binary
  * files) and the shared pair/edge artifacts (lsh_pairs_v2, ...).
  *
  * Each of those queries must first LAND data in its format before the
  * scan under test can read it. Landing into a fresh temp directory on
  * every invocation (a) re-runs the write job inside Bench's timed
  * window, so the reported "scan" seconds included a write, and (b)
  * leaks a directory per call (Bench runs each query 4+ times per
  * round). Instead: a deterministic path keyed by (sfDir fingerprint,
  * kind), landed once — first call lands, every later call (and every
  * later Bench pass; the min-of-passes estimator then times the pure
  * read) just scans.
  *
  * One protocol lands every artifact: the [[graft.sinks.TxTable]]
  * version-0 claim ([[graft.sinks.TxTable.commitOnce]]). The writer
  * fills a private staging directory; the artifact exists once a
  * commit of version 0 names that directory's files. So a crashed
  * landing leaves no commit and the next caller re-lands; two JVMs
  * racing to land the same artifact both stage but only one claims
  * version 0 (the loser's staging is reclaimed), and every reader
  * follows the claim — no reader observes a half-written or doubly
  * written directory.
  *
  * The key folds in a SOURCE-DATA FINGERPRINT, the MD5 of sfDir's
  * `Tables.pathStamp` (name, size and mtime of every entry, one level
  * deep — the same stamp that guards the Tables memo), so a
  * regenerated corpus at the same path invalidates the artifact
  * automatically: the old failure mode was a stale artifact from a
  * prior corpus silently served to the consumer queries while their
  * oracles computed fresh from the new data. Any regeneration, even
  * same-size, bumps an mtime and re-keys the landing. Metadata-only,
  * so the fingerprint costs microseconds — no content read, no Spark
  * job.
  */
object Landing {

  private val landed = scala.collection.mutable.Set[String]()

  /** r13 (VERDICT item 2): seconds spent actually EXECUTING each
    * artifact's landing pipeline in this JVM, keyed by kind. Bench
    * wipes this corpus's landing dir at start, so its warmup pass
    * re-lands every artifact and this map discloses the first-land
    * cost next to the per-query read-only times ("landings" in the
    * bench JSON). Empty entries mean the artifact was already on disk
    * (another JVM landed it after the wipe — not possible in a normal
    * bench run). */
  val timings = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private def timed[A](kind: String)(work: => A): A = {
    val t0 = System.nanoTime()
    val r = work
    timings.put(kind, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Deletes every landed artifact for `sfDir`'s CURRENT content (and
    * forgets the in-JVM marks), so the next consumer re-lands from the
    * parquet inputs. Bench calls this at start: every bench invocation
    * then derives all artifacts fresh during warmup instead of serving
    * a directory landed by a previous run. */
  def reset(sfDir: String): Unit = synchronized {
    val fpDir = new java.io.File(keyedPath(sfDir, "x")).getParentFile
    deleteRecursively(fpDir)
    landed.retain(p => !p.startsWith(fpDir.getPath + "/"))
    timings.clear()
  }

  /** Returns the landing directory for (sfDir, kind) — the staging
    * directory committed as version 0 — running `write` into a fresh
    * staging directory first iff no version is claimed
    * ([[graft.sinks.TxTable.initialized]]) for the CURRENT corpus
    * content yet. Landing under a NEW fingerprint first
    * deletes every sibling directory for the same sfDir with a
    * different fingerprint: a regenerated corpus re-keys the landing
    * (the r5 staleness fix), and without the sweep each regeneration
    * stranded a full artifact set (lsh_pairs, lift_edges, ngram_pairs,
    * format fixtures) under the dead key — bounded per round but
    * monotone across rounds on a long-lived machine. */
  def dir(spark: SparkSession, sfDir: String, kind: String)(write: String => Unit): String = {
    val path = land(spark, sfDir, kind)(TxTable.commitOnce(spark, _)(write))
    val first = TxTable.files(spark, path).headOption.getOrElse(
      throw new IllegalStateException(s"landing $kind committed no data files"))
    s"$path/${TxTable.stagingDirOf(first)}"
  }

  /** [[dir]] for artifacts that are TABLES (the shared pair/edge
    * artifacts): the frame is staged as parquet, and the landed table
    * is returned as read through its log (`TxTable.read`). */
  def table(spark: SparkSession, sfDir: String, kind: String)(write: => DataFrame): DataFrame =
    TxTable.read(spark, land(spark, sfDir, kind)(TxTable.commitOnce(write, _)))

  /** The landing path for (sfDir, kind), running the landing `commit`
    * (timed) first iff the table there is not yet initialized. */
  private def land(spark: SparkSession, sfDir: String, kind: String)(
      commit: String => Boolean): String = synchronized {
    val path = keyedPath(sfDir, kind)
    if (!landed(path)) {
      if (!TxTable.initialized(spark, path)) timed(kind)(commit(path))
      landed += path
    }
    path
  }

  /** The landing directory iff the artifact is ALREADY landed for the
    * current corpus content (this JVM or on disk) — never executes a
    * landing. Lets cheap registration paths (Tables.createViews)
    * expose a landed artifact without paying its pipeline. */
  def tableIfLanded(spark: SparkSession, sfDir: String,
      kind: String): Option[String] = synchronized {
    val path = keyedPath(sfDir, kind)
    if (landed(path) || TxTable.initialized(spark, path)) {
      landed += path
      Some(path)
    } else None
  }

  /** Deterministic artifact path keyed by (raw corpus path, corpus
    * fingerprint, kind), with the stale-sibling sweep. */
  private def keyedPath(sfDir: String, kind: String): String = {
    // The sanitized name alone can collide across distinct corpora
    // (/x/sf-1 and /x/sf_1 both sanitize to _x_sf_1), which would let
    // one corpus's stale-fingerprint sweep delete the other's LIVE
    // artifacts. Folding a hash of the RAW path into the prefix makes
    // the sweep scope exactly one corpus path.
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val safe = s"${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}.${md5(sfDir).take(8)}"
    val fpDir = s"$safe-${md5(graft.Tables.pathStamp(sfDir)).take(16)}"
    val root = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_landing")
    // Sweep stale-fingerprint siblings of THIS corpus path only, and
    // age-gate on the directory's own mtime: `synchronized` is
    // per-JVM, so a sibling younger than the gate may still be read
    // (or mid-write) by a concurrent JVM that started before the
    // corpus was regenerated. One hour bounds the leak to a single
    // in-flight generation while keeping the sweep effective across
    // rounds on a long-lived machine.
    val staleMs = 60L * 60L * 1000L
    val now = System.currentTimeMillis()
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$safe-") && f.getName != fpDir)
      .filter(f => now - f.lastModified() > staleMs)
      .foreach(deleteRecursively)
    s"$root/$fpDir/$kind"
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}
