package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver testdata (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Reads are
  * `spark.read.schema(...).parquet` so Catalyst's parquet scan handles
  * column pruning + predicate pushdown; at 100 TB the same call points
  * at a partitioned directory tree and partition pruning applies
  * unchanged.
  */
object Tables {
  /** The RESOLVED frame is memoized per (session, path, source
    * fingerprint). Resolution lists the path and reads ONE footer on
    * the driver ([[ParquetMeta.schema]]) — no Spark job, where a plain
    * `spark.read.parquet` starts a schema-inference job per call.
    * DataFrames are immutable plans, so handing every caller the same
    * object changes nothing downstream; each action still scans the
    * parquet files — this caches SCHEMA RESOLUTION, never data. A
    * metadata fingerprint (name/mtime/length, one level deep — a couple
    * of stat calls, the Landing pattern) guards the memo: a REWRITTEN
    * path (spec fixtures regenerate in-session; LandingSpec's
    * corpus-swap cases) re-resolves instead of serving a stale file
    * list. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, DataFrame)]()

  /** r13 (ADVICE): stamps recurse one level into child DIRECTORIES so
    * a rewritten part file inside a partition subdirectory re-keys the
    * memo (a direct child dir's name/length don't change on an
    * in-place rewrite). */
  private[graft] def pathStamp(path: String): String = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
        .map { k =>
          val own = s"${k.getName}:${k.length}:${k.lastModified}"
          if (k.isDirectory)
            own + Option(k.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
              .map(g => s"|${g.getName}:${g.length}:${g.lastModified}").mkString
          else own
        }.mkString(";")
    else s"${f.length}:${f.lastModified}"
  }

  /** r13 (ADVICE): keyed by (session, path) with the stamp stored in
    * the VALUE — a stamp change REPLACES the entry instead of leaving
    * the stale (session, path, oldStamp) one behind forever, so the
    * memo is bounded by the number of live (session, path) pairs. The
    * single `compute` is atomic per key and its mapping function never
    * touches the map (the ADVICE recursive-update hazard), because
    * [[memo]] callers resolve dependencies BEFORE calling it. */
  private def memo(spark: SparkSession, key: String, stampPath: String)(
      build: => DataFrame): DataFrame = {
    // Every query and landing reads its inputs through here, so this
    // is the one point that also equips sessions built outside
    // graft.Sessions with the native functions (a no-op once present).
    graft.functions.GraftFunctions.register(spark)
    // Opportunistic sweep: entries of STOPPED sessions pin the session
    // and its plans forever in a long-lived JVM (one session per spec
    // under sbt). A handful of reference compares per call, bounded by
    // the live entry count.
    resolved.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val stamp = pathStamp(stampPath)
    resolved.compute((spark, key), (_, prev) =>
      if (prev != null && prev._1 == stamp) prev else (stamp, build))._2
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    memo(spark, p, p)(read(spark, p))
  }

  /** A parquet read whose schema comes from a footer: no job. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ParquetMeta.schema(spark, path)).parquet(path)

  def region(spark: SparkSession, d: String): DataFrame = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** A scan for CPU-heavy per-row compute (per-doc md5 of every
    * shingle, char-level entropy, wide decimal moments, multi-distinct
    * Expand): exchanged to the session's parallelism IF the file
    * layout yields fewer input splits than that — the small-SF
    * testdata is one single-row-group file per table, so Spark's split
    * planning can only produce ONE task and the whole partial phase
    * runs single-threaded. At production scale the scan has ≥ cores
    * splits and this is an identity — no shuffle. Hash-partition by a
    * stable key (deterministic; round-robin would need a stability
    * sort on retry). The bytes moved are the raw rows once, cheaper
    * than serializing the compute that follows. */
  def spread(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    val target = spark.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < target) df.repartition(target, col(key))
    else df
  }

  def documentsSpread(spark: SparkSession, d: String): DataFrame = {
    // memoized like table(): spread's partition-count probe builds the
    // physical RDD (a full plan compile) on every call. The documents
    // frame is resolved BEFORE the memo call: nesting it inside the
    // mapping function would re-enter the same ConcurrentHashMap
    // (Java forbids a mapping function updating the map — the ADVICE
    // 'Recursive update' crash/livelock).
    val p = s"$d/documents.parquet"
    val doc = documents(spark, d)
    memo(spark, s"$p#spread", p)(spread(spark, doc, "doc_id"))
  }

  /** [[documentsSpread]] for the event stream: the r13 profile showed
    * the per-row-heavy event queries (key/filename projections, window
    * preludes) running their whole map phase on the fixture file's ONE
    * input split. Identity at production split counts, like spread. */
  def eventsSpread(spark: SparkSession, d: String): DataFrame = {
    val p = s"$d/events.parquet"
    val ev = events(spark, d)
    memo(spark, s"$p#eventsSpread", p)(spread(spark, ev, "event_id"))
  }

  /** The SQL surface: every testdata table as a temp view (plus
    * graft's native functions), so `spark.sql("SELECT ... FROM
    * lineitem JOIN orders ...")` works exactly as it would against the
    * reference's landed data. Views are lazy — Catalyst still prunes
    * and pushes down through them. */
  def createViews(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => table(spark, sfDir, t).createOrReplaceTempView(t))
    events(spark, sfDir).createOrReplaceTempView("events")
    // SQL front door for near-dup clusters: registered here when the
    // landed artifact already exists (a cheap metadata check — views
    // must stay lazy); DedupClusters.ensureClustersView is the
    // materializing entry point that lands it the first time.
    graft.sources.Landing.tableIfLanded(spark, sfDir, "dedup_clusters_v1")
      .foreach(dir => graft.sinks.TxTable.read(spark, dir)
        .createOrReplaceTempView("dedup_clusters_v1"))
  }

  /** `events.ts` normalization. The driver's fixture generator has
    * shipped two physical layouts across rounds: parquet
    * TIMESTAMP(NANOS) (rounds 1-3 — Spark can only read it as a long
    * via `nanosAsLong`) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (round 4+ — Spark reads it as TIMESTAMP_NTZ). Both normalize to
    * the session's microsecond TimestampType so every downstream
    * consumer (`unix_micros`, windows, the as-of operator) sees one
    * type. The NTZ→LTZ cast interprets the naive value in the session
    * time zone — all engine mains pin UTC, making the conversion the
    * identity on the stored micros value, exactly how the DuckDB
    * oracle reads the same column (naive TIMESTAMP).
    */
  def events(spark: SparkSession, d: String): DataFrame =
    memo(spark, s"$d/events.parquet#normalized", s"$d/events.parquet") {
      // Session conf (not a read option): Spark's schema converter only
      // honors nanos-as-long via SQLConf. Set-if-absent so a library
      // caller's explicit session configuration is never overwritten.
      if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = read(spark, s"$d/events.parquet")
      raw.schema("ts").dataType.typeName match {
        // Integer `div`, NOT `/`: long/1000 promotes to double, and epoch
        // nanos (~1.7e18) exceed double's 53-bit mantissa — off-by-1 µs.
        case "long" => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case "timestamp_ntz" => raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    }
}
