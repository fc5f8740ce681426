package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: `local[cores]` with
  * `cores` shuffle partitions, UTC, no UI, the three engine configs
  * below, and graft's native functions registered. Callers add their
  * own settings (a warehouse dir, a broadcast threshold, an A/B
  * override) as plain config pairs, applied after the defaults. */
object Sessions {
  def build(cores: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // r12: take the serialized one-file-per-map-task shuffle writer
      // at every partition count. The bypass-merge writer (the default
      // below 200 reduce partitions when there is no map-side
      // aggregation) opens one file PER REDUCE PARTITION per map task
      // and then concatenates them — R file creates + an NIO
      // map/unmap/copy + R deletes per task, which thread dumps showed
      // dominating task runtime at bench scale (measured on the
      // slowest-30 subset: 67.5 → 54.3 s, every query improved). At
      // production partition counts (> 200) the bypass writer never
      // engages, so this also makes the small-scale code path the SAME
      // one a cluster run takes — not a local-only tuning.
      .config("spark.shuffle.sort.bypassMergeThreshold", 2)
      // r12: size the codegen class cache to the declared surface.
      // Spark's default caches 100 compiled classes; the 302-query
      // suite generates ~2,900 codegen stages per pass, so every pass
      // evicted and re-compiled (janino, serial, at planning) every
      // stage — silently defeating the untimed warmup pass whose
      // documented purpose is exactly to pre-compile codegen stages.
      // 10,000 entries covers the surface (a few KB per compiled
      // class); measured on the slowest-30 subset: 54.3 → 34.3 s.
      // A STATIC conf: ignored when getOrCreate finds a running session.
      .config("spark.sql.codegen.cache.maxEntries", 10000)
      // r13: floor AQE's partition coalescing at 64 KB instead of the
      // 1 MB default. With parallelism-first coalescing (the default),
      // the target partition size is max(stageBytes/defaultParallelism,
      // minPartitionSize) — so the 1 MB floor collapses every exchange
      // carrying < ~1 MB/core to ONE partition and serializes the whole
      // downstream stage (window/agg/join) while 31 cores idle. At 64 KB
      // the floor binds only below ~2 MB total, where task overhead is
      // microseconds. At production volumes stageBytes/parallelism is
      // MBs+, the floor never engages and plans are unchanged — this is
      // not a local-only tuning, it is "prefer idle cores over the
      // size floor for byte-tiny exchanges". Measured on the slowest-90
      // subset: 81.5 → 60.2 s (16k: 66.0, 128k: 73.2); worst per-query
      // regression +0.06 s (noise). Unlike per-query pinned
      // repartition(n, key) this keeps AQE's skew-split in play.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
