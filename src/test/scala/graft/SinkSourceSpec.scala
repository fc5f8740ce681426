package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.Sinks

/** R16/R22/R9 sink semantics + the DSv2 HTTP source stub contract. */
class SinkSourceSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_sink_").toString

  test("date-partitioned write lands one directory per UTC day") {
    val out = tmp()
    Sinks.writeDatePartitioned(
      Tables.events(spark, sfDir).limit(500), out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("date_part="))
    assert(dirs.nonEmpty)
    val back = spark.read.parquet(out)
    assert(back.count() == 500)
    assert(back.columns.contains("date_part"))
  }

  test("verify-then-delete move: source removed only after counts verify") {
    val src = tmp() + "/src"
    val dst = tmp() + "/dst"
    Tables.region(spark, sfDir).write.parquet(src)
    val (moved, deleted) = Sinks.moveVerified(spark, src, dst)
    assert(moved == 5 && deleted)
    assert(!new java.io.File(src).exists())
    assert(spark.read.parquet(dst).count() == 5)
  }

  test("partial copy onto a pre-populated destination does NOT delete the source") {
    val src = tmp() + "/src"
    val dst = tmp() + "/dst"
    Tables.nation(spark, sfDir).write.parquet(src) // 25 rows
    // destination already holds rows from an earlier move — under the
    // old `landed >= expected` rule these would vouch for a bad copy
    Tables.nation(spark, sfDir).write.parquet(dst)
    val (expected, deleted) = Sinks.moveVerifiedImpl(spark, src, dst,
      (df, d) => df.limit(10).write.mode(org.apache.spark.sql.SaveMode.Append).parquet(d))
    assert(expected == 25 && !deleted)
    assert(new java.io.File(src).exists()) // keep-on-mismatch
  }

  test("idempotent append: second run with same keys writes nothing") {
    val out = tmp() + "/sink"
    val df = Tables.region(spark, sfDir)
    assert(Sinks.appendNew(spark, df, "r_regionkey", out) == 5)
    assert(Sinks.appendNew(spark, df, "r_regionkey", out) == 0) // R9 re-run safety
    assert(spark.read.parquet(out).count() == 5)
  }

  test("append aimed at a date-partitioned sink's root lands partitioned and reads back whole") {
    import spark.implicits._
    val out = tmp() + "/dated"
    def rows(ids: Range) = ids.map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${10 + i / 10}%02d ${i % 10 * 2 + 3}%02d:00:00")))
      .toDF("event_id", "ts")
    Sinks.writeDatePartitioned(rows(0 until 10), out) // one day
    // the overlapping window: half already landed, half the next day
    assert(Sinks.appendNew(spark, rows(5 until 15), "event_id", out) == 5)
    val back = spark.read.parquet(out)
    assert(back.select("event_id").as[Long].collect().sorted.toSeq == (0L until 15L))
    assert(back.filter(col("date_part") === 20240111).count() == 5)
  }

  test("idempotent foreachBatch: re-delivered batchId is skipped, crash-replay converges") {
    val out = tmp() + "/stream_sink"
    val b0 = Tables.region(spark, sfDir)
    // first delivery writes
    assert(Sinks.idempotentBatchWriter(out)(b0, 0L))
    val once = spark.read.parquet(out).count()
    // at-least-once replay of the SAME batch: skipped, data unchanged
    assert(!Sinks.idempotentBatchWriter(out)(b0, 0L))
    assert(spark.read.parquet(out).count() == once)
    // crash between data and marker: simulate by deleting the marker —
    // the replay re-runs the write but OVERWRITES the batch directory,
    // so the total converges instead of doubling
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/_graft_commits/0"), false)
    assert(Sinks.idempotentBatchWriter(out)(b0, 0L))
    assert(spark.read.parquet(out).count() == once)
    // a new batchId appends under its own subdirectory
    assert(Sinks.idempotentBatchWriter(out)(Tables.nation(spark, sfDir), 1L))
    assert(spark.read.parquet(out).count() == once + 25)
  }

  test("HTTP source stub: one partition per host, placeholder rows, throttle option") {
    val df = spark.read.format("graft.sources.HttpPlaceholderSource")
      .option("urls",
        "http://10.0.0.1:8080/a,http://10.0.0.1:8080/b,http://10.0.0.2:8080/c")
      .option("maxConcurrentPerHost", 2)
      .load()
    assert(df.rdd.getNumPartitions == 2) // grouped by sensor host
    val rows = df.collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getString(r.fieldIndex("status")) == "PLACEHOLDER_FILE")
      assert(r.getString(r.fieldIndex("error_type")) == "CONNECTION_ERROR")
      assert(r.getInt(r.fieldIndex("max_concurrent")) == 2)
      assert(r.getString(r.fieldIndex("url"))
        .contains(r.getString(r.fieldIndex("host"))))
    }
  }

  test("HTTP source enforces maxConcurrentPerHost: in-flight never exceeds the bound") {
    import graft.sources.HttpPlaceholderSource
    HttpPlaceholderSource.observedMaxConcurrent.clear()
    val urls = (1 to 24).map(i => s"http://10.0.9.9:8080/chunk$i").mkString(",")
    val rows = spark.read.format("graft.sources.HttpPlaceholderSource")
      .option("urls", urls)
      .option("maxConcurrentPerHost", 3)
      .load().collect()
    assert(rows.length == 24)
    val observed = HttpPlaceholderSource.observedMaxConcurrent.get("10.0.9.9:8080")
    assert(observed != null && observed <= 3, s"observed $observed in-flight > bound 3")
    assert(observed >= 2, "pool never ran fetches concurrently — bound not exercised")
  }

  test("HTTP source pushdown: host filter prunes partitions (pruned hosts never fetched)") {
    import graft.sources.HttpPlaceholderSource
    HttpPlaceholderSource.observedMaxConcurrent.clear()
    val df = spark.read.format("graft.sources.HttpPlaceholderSource")
      .option("urls",
        "http://10.0.1.1:8080/a,http://10.0.1.1:8080/b,http://10.0.1.2:8080/c")
      .load()
      .filter(col("host") === "10.0.1.1:8080")
    val rows = df.collect()
    assert(rows.length == 2)
    // THE point of the pushdown: the other sensor was never contacted
    assert(HttpPlaceholderSource.observedMaxConcurrent.containsKey("10.0.1.1:8080"))
    assert(!HttpPlaceholderSource.observedMaxConcurrent.containsKey("10.0.1.2:8080"))
    assert(df.rdd.getNumPartitions == 1) // pruned at planning, not post-scan
    // and the filter is visible as pushed in the scan
    assert(df.queryExecution.executedPlan.toString.contains("PushedFilters"))
  }

  test("HTTP source pushdown: url prefix prunes requests, column pruning trims rows") {
    import graft.sources.HttpPlaceholderSource
    HttpPlaceholderSource.observedMaxConcurrent.clear()
    val df = spark.read.format("graft.sources.HttpPlaceholderSource")
      .option("urls",
        "http://10.0.2.1:8080/keep1,http://10.0.2.1:8080/keep2,http://10.0.2.1:8080/drop")
      .load()
      .filter(col("url").startsWith("http://10.0.2.1:8080/keep"))
      .select("host")
    val rows = df.collect()
    assert(rows.length == 2 && rows.forall(_.getString(0) == "10.0.2.1:8080"))
    // column pruning reached the scan: its output is just `host`
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    assert(scan.output.map(_.name) == Seq("host"))
  }

  test("HTTP source live fetch: loopback server rows FETCHED under the throttle; dead host dead-letters") {
    import graft.sources.HttpPlaceholderSource
    // deterministic loopback server inside the test JVM — no external
    // network; the analog of app.py:285-313's per-chunk GET
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = s"payload:${ex.getRequestURI.getPath}".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    val port = server.getAddress.getPort
    try {
      HttpPlaceholderSource.observedMaxConcurrent.clear()
      val live = (1 to 12).map(i => s"http://127.0.0.1:$port/chunk$i")
      val dead = s"http://127.0.0.1:1/unreachable" // port 1: connection refused
      val rows = spark.read.format("graft.sources.HttpPlaceholderSource")
        .option("urls", (live :+ dead).mkString(","))
        .option("maxConcurrentPerHost", 3)
        .option("fetchMode", "live")
        .load().collect()
      assert(rows.length == 13)
      val fetched = rows.filter(_.getString(2) == "FETCHED")
      assert(fetched.length == 12)
      fetched.foreach { r =>
        // body is the deterministic payload for THAT url's path
        val path = r.getString(0).split(port.toString, 2)(1)
        assert(r.getInt(5) == s"payload:$path".getBytes("UTF-8").length)
        assert(r.getString(3) == "NONE")
      }
      // the unreachable host dead-letters instead of failing the scan
      val dl = rows.filter(_.getString(0).contains(":1/"))
      assert(dl.length == 1 && dl.head.getString(2) == "PLACEHOLDER_FILE"
        && dl.head.getString(3) == "CONNECTION_ERROR" && dl.head.getInt(5) == -1)
      // throttle held during real I/O
      val observed = HttpPlaceholderSource.observedMaxConcurrent.get(s"127.0.0.1:$port")
      assert(observed != null && observed <= 3, s"observed $observed in-flight > bound 3")
      assert(observed >= 2, "pool never ran live fetches concurrently")
    } finally server.stop(0)
  }

  test("xml config round-trip equals the dim it was written from") {
    val got = graft.sources.XmlSource.qXmlConfig(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name", "n_regionkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1),
        r.getAs[Number](2).longValue))
      .sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("sinks run against an explicit file:// FS URI (path-scheme-parameterized, S3-ready shape)") {
    // Same Hadoop FS API the sinks would hit under s3a:// — prove the
    // path handling never assumes the default scheme-less local FS.
    val base = "file://" + tmp()
    val raw = (u: String) => u.stripPrefix("file://")
    // moveVerified over file:// URIs
    val src = base + "/src"
    val dst = base + "/dst"
    Tables.region(spark, sfDir).write.parquet(src)
    val (moved, deleted) = Sinks.moveVerified(spark, src, dst)
    assert(moved == 5 && deleted)
    assert(!new java.io.File(raw(src)).exists())
    assert(spark.read.parquet(dst).count() == 5)
    // appendNew over file:// URIs (idempotent on re-run)
    val sink = base + "/sink"
    assert(Sinks.appendNew(spark, Tables.region(spark, sfDir), "r_regionkey", sink) == 5)
    assert(Sinks.appendNew(spark, Tables.region(spark, sfDir), "r_regionkey", sink) == 0)
    // compact over file:// URIs
    val cdir = base + "/compact_t"
    Tables.nation(spark, sfDir).repartition(8).write.parquet(cdir)
    val (nBefore, nAfter) = Sinks.compact(spark, cdir, targetBytes = 1L << 30)
    assert(nBefore >= 8 && nAfter == 1)
    assert(spark.read.parquet(cdir).count() == 25)
    assert(!new java.io.File(raw(cdir) + "._compacting").exists())
    assert(!new java.io.File(raw(cdir) + "._old").exists())
  }

  test("sinks run over a NON-default mock:// scheme wired purely by config, renames asserted") {
    // The "any object store via fs.<scheme>.impl, no code change"
    // claim, proven past file://: a custom scheme the sinks have never
    // seen, registered only through Hadoop config. The instrumented FS
    // also pins the rename-not-copy assumption S3A breaks (its rename
    // is a server-side copy+delete): the compaction swap and the
    // parquet committer's task-commit moves all surface as rename()
    // calls here, so the dependency is measured, not assumed.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[MockFs].getName)
    val base = "mock://" + tmp()
    val raw = (u: String) => u.stripPrefix("mock://")
    // moveVerified across mock:// (write, verify, delete-source)
    val src = base + "/src"
    val dst = base + "/dst"
    Tables.region(spark, sfDir).write.parquet(src)
    MockFs.reset()
    val (moved, deleted) = Sinks.moveVerified(spark, src, dst)
    assert(moved == 5 && deleted)
    assert(!new java.io.File(raw(src)).exists())
    assert(spark.read.parquet(dst).count() == 5)
    // the copy's commit moved files by RENAME on the mock FS, and the
    // verified source was removed by a delete — both went through the
    // custom scheme, not the default FS
    assert(MockFs.renames.get() > 0,
      "no rename reached mock:// — the sink bypassed the configured FS")
    assert(MockFs.deletes.get() > 0)
    // compact across mock://: the two-rename directory swap
    val cdir = base + "/compact_t"
    Tables.nation(spark, sfDir).repartition(8).write.parquet(cdir)
    MockFs.reset()
    val (nBefore, nAfter) = Sinks.compact(spark, cdir, targetBytes = 1L << 30)
    assert(nBefore >= 8 && nAfter == 1)
    assert(spark.read.parquet(cdir).count() == 25)
    // ≥ 2 renames: dir → dir._old, dir._compacting → dir (plus the
    // committer's own task-commit renames inside the temp write)
    assert(MockFs.renames.get() >= 2)
    assert(!new java.io.File(raw(cdir) + "._compacting").exists())
    assert(!new java.io.File(raw(cdir) + "._old").exists())
  }

  test("sinks run over the LITERAL s3a scheme with a bucket authority (URI handling pinned)") {
    // The r7 verdict's one cheap tightening: mock:// proves the
    // config-wired-FS claim, but an s3a:// URI additionally carries a
    // BUCKET AUTHORITY — s3a://bucket/key — which exercises authority
    // parsing through Path qualification, the FileSystem cache key,
    // and the committer's task-commit renames. A sink that ever
    // string-mangles the URI (drops the bucket, globs the authority
    // into the key) fails here, not in production.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[S3aMockFs].getName)
    val local = tmp() // absolute local path; becomes the object key space
    val base = "s3a://test-bucket" + local
    // moveVerified across s3a:// (write, verify, delete-source)
    val src = base + "/src"
    val dst = base + "/dst"
    Tables.region(spark, sfDir).write.parquet(src)
    assert(new java.io.File(local + "/src").exists(),
      "bucket authority leaked into the local key space")
    MockFs.reset()
    val (moved, deleted) = Sinks.moveVerified(spark, src, dst)
    assert(moved == 5 && deleted)
    assert(!new java.io.File(local + "/src").exists())
    assert(spark.read.parquet(dst).count() == 5)
    assert(MockFs.renames.get() > 0,
      "no rename reached s3a:// — the sink bypassed the configured FS")
    assert(MockFs.deletes.get() > 0)
    // compact across s3a://: the two-rename directory swap — the exact
    // calls that are copy+delete on real S3A, so the dependency stays
    // measured under the production scheme name
    val cdir = base + "/compact_t"
    Tables.nation(spark, sfDir).repartition(8).write.parquet(cdir)
    MockFs.reset()
    val (nBefore, nAfter) = Sinks.compact(spark, cdir, targetBytes = 1L << 30)
    assert(nBefore >= 8 && nAfter == 1)
    assert(spark.read.parquet(cdir).count() == 25)
    assert(MockFs.renames.get() >= 2)
    assert(!new java.io.File(local + "/compact_t._compacting").exists())
    assert(!new java.io.File(local + "/compact_t._old").exists())
    // appendNew idempotence under s3a:// (the skip-if-exists contract)
    val sink = base + "/sink"
    assert(Sinks.appendNew(spark, Tables.region(spark, sfDir), "r_regionkey", sink) == 5)
    assert(Sinks.appendNew(spark, Tables.region(spark, sfDir), "r_regionkey", sink) == 0)
  }

  test("compaction collapses small files, preserves content exactly, and swaps atomically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // simulate a microbatch-accreted sink: 16 tiny files
    Tables.nation(spark, sfDir).repartition(16)
      .write.parquet(dir)
    // materialize BEFORE compacting — the lazy frame's files are replaced
    val beforeRows = spark.read.parquet(dir).collect().map(_.toString).sorted
    val (nBefore, nAfter) = graft.sinks.Sinks.compact(spark, dir, targetBytes = 1L << 30)
    assert(nBefore >= 16 && nAfter == 1) // everything fits one target-sized file
    val afterRows = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(afterRows.sameElements(beforeRows))
    // no straggler temp dir left behind
    assert(!new java.io.File(dir + "._compacting").exists())
  }

  test("schema evolution: mergeSchema unions columns across generations, old rows null-fill") {
    // generation 1 lands (doc_id, lang); generation 2 adds quality_score
    // — the additive-column evolution a long-lived corpus goes through
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString + "/t"
    val docs = Tables.documents(spark, sfDir)
    docs.select("doc_id", "lang").limit(10).write.parquet(dir)
    docs.select(col("doc_id"), col("lang"), (length(col("text")) % 100).as("quality_score"))
      .limit(10).write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.sameElements(Array("doc_id", "lang", "quality_score")))
    assert(merged.count() == 20)
    assert(merged.filter(col("quality_score").isNull).count() == 10) // gen-1 rows null-fill
  }

  test("multimodal: metadata matches payload and features are unit-normalized histograms") {
    import graft.ops.Multimodal
    val meta = Multimodal.qMultimodalMeta(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val joined = meta.join(docs, Seq("doc_id"))
      .filter(col("n_bytes") =!= length(col("text")))
    assert(joined.count() == 0) // ASCII corpus: bytes == chars
    val feats = Multimodal.qMultimodalFeatures(spark, sfDir)
    assert(feats.count() > 0)
    // per doc: 4 bucket rows, counts sum to n_bytes, shares sum to ~1
    val perDoc = feats.groupBy("doc_id")
      .agg(count(lit(1)).as("n_rows"), sum("n_in_bucket").as("n_sum"),
        first("n_bytes").as("nb"), sum("share").as("share_sum"))
      .filter(col("n_rows") =!= 4 || col("n_sum") =!= col("nb") ||
        abs(col("share_sum") - 1.0) > 0.01)
    assert(perDoc.count() == 0)
  }

  test("frame dedup: exact-duplicate payloads pair with full overlap; one pair replays") {
    import graft.ops.Multimodal
    val pairs = Multimodal.qFrameDedup(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.nonEmpty)
    // exact byte-duplicate payloads (same text, different doc) must be
    // found with n_shared = their full distinct fingerprint set
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def fps(t: String): Set[String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (1 to t.length - 7 by 4).map(i =>
        md.digest(t.substring(i - 1, i + 7).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString).toSet
    }
    // the df > 64 boilerplate cap BINDS even at sf0.001 (500 docs, 8
    // capped fingerprints) — the reference replay must apply it too
    val allFps = docs.filter(_._2.length >= 8).map { case (id, t) => id -> fps(t) }
    val capped = allFps.flatMap(_._2).groupBy(identity)
      .collect { case (fp, occ) if occ.length > 64 => fp }.toSet
    val kept = allFps.map { case (id, s) => id -> (s -- capped) }.toMap
    val dupGroups = docs.filter(_._2.length >= 8).groupBy(_._2)
      .filter(_._2.length >= 2).values
    dupGroups.foreach { g =>
      val ids = g.map(_._1).sorted
      val expected = kept(ids.head).size.toLong
      for (a <- ids; b <- ids if a < b)
        assert(expected < 2 || pairs.get((a, b)).contains(expected),
          s"exact dup pair ($a,$b) missing or wrong overlap")
    }
    // replay one arbitrary pair's shared count from first principles
    val ((a, b), n) = pairs.head
    assert(n == (kept(a) intersect kept(b)).size.toLong)
  }

  test("binary ingest: binaryFile scan round-trips the landed objects byte-exactly") {
    val out = graft.ops.Multimodal.qBinaryIngest(spark, sfDir).cache()
    val want = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 0 && col("doc_id") < 5000)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(encode(col("text"), "UTF-8")).as("content_md5"))
    // one row per landed object, every column reproduced from the source text
    assert(out.count() == want.count() && out.count() > 0)
    assert(out.exceptAll(want).count() == 0)
    // idempotent: a second call scans the same landed artifact (write-once)
    assert(graft.ops.Multimodal.qBinaryIngest(spark, sfDir).exceptAll(out).count() == 0)
    out.unpersist()
  }
}
