package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams

/** E19: watermark + late-data semantics with MemoryStream (SURVEY.md
  * §5.4) — the reference's 00:05 lateness allowance (app.py:674-679)
  * as an observable streaming behavior. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermarked tumbling window drops data later than the allowance") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val counts = Streams.tumblingCounts(
      input.toDF().toDF("ts", "user_id"), window = "1 hour", lateness = "5 minutes")
    val q = counts.writeStream.format("memory")
      .queryName("tumbling_test").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two rows in hour 10
      input.addData((ts("2024-01-01 10:00:10"), 1L), (ts("2024-01-01 10:30:00"), 2L))
      q.processAllAvailable()
      // batch 2: advance event time past hour-10-end + lateness → closes hour 10
      input.addData((ts("2024-01-01 11:06:00"), 3L))
      q.processAllAvailable()
      // batch 3: a straggler for hour 10, beyond the watermark → dropped
      input.addData((ts("2024-01-01 10:45:00"), 4L))
      q.processAllAvailable()
      // batch 4: close hour 11 so its row emits too
      input.addData((ts("2024-01-01 12:10:00"), 5L))
      q.processAllAvailable()
      val out = spark.table("tumbling_test").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
      assert(out("2024-01-01 10:00:00.0") == 2L) // straggler NOT counted
      assert(out("2024-01-01 11:00:00.0") == 1L)
    } finally q.stop()
  }

  test("session windows close after the gap and count their events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = Streams.sessionCounts(
      input.toDF().toDF("ts", "user_id"), gap = "5 minutes", lateness = "1 minute")
    val q = sessions.writeStream.format("memory")
      .queryName("session_test").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:02:00"), 1L), // same session (< 5 min gap)
        (ts("2024-01-01 10:20:00"), 1L)) // new session
      q.processAllAvailable()
      input.addData((ts("2024-01-01 11:00:00"), 1L)) // advances watermark
      q.processAllAvailable()
      val out = spark.table("session_test")
        .filter(col("s_start") < ts("2024-01-01 10:30:00"))
        .orderBy("s_start").collect()
      assert(out.length == 2)
      assert(out(0).getLong(3) == 2L) // first session: two events
      assert(out(1).getLong(3) == 1L)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-key counts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = Streams.runningCounts(input.toDS())
      .toDF("user_id", "n")
      .writeStream.format("memory").queryName("state_test")
      .outputMode("update").start()
    try {
      input.addData((1L, 10L), (1L, 11L), (2L, 20L))
      q.processAllAvailable()
      input.addData((1L, 12L))
      q.processAllAvailable()
      // update mode: latest emission per key wins
      val latest = spark.table("state_test").groupBy("user_id")
        .agg(max("n").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(latest(1L) == 3L) // state carried across batches: 2 then +1
      assert(latest(2L) == 1L)
    } finally q.stop()
  }

  test("streaming count-min sketch accumulates across micro-batches with constant state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = Streams.sketchRunning(input.toDS())
      .writeStream.format("memory").queryName("cms_test")
      .outputMode("update").start()
    val batch1 = Seq.tabulate(300)(i => (i % 20).toLong)
    val batch2 = Seq.tabulate(200)(i => (i % 5).toLong)
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // update mode re-emits the one global row per batch; the
      // highest totalCount is the union sketch
      val cms = spark.table("cms_test").collect()
        .map(r => org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("cms"))))
        .maxBy(_.totalCount())
      val all = batch1 ++ batch2
      assert(cms.totalCount() == all.size)
      val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val band = math.ceil(math.E * all.size / 1024).toLong
      exact.foreach { case (k, n) =>
        assert(cms.estimateCount(k) >= n && cms.estimateCount(k) <= n + band,
          s"key $k: est ${cms.estimateCount(k)} vs exact $n")
      }
    } finally q.stop()
  }

  test("dedup-within-watermark drops redelivered keys, keeps state bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val deduped = Streams.dedupWithinWatermark(
      input.toDF().toDF("ts", "event_id"), lateness = "10 minutes")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_test").outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:30"), 2L))
      q.processAllAvailable()
      // at-least-once redelivery of key 1 within the watermark → dropped
      input.addData((ts("2024-01-01 10:00:05"), 1L), (ts("2024-01-01 10:01:00"), 3L))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect().map(_.getLong(1)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L))) // each key exactly once
    } finally q.stop()
  }

  test("composed ingest pipeline equals its batch composition under redelivery and chopping") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stations = Seq((1L, "STA_A"), (2L, "STA_B")).toDF("station_id", "station")
    val input = MemoryStream[(Timestamp, Long, Long, Option[Array[Byte]])]
    val out = Streams.ingestPipeline(
      input.toDF().toDF("ts", "event_id", "station_id", "content"), stations)
    val sink = tempDir("graft_ingest_")
    val q = out.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sinks.Sinks.writeDatePartitioned(batch, sink)
      }
      .outputMode(OutputMode.Append()).start()
    try {
      val ok = Some(Array[Byte](1, 2, 3))
      val rows = Seq(
        (ts("2024-01-01 10:00:00"), 1L, 1L, ok),                       // payload
        (ts("2024-01-01 10:00:10"), 2L, 1L, Some(Array.empty[Byte])),  // HTTP error
        (ts("2024-01-02 09:00:00"), 3L, 2L, None),                     // connection error
        (ts("2024-01-02 09:00:20"), 4L, 9L, ok))                       // unknown station
      // adversarial chopping: one row per batch, chunk 1 redelivered
      // byte-identically in a later batch (at-least-once upstream)
      input.addData(rows(0)); q.processAllAvailable()
      input.addData(rows(1)); q.processAllAvailable()
      input.addData(rows(0)); q.processAllAvailable() // redelivery
      input.addData(rows(2), rows(3)); q.processAllAvailable()
      // exactly one stateful operator: the watermark-bounded dedup
      assert(q.lastProgress.stateOperators.length == 1)
      val landed = spark.read.parquet(sink)
      // batch composition of the same stages over the logical input
      val batchIn = rows.toDF("ts", "event_id", "station_id", "content")
      val want = Streams.enrichWithDim(
          Streams.withDeadLetter(batchIn).dropDuplicates("event_id"),
          stations, "station_id")
        .withColumn("date_part", date_format(col("ts"), "yyyyMMdd"))
      assert(landed.count() == 4)
      // the dated dir layout round-trips the partition value as a
      // directory name — read it back as a string on both sides
      def view(df: org.apache.spark.sql.DataFrame) = df
        .select(col("event_id"), col("is_placeholder"), col("error_type"),
          col("station"), col("date_part").cast("string").as("date_part"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)),
          Option(r.getString(3)), r.getString(4))).toSet
      val lc = view(landed)
      val wc = view(want)
      assert(lc == wc)
      // placeholders flagged, not dropped; the dated layout is real dirs
      assert(lc.count(_._2) == 2)
      assert(new java.io.File(s"$sink/date_part=20240101").exists())
      assert(new java.io.File(s"$sink/date_part=20240102").exists())
    } finally q.stop()
  }

  test("stream-stream join correlates responses within the timeout only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reqs = MemoryStream[(Long, Timestamp)]
    val resps = MemoryStream[(Long, Timestamp)]
    val joined = Streams.correlateWithinTimeout(
      reqs.toDF().toDF("req_key", "req_ts"),
      resps.toDF().toDF("resp_key", "resp_ts"),
      timeout = "10 minutes", lateness = "1 minute")
    val q = joined.writeStream.format("memory")
      .queryName("corr_test").outputMode(OutputMode.Append()).start()
    try {
      reqs.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      resps.addData(
        (1L, ts("2024-01-01 10:05:00")), // within timeout → correlates
        (2L, ts("2024-01-01 10:20:00"))) // past the 10-min timeout → no match
      q.processAllAvailable()
      val keys = spark.table("corr_test").collect().map(_.getLong(0)).sorted
      assert(keys.sameElements(Array(1L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits the unmatched request only after the watermark closes its window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reqs = MemoryStream[(Long, Timestamp)]
    val resps = MemoryStream[(Long, Timestamp)]
    val joined = Streams.correlateLeftOuter(
      reqs.toDF().toDF("req_key", "req_ts"),
      resps.toDF().toDF("resp_key", "resp_ts"),
      timeout = "10 minutes", lateness = "1 minute")
    val q = joined.writeStream.format("memory")
      .queryName("louter_test").outputMode(OutputMode.Append()).start()
    try {
      reqs.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      resps.addData((1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // key 2's window [10:00, 10:11] is still open — only the match
      // may have been emitted, never a premature null row
      val early = spark.table("louter_test").collect()
      assert(!early.exists(r => r.getLong(0) == 2L),
        s"null row emitted while window open: ${early.mkString(", ")}")
      // advance BOTH watermarks past 10:11
      reqs.addData((99L, ts("2024-01-01 11:00:00")))
      resps.addData((99L, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      q.processAllAvailable() // outer results surface a micro-batch later
      val rows = spark.table("louter_test").collect()
        .map(r => r.getLong(0) -> Option(r.get(2)).map(_ => r.getLong(2))).toMap
      assert(rows(1L).contains(1L))       // matched within timeout
      assert(rows.contains(2L) && rows(2L).isEmpty,
        s"unmatched request not emitted with nulls: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("dead-letter split flags empty and missing payloads like the reference") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(Array[Byte](1, 2))),
      ("b", Some(Array.empty[Byte])),
      ("c", None)).toDF("url", "content")
    val out = Streams.withDeadLetter(df).collect()
      .map(r => r.getString(0) -> (r.getBoolean(2), Option(r.getString(3)))).toMap
    assert(out("a") == (false, None))
    assert(out("b") == (true, Some("HTTP_ERROR")))
    assert(out("c") == (true, Some("CONNECTION_ERROR")))
  }

  test("stream-static enrichment joins each micro-batch to the dim with zero streaming state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("user_id", "station")
    val input = MemoryStream[(Timestamp, Long)]
    val enriched = Streams.enrichWithDim(
      input.toDF().toDF("ts", "user_id"), dim, "user_id")
    val q = enriched.writeStream.format("memory")
      .queryName("enrich_test").outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:01"), 9L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:00:02"), 2L))
      q.processAllAvailable()
      val out = spark.table("enrich_test").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(out(1L) == Some("alpha"))
      assert(out(2L) == Some("beta"))
      assert(out(9L) == None) // miss channel surfaces, not dropped
      // no stateful operator: enrichment must not accumulate state
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming as-of enrichment: each event sees the dim state at ITS OWN time, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // time-versioned dim: key 1 changes value at t=20
    val dim = Seq((1L, 5L, "v5"), (1L, 20L, "v20"), (2L, 1L, "w1"))
      .toDF("dk", "dt", "v")
    val input = MemoryStream[(Long, Long)]
    val enriched = Streams.asofEnrich(
      input.toDF().toDF("k", "t"), dim, Seq("k"), Seq("dk"), "t", "dt")
    val q = enriched.writeStream.format("memory")
      .queryName("asof_enrich_test").outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, 10L), (1L, 25L), (2L, 0L))
      q.processAllAvailable()
      input.addData((3L, 7L), (1L, 20L))
      q.processAllAvailable()
      val out = spark.table("asof_enrich_test").select("k", "t", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(2))).toMap
      assert(out((1L, 10L)) == Some("v5"))   // before the change
      assert(out((1L, 20L)) == Some("v20"))  // at the boundary
      assert(out((1L, 25L)) == Some("v20"))  // after the change
      assert(out((2L, 0L)) == None)          // dim row is later than event
      assert(out((3L, 7L)) == None)          // unknown key surfaces as null
      // custom-operator plan, no streaming state accumulated
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("stateful sessionizer closes sessions via in-batch gaps AND event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = Streams.sessionizeWithState(
      input.toDF().toDF("ts", "user_id").withWatermark("ts", "1 minute"),
      gapUs = 1800000000L) // 30 min
    val q = sessions.toDF("user_id", "start_us", "end_us", "n_events")
      .writeStream.format("memory")
      .queryName("sessionize_test").outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 10 min apart (one session), then a row 40 min
      // later in the SAME batch — the in-batch gap closes session 1
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:10:00"), 1L),
        (ts("2024-01-01 10:50:00"), 1L))
      q.processAllAvailable()
      val afterBatch = spark.table("sessionize_test").collect()
      assert(afterBatch.length == 1)
      assert(afterBatch.head.getLong(0) == 1L && afterBatch.head.getLong(3) == 2L)
      // advance the watermark far past 10:50 + gap → the timeout fires
      // and the open session emits (user 2's row also opens state)
      input.addData((ts("2024-01-01 12:00:00"), 2L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 13:00:00"), 2L)) // push watermark again
      q.processAllAvailable()
      val out = spark.table("sessionize_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.contains((1L,
        ts("2024-01-01 10:50:00").getTime * 1000,
        ts("2024-01-01 10:50:00").getTime * 1000, 1L)),
        s"timed-out session missing from ${out.mkString(", ")}")
      // state is bounded: exactly the still-open sessions remain
      assert(q.lastProgress.stateOperators.head.numRowsTotal <= 2)
    } finally q.stop()
  }

  test("streaming CDC materialization converges to the batch apply under adversarial batching") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    val q = Streams.cdcLatest(input.toDS())
      .toDF("user_id", "us", "event_id", "op", "value", "alive")
      .writeStream.format("memory").queryName("cdc_test")
      .outputMode("update").start()
    try {
      // deliberately NOT time-ordered: batches sliced by event_id mod 3,
      // so later changes often arrive before earlier ones
      for (b <- 0 until 3) {
        input.addData(ev.filter(_._3 % 3 == b).toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    // a key's emitted (us, event_id) only advances: max per key = final
    val streamed = spark.table("cdc_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getBoolean(5)))
      .groupBy(_._1).view.mapValues(_.maxBy(r => (r._2, r._3))).toMap
    val batch = graft.ops.Mining.qCdcApply(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getTimestamp(3))).toMap
    // alive keys match the batch operator exactly
    val alive = streamed.filter(_._2._6)
    assert(alive.keySet == batch.keySet)
    alive.foreach { case (u, (_, us, _, op, v, _)) =>
      val (bOp, bV, bTs) = batch(u)
      assert(op == bOp && v == bV, s"user $u payload mismatch")
      assert(us == bTs.getTime * 1000 + bTs.getNanos / 1000 % 1000,
        s"user $u timestamp mismatch")
    }
    // tombstoned keys are exactly the users the batch operator drops
    val allUsers = ev.map(_._1).toSet
    assert(streamed.filterNot(_._2._6).keySet == allUsers -- batch.keySet)
  }

  test("streaming near-dup gate emits exactly the batch incremental-dedup pairs, statelessly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.01"
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val index = docs.filter(_._1 < 400).toSeq.toDF("doc_id", "text")
    val arrivals = docs.filter(_._1 >= 400)
    val input = MemoryStream[(Long, String)]
    val gate = Streams.nearDupGate(spark,
      input.toDF().toDF("doc_id", "text"), index)
    val got = scala.collection.mutable.Set[(Long, Long, Double)]()
    val q = gate.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // band-collision duplicates collapse at the sink (stateless plan)
        batch.dropDuplicates("new_doc", "index_doc").collect().foreach(r =>
          got += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
        ()
      }.start()
    try {
      val (first, rest) = arrivals.splitAt(arrivals.length / 2)
      input.addData(first.toSeq); q.processAllAvailable()
      input.addData(rest.toSeq); q.processAllAvailable()
      // no stateful operator anywhere in the streaming plan
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
    val batchPairs = graft.ops.Quality.qIncrementalDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.toSet == batchPairs,
      s"stream ${got.size} pairs vs batch ${batchPairs.size}")
    assert(batchPairs.nonEmpty) // the corpus plants cross-watermark dups
  }

  test("event-time timers: a silent station alerts once after the watermark passes its deadline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Timestamp)]
      val watermarked = input.toDF().toDF("user_id", "ts")
        .withWatermark("ts", "0 seconds").as[(Long, Timestamp)]
      val q = Streams.silenceAlerts(watermarked, gapMs = 2L * 3600 * 1000)
        .writeStream.format("memory").queryName("silence_test")
        .outputMode(OutputMode.Append()).start()
      try {
        // both stations report at 10:00 → deadlines armed at 12:00
        input.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
        q.processAllAvailable()
        // station 2 keeps reporting; station 1 goes silent
        input.addData((2L, ts("2024-01-01 11:30:00"))) // re-arms 2 → 13:30
        q.processAllAvailable()
        input.addData((2L, ts("2024-01-01 12:30:00"))) // wm → 11:30; re-arms 2 → 14:30
        q.processAllAvailable()
        input.addData((2L, ts("2024-01-01 13:00:00"))) // wm 12:30 ≥ 12:00 → fire station 1
        q.processAllAvailable()
        val alerts = spark.table("silence_test").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        // exactly one alert: station 1, last seen 10:00, due 12:00 —
        // station 2's timer kept re-arming ahead of the watermark
        assert(alerts.toSeq == Seq((1L,
          ts("2024-01-01 10:00:00").getTime,
          ts("2024-01-01 10:00:00").getTime + 2L * 3600 * 1000)))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState throttle: N ordered micro-batches emit exactly the batch kept set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store — set for
    // this query only, restore the session default afterwards.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .as[(Long, Long, Long)].collect().sortBy(r => (r._3, r._2))
      val input = MemoryStream[(Long, Long, Long)]
      val q = Streams.throttleRunning(input.toDS())
        .writeStream.format("memory").queryName("throttle_tws")
        .outputMode(OutputMode.Append()).start()
      try {
        // event-time-ordered batches: the source-ordering contract
        val third = events.length / 3
        input.addData(events.take(third).toSeq); q.processAllAvailable()
        input.addData(events.slice(third, 2 * third).toSeq); q.processAllAvailable()
        input.addData(events.drop(2 * third).toSeq); q.processAllAvailable()
        // per-key state survived across batches in the state store
        assert(q.lastProgress.stateOperators.nonEmpty)
      } finally q.stop()
      val streamed = spark.table("throttle_tws").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.ops.TimeWindows.qThrottleEvents(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"stream kept ${streamed.size} vs batch ${batch.size}")
      assert(batch.nonEmpty && streamed.size < events.length) // throttle actually dropped rows
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-stream as-of equals the batch as-of under adversarial micro-batch chopping") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // Deterministic corpus: 5 keys × (20 lefts, 15 rights) over one
      // hour, second granularity — ts collisions included on purpose
      // (the (ts, id) tiebreak must agree with the batch operator).
      val rnd = new scala.util.Random(42)
      val base = ts("2024-01-01 10:00:00").getTime
      val leftRows = for (k <- 1L to 5L; i <- 0 until 20)
        yield (k, new Timestamp(base + rnd.nextInt(3600) * 1000L), 1000L + k * 100 + i)
      val rightRows = for (k <- 1L to 5L; i <- 0 until 15)
        yield (k, new Timestamp(base + rnd.nextInt(3600) * 1000L),
          2000L + k * 100 + i, rnd.nextInt(1000).toDouble)
      // Batch truth: the DECLARED batch twin (q_asof_stream_twin's
      // form, oracle-gated at the driver) — stream ≡ declared batch.
      val truth = graft.streaming.Streams.asofBatchTwin(
          leftRows.toDF("key", "ts", "id"),
          rightRows.toDF("key", "ts", "id", "value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
      assert(truth.values.exists(_._1.isEmpty) && truth.values.exists(_._1.nonEmpty))

      // Three adversarial batchings of the SAME tagged event sequence:
      // one giant batch; event-time-ordered thirds with within-batch
      // shuffle; a full random shuffle chopped unevenly. Lateness (2 h)
      // exceeds the data span, so no chop makes anything late.
      val tagged =
        leftRows.map(r => (r._1, r._2, r._3, 0, 0.0)) ++
          rightRows.map(r => (r._1, r._2, r._3, 1, r._4))
      val sentinel1 = (99L, ts("2024-01-02 10:00:00"), 9001L, 0, 0.0)
      val sentinel2 = (99L, ts("2024-01-02 11:00:00"), 9002L, 0, 0.0)
      val chops: Seq[Seq[Seq[(Long, Timestamp, Long, Int, Double)]]] = Seq(
        Seq(tagged),
        tagged.sortBy(r => (r._2.getTime, r._4, r._3)).grouped(60)
          .map(b => rnd.shuffle(b.toSeq)).toSeq,
        rnd.shuffle(tagged).grouped(47).map(_.toSeq).toSeq)
      chops.zipWithIndex.foreach { case (batches, ci) =>
        val lIn = MemoryStream[(Long, Timestamp, Long)]
        val rIn = MemoryStream[(Long, Timestamp, Long, Double)]
        val q = Streams.asofCorrelate(
            lIn.toDF(), rIn.toDF(), lateness = "2 hours")
          .writeStream.format("memory").queryName(s"asof_ss_$ci")
          .outputMode(OutputMode.Append()).start()
        try {
          (batches :+ Seq(sentinel1) :+ Seq(sentinel2)).foreach { b =>
            val ls = b.filter(_._4 == 0).map(r => (r._1, r._2, r._3))
            val rs = b.filter(_._4 == 1).map(r => (r._1, r._2, r._3, r._5))
            if (ls.nonEmpty) lIn.addData(ls)
            if (rs.nonEmpty) rIn.addData(rs)
            q.processAllAvailable()
          }
          val got = spark.table(s"asof_ss_$ci").collect()
            .map(r => (r.getLong(0), r.getLong(1)) -> (
              if (r.isNullAt(3)) None else Some(r.getLong(3)),
              if (r.isNullAt(4)) None else Some(r.getLong(4)),
              if (r.isNullAt(5)) None else Some(r.getDouble(5))))
            .filter(_._1._1 != 99L)
          // exactly-once per left, and value-identical to the batch as-of
          assert(got.length == got.map(_._1).distinct.length, s"chop $ci emitted dups")
          assert(got.toMap == truth, s"chop $ci diverged from the batch as-of")
          // state bounded: after the flush the store holds the compacted
          // rights (≤1 per drained key) + the sentinel lefts — nowhere
          // near the 175 buffered events a horizonless buffer would keep
          val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
          assert(stateRows <= 20, s"chop $ci state not compacted: $stateRows rows")
        } finally q.stop()
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
