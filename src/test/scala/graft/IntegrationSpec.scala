package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sinks.Sinks

/** Cross-module integration: streaming → idempotent sink (R22 as
  * foreachBatch), bucketed co-located joins (the SURVEY §7.5 shuffle
  * elimination), and the binaryFile listing source (R21). */
class IntegrationSpec extends SparkSpec {

  test("foreachBatch + appendNew: replayed batch writes nothing twice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sink = tempDir("graft_stream_sink_") + "/out"
    val input = MemoryStream[(Long, String)]
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = input.toDF().toDF("id", "payload").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        counts += Sinks.appendNew(spark, batch, "id", sink)
        ()
      }.start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      // a re-delivered batch (at-least-once) must be a no-op
      input.addData((1L, "a"), (2L, "b"), (3L, "c"))
      q.processAllAvailable()
      assert(counts.toSeq == Seq(2L, 1L)) // second delivery: only id=3 lands
      assert(spark.read.parquet(sink).count() == 3)
    } finally q.stop()
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice")
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_extendedprice")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(4, "l_orderkey").saveAsTable("lineitem_b")
    try {
      val j = spark.table("orders_b").join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      // co-located buckets: no Exchange feeding the join
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in bucketed join plan:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("AvailableNow file stream skips already-processed files on re-run (R19+R9)") {
    val base = tempDir("graft_incr_")
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    val outDir = s"$base/out"
    val events = Tables.events(spark, sfDir)
    events.limit(100).write.parquet(srcDir)
    def runOnce(): Long = {
      val q = spark.readStream.schema(events.schema).parquet(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", outDir)
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).count()
    }
    assert(runOnce() == 100)          // first run lands everything
    assert(runOnce() == 100)          // re-run: processed-files log skips all
    events.limit(150).write.mode("append").parquet(srcDir)
    assert(runOnce() > 100)           // only genuinely new files processed
  }

  test("StreamingQueryListener surfaces progress + termination (R20 status API)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listener = new graft.streaming.Streams.StatusListener
    spark.streams.addListener(listener)
    val input = MemoryStream[Long]
    val q = input.toDF().writeStream.format("noop").start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      // processAllAvailable guarantees the batch ran, NOT that the
      // async listener bus has dispatched its progress event yet —
      // poll with a deadline (same treatment as termination below).
      // (poll the full condition: an early zero-row progress event
      // satisfies nProgress >= 1 while the 3-row event is in flight)
      val progressDeadline = System.currentTimeMillis() + 10000
      while ({ val s = listener.snapshot; s._1 < 1 || s._2 != 3 } &&
          System.currentTimeMillis() < progressDeadline)
        Thread.sleep(100)
      val (nProgress, lastRows, _) = listener.snapshot
      assert(nProgress >= 1)
      assert(lastRows == 3)
    } finally {
      q.stop()
      q.awaitTermination()
      // termination event is delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (!listener.snapshot._3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(listener.snapshot._3)
      spark.streams.removeListener(listener)
    }
  }

  test("binaryFile listing source: full-bucket scan with metadata (R21)") {
    val inv = spark.read.format("binaryFile")
      .load(s"$sfDir/*.parquet")
      .select(col("path"), col("length"),
        regexp_extract(col("path"), "([^/]+)\\.parquet$", 1).as("table_name"))
    val names = inv.collect().map(_.getString(2)).toSet
    assert(names.contains("lineitem") && names.contains("documents"))
    assert(inv.collect().forall(_.getLong(1) > 0))
  }

  test("binaryFile payloads flow into the multimodal decode (R21 -> R12)") {
    import graft.ops.Multimodal
    // land 20 payloads as loose binary objects, exactly the reference's
    // per-chunk files in a bucket
    val dir = tempDir("graft_payloads_")
    val docs = Tables.documents(spark, sfDir)
      .orderBy("doc_id").limit(20).collect()
    docs.foreach { r =>
      Files.write(java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.bin"),
        r.getAs[String]("text").getBytes("UTF-8"))
    }
    // binaryFile scan -> (doc_id parsed from the key, content) -> decode
    val scanned = spark.read.format("binaryFile").load(s"$dir/*.bin")
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        col("content"))
    val viaFiles = Multimodal.featuresFromPayload(spark, scanned)
    val viaTable = Multimodal.qMultimodalFeatures(spark, sfDir)
      .filter(col("doc_id").isin(docs.map(_.getLong(0)).toSeq: _*))
    assert(viaFiles.count() == 20 * 4)
    assert(viaFiles.exceptAll(viaTable).count() == 0) // same decode either way in
    assert(viaTable.exceptAll(viaFiles).count() == 0)
  }

  test("image resize: one doc's full 2x2 block-average raster replayed driver-side") {
    val rows = ops.Multimodal.qImageResize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val doc = Tables.documents(spark, sfDir)
      .orderBy("doc_id").select("doc_id", "text").head()
    val (id, t) = (doc.getLong(0), doc.getString(1))
    val h2 = math.min(t.length / 16, 16) / 2
    assert(h2 >= 1, "first doc too short for the spec replay")
    val px = for (r <- 0 until h2; c <- 0 until 8) yield
      (t((r * 2) * 16 + c * 2).toInt + t((r * 2) * 16 + c * 2 + 1).toInt
        + t((r * 2 + 1) * 16 + c * 2).toInt + t((r * 2 + 1) * 16 + c * 2 + 1).toInt) / 4
    val got = rows.find(_.getLong(0) == id).get
    assert(got.getLong(1) == h2)
    assert(got.getLong(2) == px.length)
    assert(got.getLong(3) == px.map(_.toLong).sum)
    assert(got.getLong(4) == px.min && got.getLong(5) == px.max)
    // every byte read is in-bounds ASCII, so means are in [0, 127]
    rows.foreach(r => assert(r.getLong(4) >= 0 && r.getLong(5) <= 127))
  }

  test("audio energy: one doc's PCM frame energies replayed driver-side") {
    val rows = ops.Multimodal.qAudioEnergy(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val doc = Tables.documents(spark, sfDir)
      .orderBy("doc_id").select("doc_id", "text").head()
    val (id, t) = (doc.getLong(0), doc.getString(1))
    val nfr = math.min(t.length, 128) / 16
    assert(nfr >= 1, "first doc too short for the spec replay")
    val mine = rows.filter(_.getLong(0) == id)
    assert(mine.length == nfr)
    for (fr <- 0 until nfr) {
      val samples = (0 until 16).map(j => t(fr * 16 + j).toInt - 96)
      val r = mine.find(_.getLong(1) == fr.toLong).get
      assert(r.getLong(2) == 16L)
      assert(r.getLong(3) == samples.map(s => (s * s).toLong).sum)
      assert(r.getLong(4) == samples.map(math.abs).max.toLong)
      assert(r.getBoolean(5) == (r.getLong(3) < 64L))
    }
    // frames are complete 16-sample windows everywhere
    assert(rows.forall(_.getLong(2) == 16L))
  }
}
