package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.sinks.{Claims, ConditionalPutClaim, ConditionalStore, LocalConditionalStore, TxTable}

/** Claim-primitive contracts: the S3 conditional-PUT shape under fault
  * injection (claim raced / claim torn / PUT-succeeded-but-response-
  * lost), the HDFS-like post-close verify against a fencer interleave,
  * and the checkpoint-era regressions (vacuum over checkpoint-only
  * references, commitOnce/replaceCompact off the checkpoint-seeded
  * head). */
class TxClaimSpec extends SparkSpec {

  private def freshTable(scheme: String, tag: String): String = {
    val d = tempDir(s"graft_claim_${tag}_")
    Files.delete(Paths.get(d))
    s"$scheme://$d"
  }

  private def frame(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
  }

  private def distinctIds(table: String): Seq[Long] =
    TxTable.read(spark, table).select("id").collect().map(_.getLong(0)).toSeq

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.cond.impl", classOf[CondFs].getName)
    conf.set("fs.zmb.impl", classOf[ZombieFs].getName)
    conf.set("fs.mock.impl", classOf[MockFs].getName)
  }

  /** A [[ConditionalStore]] that injects one fault per arm() call —
    * the S3 failure shapes the claim must survive. */
  private final class FaultyStore(inner: ConditionalStore) extends ConditionalStore {
    @volatile var mode: String = "ok"
    @volatile var failuresLeft: Int = 0
    def arm(m: String, times: Int = 1): Unit = { mode = m; failuresLeft = times }

    def putIfNoneMatch(path: Path, content: Array[Byte]): Boolean = {
      if (failuresLeft <= 0) return inner.putIfNoneMatch(path, content)
      failuresLeft -= 1
      mode match {
        case "torn" =>
          // crash mid-upload: the conditional PUT is ALL-OR-NOTHING, so
          // nothing lands — the store's honest contract
          throw new java.io.IOException("connection reset mid-upload")
        case "lost-after-apply" =>
          // the PUT was applied server-side; only the response vanished
          inner.putIfNoneMatch(path, content)
          throw new java.io.IOException("response lost")
        case "raced-and-lost" =>
          // a racer's PUT wins the version DURING our request, and our
          // response is lost too: the store holds the racer's bytes
          inner.putIfNoneMatch(path,
            "graft-txn-v1\nop=append\nadd=data/racer/part-0.parquet\nend\n".getBytes)
          throw new java.io.IOException("response lost")
        case _ => inner.putIfNoneMatch(path, content)
      }
    }

    def get(path: Path): Option[Array[Byte]] = inner.get(path)
  }

  test("conditional-PUT claim: appends, time travel, commitOnce and concurrent appenders over cond://") {
    Claims.register("cond", new ConditionalPutClaim(new LocalConditionalStore))
    try {
      val t = freshTable("cond", "happy")
      assert(TxTable.append(frame(0 until 10), t) == 0L)
      assert(TxTable.append(frame(10 until 15), t) == 1L)
      assert(TxTable.read(spark, t).count() == 15)
      assert(TxTable.read(spark, t, asOf = 0L).count() == 10)
      // concurrent appenders race through the conditional PUT
      val writers = (0 until 2).map { w =>
        new Thread(() => (0 until 3).foreach { i =>
          val lo = 100 + (w * 3 + i) * 50
          TxTable.append(frame(lo until lo + 50), t)
        })
      }
      writers.foreach(_.start()); writers.foreach(_.join())
      assert(TxTable.commits(spark, t).map(_.version) == (0L until 8L))
      val ids = distinctIds(t)
      assert(ids.length == 315 && ids.distinct.length == 315)
      // commitOnce on a fresh cond table: one winner among racers
      val t2 = freshTable("cond", "once")
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val threads = (0 until 3).map { w =>
        new Thread(() => results.add(TxTable.commitOnce(frame(w * 100 until w * 100 + 10), t2)))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      assert(results.asScala.count(identity) == 1)
      assert(TxTable.read(spark, t2).count() == 10)
    } finally Claims.unregister("cond")
  }

  test("conditional-PUT fault: torn PUT leaves NOTHING — no torn manifest, version reclaimed by the retry") {
    val store = new FaultyStore(new LocalConditionalStore)
    Claims.register("cond", new ConditionalPutClaim(store))
    try {
      val t = freshTable("cond", "torn")
      TxTable.append(frame(0 until 10), t)
      // one transient tear: the claim's ambiguity loop re-PUTs (safe —
      // nothing landed) and the append commits exactly once
      store.arm("torn")
      assert(TxTable.append(frame(10 until 20), t) == 1L)
      val ids = distinctIds(t)
      assert(ids.length == 20 && ids.distinct.length == 20)
      // a PERSISTENT failure propagates as the real IO error it is
      // (never conflated with a lost race) and still leaves no garbage:
      // the next healthy append claims the same version
      store.arm("torn", times = 10)
      intercept[java.io.IOException] { TxTable.append(frame(20 until 30), t) }
      store.arm("ok", times = 0)
      assert(TxTable.append(frame(30 until 40), t) == 2L)
      assert(TxTable.commits(spark, t).map(_.version) == Seq(0L, 1L, 2L))
    } finally Claims.unregister("cond")
  }

  test("conditional-PUT fault: PUT succeeded but response lost — content echo proves ownership, no duplicate commit") {
    val store = new FaultyStore(new LocalConditionalStore)
    Claims.register("cond", new ConditionalPutClaim(store))
    try {
      val t = freshTable("cond", "lost")
      TxTable.append(frame(0 until 10), t)
      store.arm("lost-after-apply")
      // the writer's PUT landed server-side; the GET echo of its own
      // unique manifest bytes proves ownership — success, not a retry
      assert(TxTable.append(frame(10 until 20), t) == 1L)
      assert(TxTable.commits(spark, t).map(_.version) == Seq(0L, 1L))
      val ids = distinctIds(t)
      assert(ids.length == 20 && ids.distinct.length == 20)
    } finally Claims.unregister("cond")
  }

  test("conditional-PUT fault: response lost AND the version was raced — foreign content means an ordinary lost race") {
    val store = new FaultyStore(new LocalConditionalStore)
    Claims.register("cond", new ConditionalPutClaim(store))
    try {
      val t = freshTable("cond", "raced")
      TxTable.append(frame(0 until 10), t)
      // a racer's PUT wins version 1 DURING our request and our
      // response is lost: the GET echoes the racer's (foreign) bytes ->
      // an ordinary lost race -> our append retries and lands at 2
      store.arm("raced-and-lost")
      assert(TxTable.append(frame(10 until 20), t) == 2L)
      assert(TxTable.commits(spark, t).map(c => (c.version, c.added.nonEmpty)) ==
        Seq((0L, true), (1L, true), (2L, true)))
    } finally Claims.unregister("cond")
  }

  test("zombie writer on a non-content-atomic store: fencer interleave is detected by the post-close verify, claim retried") {
    val t = freshTable("zmb", "zombie")
    ZombieFs.armed.set(true)
    try {
      // the first .txn claim (version 0) gets the fencer's abort
      // overwritten between close and verify: the writer must NOT
      // return 0 — it must detect the loss and land at version 1
      assert(TxTable.append(frame(0 until 10), t) == 1L)
    } finally ZombieFs.armed.set(false)
    assert(TxTable.commits(spark, t).map(c => (c.version, c.op)) ==
      Seq((0L, "abort"), (1L, "append")))
    val ids = distinctIds(t)
    assert(ids.length == 10 && ids.distinct.length == 10)
  }

  test("vacuum after manifest cleanup: data whose only reference is a checkpoint is NEVER reclaimed") {
    val t = tempDir("graft_claim_vac_")
    new java.io.File(t).delete()
    (0 until 12).foreach(i => TxTable.append(frame(i * 10 until (i + 1) * 10), t))
    // manifests at-or-below the auto-checkpoint (version 9) cleaned away
    (0 to 9).foreach(v => Files.delete(Paths.get(s"$t/_txlog/${"%020d".format(v)}.txn")))
    val deleted = TxTable.vacuum(spark, t, ttlMs = 0)
    assert(deleted.isEmpty, s"vacuum deleted live data: $deleted")
    assert(TxTable.read(spark, t).count() == 120)
    // a genuinely orphaned staging dir is still reclaimed
    frame(5000 until 5100).write.parquet(s"$t/data/dead-attempt")
    assert(TxTable.vacuum(spark, t, ttlMs = 0) == Seq("data/dead-attempt"))
    val ids = distinctIds(t)
    assert(ids.length == 120 && ids.distinct.length == 120)
  }

  test("commitOnce + replaceCompact after manifest cleanup: no version-0 re-claim, compaction works off the checkpoint head") {
    val t = tempDir("graft_claim_head_")
    new java.io.File(t).delete()
    (0 until 12).foreach(i => TxTable.append(frame(i * 10 until (i + 1) * 10), t))
    (0 to 9).foreach(v => Files.delete(Paths.get(s"$t/_txlog/${"%020d".format(v)}.txn")))
    assert(TxTable.commits(spark, t).isEmpty,
      "precondition: the from-zero view is empty after cleanup")
    // commitOnce must see the table as initialized (a re-claim of
    // version 0 would be a silent lost write)
    assert(!TxTable.commitOnce(frame(0 until 5), t))
    assert(!Files.exists(Paths.get(s"$t/_txlog/${"%020d".format(0)}.txn")))
    assert(TxTable.read(spark, t).count() == 120)
    // replaceCompact compacts the checkpoint-seeded head instead of
    // throwing "nothing to compact" on a healthy table
    assert(TxTable.replaceCompact(spark, t, nOut = 1) == 12L)
    assert(TxTable.files(spark, t).length == 1)
    val ids = distinctIds(t)
    assert(ids.length == 120 && ids.distinct.length == 120)
  }
}
