package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sinks.TxTable

/** Commit-log table protocol: multi-writer safety, torn-read
  * impossibility, crashed-writer reclamation, transactional
  * compaction, write-once initialization. */
class TxTableSpec extends SparkSpec {

  private def freshTable(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_tx_${tag}_").toString
    new java.io.File(d).delete() // TxTable creates its own layout
    d
  }

  private def frame(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
  }

  test("append/read roundtrip: versions are contiguous, later appends visible") {
    val t = freshTable("rt")
    assert(TxTable.append(frame(0 until 10), t) == 0L)
    assert(TxTable.append(frame(10 until 15), t) == 1L)
    assert(TxTable.read(spark, t).count() == 15)
    assert(TxTable.read(spark, t, asOf = 0L).count() == 10)
    assert(TxTable.commits(spark, t).map(_.version) == Seq(0L, 1L))
  }

  test("two concurrent appenders: every commit lands, versions serialize with no lost update") {
    val t = freshTable("mw")
    val perWriter = 6
    val writers = (0 until 2).map { w =>
      new Thread(() => {
        (0 until perWriter).foreach { i =>
          val lo = (w * perWriter + i) * 100
          TxTable.append(frame(lo until lo + 100), t)
        }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    val cs = TxTable.commits(spark, t)
    assert(cs.map(_.version) == (0L until 2L * perWriter))
    // no lost update: every staged row set is live exactly once
    val ids = TxTable.read(spark, t).select("id").collect().map(_.getLong(0))
    assert(ids.length == 2 * perWriter * 100 && ids.distinct.length == ids.length)
  }

  test("crashed writer: staged-but-uncommitted data is invisible; vacuum reclaims it, TTL protects in-flight") {
    val t = freshTable("crash")
    TxTable.append(frame(0 until 10), t)
    // simulate a writer that died after staging, before claiming
    frame(1000 until 1100).write.parquet(s"$t/data/dead-attempt")
    assert(TxTable.read(spark, t).count() == 10, "uncommitted staging leaked into a read")
    // a generous TTL keeps it (could be an in-flight writer)...
    assert(TxTable.vacuum(spark, t, ttlMs = 60000).isEmpty)
    // ...a zero TTL reclaims it
    assert(TxTable.vacuum(spark, t, ttlMs = 0) == Seq("data/dead-attempt"))
    assert(!Files.exists(Paths.get(s"$t/data/dead-attempt")))
    assert(TxTable.read(spark, t).count() == 10)
  }

  test("torn read impossible: a header-only (unterminated) commit file is not part of any snapshot") {
    val t = freshTable("torn")
    TxTable.append(frame(0 until 10), t)
    // an HDFS-style claimant mid-content-write: header but no `end`
    Files.write(Paths.get(s"$t/_txlog/${"%020d".format(1)}.txn"),
      "graft-txn-v1\nop=append\nadd=data/half/part-0.parquet\n".getBytes)
    assert(TxTable.commits(spark, t).map(_.version) == Seq(0L))
    assert(TxTable.read(spark, t).count() == 10)
    // and a commit BEYOND a contiguity gap is likewise excluded
    Files.write(Paths.get(s"$t/_txlog/${"%020d".format(3)}.txn"),
      "graft-txn-v1\nop=append\nadd=data/gap/part-0.parquet\nend\n".getBytes)
    assert(TxTable.commits(spark, t).map(_.version) == Seq(0L))
  }

  test("replaceCompact: one commit swaps the file set; rows identical; old version still time-travels") {
    val t = freshTable("compact")
    (0 until 4).foreach(i => TxTable.append(frame(i * 50 until (i + 1) * 50), t))
    val before = TxTable.files(spark, t)
    assert(before.length > 1)
    val v = TxTable.replaceCompact(spark, t, nOut = 1)
    assert(v == 4L)
    val after = TxTable.files(spark, t)
    assert(after.length == 1 && after.intersect(before).isEmpty)
    val live = TxTable.read(spark, t).select("id").collect().map(_.getLong(0)).sorted
    assert(live.toSeq == (0L until 200L))
    // time travel to the pre-compaction snapshot
    assert(TxTable.read(spark, t, asOf = 3L).count() == 200)
    assert(TxTable.files(spark, t, asOf = 3L) == before)
    // dropRemoved vacuum reclaims the superseded files
    val dropped = TxTable.vacuum(spark, t, ttlMs = 0, dropRemoved = true)
    assert(dropped.toSet == before.toSet)
  }

  test("compaction claim races a concurrent append: the append is never dropped") {
    val t = freshTable("occ")
    (0 until 3).foreach(i => TxTable.append(frame(i * 10 until (i + 1) * 10), t))
    // interleave: start compaction and an append concurrently, many rounds
    val appender = new Thread(() => {
      (0 until 4).foreach(i => TxTable.append(frame(1000 + i * 10 until 1010 + i * 10), t))
    })
    appender.start()
    (0 until 2).foreach(_ => TxTable.replaceCompact(spark, t, nOut = 1))
    appender.join()
    TxTable.replaceCompact(spark, t, nOut = 1)
    val ids = TxTable.read(spark, t).select("id").collect().map(_.getLong(0))
    assert(ids.length == 70 && ids.distinct.length == 70,
      s"rows lost or duplicated across compaction/append races: ${ids.length}")
  }

  test("commitOnce: exactly one concurrent initializer wins; loser's staging is reclaimed immediately") {
    // the DataFrame form, and the directory-writer form leaving a
    // partitioned layout plus a non-parquet file
    val forms: Seq[(String, (Int, String) => Boolean)] = Seq(
      "once" -> ((w, t) => TxTable.commitOnce(frame(w * 100 until w * 100 + 10), t)),
      "once_dir" -> ((w, t) => TxTable.commitOnce(spark, t) { path =>
        frame(w * 100 until w * 100 + 10).withColumn("part", col("id") % 2)
          .write.partitionBy("part").parquet(path)
        Files.writeString(Paths.get(path, "side.bin"), s"writer $w")
      }))
    forms.foreach { case (tag, commit) =>
      val t = freshTable(tag)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val threads = (0 until 3).map(w => new Thread(() => results.add(commit(w, t))))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(results.asScala.count(identity) == 1, tag)
      assert(TxTable.commits(spark, t).map(_.version) == Seq(0L), tag)
      // losers cleaned up after themselves: only the winner's staging dir remains
      val staged = new java.io.File(s"$t/data").listFiles().filter(_.isDirectory)
      assert(staged.length == 1, tag)
      // version 0 lists every data file under the winner's staging dir
      val onDisk = Files.walk(staged.head.toPath).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => new java.io.File(t).toURI.relativize(f.toURI).getPath).toSet
      assert(TxTable.files(spark, t).toSet == onDisk, tag)
      if (tag == "once") assert(TxTable.read(spark, t).count() == 10)
      else assert(Seq("side.bin", "part=0/", "part=1/").forall(k => onDisk.exists(_.contains(k))))
      // a later commitOnce is a no-op without staging anything
      assert(!commit(9, t), tag)
      assert(new java.io.File(s"$t/data").listFiles().count(_.isDirectory) == 1, tag)
    }
  }

  test("empty table reads throw with the table named; asOf past a dropRemoved vacuum throws on read") {
    val t = freshTable("empty")
    val ex = intercept[IllegalArgumentException] { TxTable.read(spark, t) }
    assert(ex.getMessage.contains(t))
  }

  test("checkpoint: auto-folded every interval, read ≡ full fold, and the read path is checkpoint-first") {
    val t = freshTable("ckpt")
    (0 until 25).foreach(i => TxTable.append(frame(i * 10 until (i + 1) * 10), t))
    // append auto-checkpoints at versions 9 and 19
    val ckpts = new java.io.File(s"$t/_txlog").listFiles()
      .map(_.getName).filter(_.endsWith(".ckpt")).sorted.toSeq
    assert(ckpts == Seq("%020d.ckpt".format(9), "%020d.ckpt".format(19)))
    // checkpoint-seeded fold ≡ the full protocol fold
    val full = {
      val live = scala.collection.mutable.LinkedHashSet[String]()
      TxTable.commits(spark, t).foreach { c => live ++= c.added; live --= c.removed }
      live.toSet
    }
    assert(TxTable.files(spark, t).toSet == full)
    assert(TxTable.read(spark, t).count() == 250)
    // time travel below the newest checkpoint still works (older
    // checkpoint seeds it) and below ALL checkpoints falls back to fold
    assert(TxTable.read(spark, t, asOf = 12L).count() == 130)
    assert(TxTable.read(spark, t, asOf = 4L).count() == 50)
    // PROOF the reader parses checkpoint-first: manifests at-or-below
    // the newest checkpoint can disappear entirely and the current
    // snapshot still reads completely
    (0 to 19).foreach { v =>
      Files.delete(Paths.get(s"$t/_txlog/${"%020d".format(v)}.txn"))
    }
    assert(TxTable.read(spark, t).count() == 250)
    val ids = TxTable.read(spark, t).select("id").collect().map(_.getLong(0))
    assert(ids.length == 250 && ids.distinct.length == 250)
    // and the next version claimed continues past the checkpoint
    assert(TxTable.append(frame(250 until 260), t) == 25L)
    assert(TxTable.read(spark, t).count() == 260)
    // NEW checkpoints keep folding after the cleanup (the fold seeds
    // from the newest checkpoint, never from the vanished version 0):
    // appends reach v29 -> auto-checkpoint at 29 -> snapshot complete
    (26 to 29).foreach(i => TxTable.append(frame(i * 10 until (i + 1) * 10), t))
    val ckpts2 = new java.io.File(s"$t/_txlog").listFiles()
      .map(_.getName).filter(_.endsWith(".ckpt")).sorted.toSeq
    assert(ckpts2.last == "%020d.ckpt".format(29), s"got $ckpts2")
    assert(TxTable.read(spark, t).count() == 300)
    val ids2 = TxTable.read(spark, t).select("id").collect().map(_.getLong(0))
    assert(ids2.length == 300 && ids2.distinct.length == 300)
  }

  test("checkpoint: a torn or garbage checkpoint is skipped, never trusted") {
    val t = freshTable("ckpt_torn")
    (0 until 12).foreach(i => TxTable.append(frame(i * 10 until (i + 1) * 10), t))
    // garbage at a NEWER version than the real checkpoint (9): a reader
    // sorting newest-first sees it first and must fall through
    Files.write(Paths.get(s"$t/_txlog/${"%020d".format(11)}.ckpt"),
      "not a manifest at all".getBytes)
    // and an unterminated one (header, no `end`) at 10
    Files.write(Paths.get(s"$t/_txlog/${"%020d".format(10)}.ckpt"),
      "graft-txn-v1\nop=checkpoint\nadd=data/bogus/part-0.parquet\n".getBytes)
    assert(TxTable.read(spark, t).count() == 120)
    val ids = TxTable.read(spark, t).select("id").collect().map(_.getLong(0))
    assert(ids.length == 120 && ids.distinct.length == 120)
  }

  test("gap fencing: a crashed claimant's unterminated manifest is fenced after the TTL, unblocking the snapshot") {
    val t = freshTable("fence")
    TxTable.append(frame(0 until 10), t)
    TxTable.append(frame(10 until 20), t)
    // HDFS-style claimant died mid-content-write at version 2...
    val stalled = Paths.get(s"$t/_txlog/${"%020d".format(2)}.txn")
    Files.write(stalled, "graft-txn-v1\nop=append\nadd=data/dead/part-0.parquet\n".getBytes)
    // ...and its retry (staged files were already complete) landed at 3
    TxTable.append(frame(20 until 30), t)
    assert(TxTable.commits(spark, t).map(_.version) == Seq(0L, 1L),
      "snapshot must truncate at the gap before fencing")
    assert(TxTable.read(spark, t).count() == 20)
    // a young stall is protected (could be a live claimant)...
    assert(TxTable.fenceStalled(spark, t).isEmpty)
    // ...but past the TTL any writer fences it into a no-op abort
    assert(TxTable.fenceStalled(spark, t, ttlMs = 0) == Seq(2L))
    assert(TxTable.commits(spark, t).map(c => (c.version, c.op)) ==
      Seq((0L, "append"), (1L, "append"), (2L, "abort"), (3L, "append")))
    assert(TxTable.read(spark, t).count() == 30)
    // writers fence automatically — but ONLY on stores whose claim is
    // not content-atomic (on file:// the link-published claim makes a
    // torn manifest impossible by protocol, so append skips the scan):
    // backdated stall + plain append over mock:// (HDFS-like default)
    spark.sparkContext.hadoopConfiguration.set("fs.mock.impl", classOf[MockFs].getName)
    val local = Files.createTempDirectory("graft_tx_autofence_")
    Files.delete(local)
    val tm = s"mock://$local"
    TxTable.append(frame(0 until 10), tm)
    val stalled2 = Paths.get(s"$local/_txlog/${"%020d".format(1)}.txn")
    Files.write(stalled2, "graft-txn-v1\nop=append\n".getBytes)
    Files.setLastModifiedTime(stalled2,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - TxTable.DefaultFenceTtlMs - 60000))
    TxTable.append(frame(10 until 20), tm)
    assert(TxTable.commits(spark, tm).map(c => (c.version, c.op)) ==
      Seq((0L, "append"), (1L, "abort"), (2L, "append")))
    assert(TxTable.read(spark, tm).count() == 20)
    // and on file:// the same backdated stall is left for the EXPLICIT
    // fence call (append must not pay the scan on a content-atomic
    // store)
    val stalled3 = Paths.get(s"$t/_txlog/${"%020d".format(4)}.txn")
    Files.write(stalled3, "graft-txn-v1\nop=append\n".getBytes)
    Files.setLastModifiedTime(stalled3,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - TxTable.DefaultFenceTtlMs - 60000))
    TxTable.append(frame(30 until 40), t)
    assert(TxTable.commits(spark, t).map(_.version) == (0L to 3L),
      "append on file:// must not auto-fence")
    assert(TxTable.fenceStalled(spark, t) == Seq(4L))
    assert(TxTable.commits(spark, t).map(_.version) == (0L to 5L))
    assert(TxTable.read(spark, t).count() == 40)
  }

  test("append: staged files are reclaimed when every claim retry is exhausted") {
    val t = freshTable("reclaim")
    TxTable.append(frame(0 until 10), t)
    intercept[IllegalStateException] {
      TxTable.append(frame(10 until 20), t, maxRetries = 0)
    }
    // only the successful append's staging directory survives
    val staged = new java.io.File(s"$t/data").listFiles().filter(_.isDirectory)
    assert(staged.length == 1)
    assert(TxTable.read(spark, t).count() == 10)
  }

  test("schema evolution: an added column reads as NULL for pre-evolution files, at every version") {
    import spark.implicits._
    val t = freshTable("evo")
    TxTable.append(frame(0 until 5), t)
    TxTable.append(
      (5 until 8).map(i => (i.toLong, s"row_$i", i * 10)).toDF("id", "payload", "score"),
      t)
    val r = TxTable.read(spark, t)
    assert(r.columns.toSeq == Seq("id", "payload", "score"),
      s"merged schema lost a column: ${r.columns.mkString(",")}")
    val byId = r.collect().map(x =>
      x.getLong(0) -> (if (x.isNullAt(2)) None else Some(x.getInt(2)))).toMap
    assert((0 until 5).forall(i => byId(i.toLong).isEmpty),
      "pre-evolution rows must read the new column as NULL")
    assert((5 until 8).forall(i => byId(i.toLong).contains(i * 10)))
    // time travel predates the evolution: the old snapshot's schema
    // has no score column at all
    assert(TxTable.read(spark, t, asOf = 0L).columns.toSeq == Seq("id", "payload"))
    // and a writer that DROPS a column cannot erase it from the
    // merged read schema (no data loss on read)
    TxTable.append((8 until 9).map(i => i.toLong).toDF("id"), t)
    val r2 = TxTable.read(spark, t)
    assert(r2.columns.toSeq == Seq("id", "payload", "score"))
    assert(r2.filter(col("id") === 8L).collect().head.isNullAt(1))
  }

  test("schema evolution: the merged schema survives checkpoint folding and manifest cleanup below it") {
    import spark.implicits._
    val t = freshTable("evock")
    TxTable.append(frame(0 until 5), t)
    (1 until 10).foreach { i =>
      if (i == 4)
        TxTable.append(
          Seq((100L + i, s"row_$i", 7)).toDF("id", "payload", "score"), t)
      else TxTable.append(frame(100 * i until 100 * i + 2), t)
    }
    // v9 append auto-folded a checkpoint at v9; delete every .txn
    // at-or-below it — the .ckpt is now the ONLY carrier of the
    // evolved schema
    val log = new java.io.File(s"$t/_txlog")
    assert(log.listFiles().exists(_.getName.endsWith(".ckpt")))
    log.listFiles().filter(_.getName.endsWith(".txn")).foreach(f => assert(f.delete()))
    val r = TxTable.read(spark, t)
    assert(r.columns.toSeq == Seq("id", "payload", "score"),
      "checkpoint dropped the evolved schema")
    assert(r.filter(col("score").isNotNull).count() == 1)
  }

  test("schema evolution: a type change in place is refused at the writer, not silently coerced") {
    import spark.implicits._
    val t = freshTable("evobad")
    TxTable.append(frame(0 until 3), t)
    val e = intercept[IllegalArgumentException](
      TxTable.append(Seq((9L, 42)).toDF("id", "payload"), t)) // payload INT vs STRING
    assert(e.getMessage.contains("payload"))
    // the refused append left nothing behind: table unchanged
    assert(TxTable.read(spark, t).count() == 3)
    assert(TxTable.commits(spark, t).map(_.version) == Seq(0L))
  }

  test("data skipping: disjoint appends prune to the one overlapping file; rows equal the unpruned filter") {
    import spark.implicits._
    val t = freshTable("skip")
    (0 until 4).foreach { i =>
      TxTable.append(frame(i * 100 until (i + 1) * 100).coalesce(1), t)
    }
    assert(TxTable.files(spark, t).length == 4)
    val kept = TxTable.prunedFiles(spark, t, "id", 150L, 160L)
    assert(kept.length == 1, s"expected 1 kept file, got $kept")
    val got = TxTable.readPruned(spark, t, "id", 150L, 160L)
      .select("id").collect().map(_.getLong(0)).sorted
    val want = TxTable.read(spark, t).filter(col("id").between(150L, 160L))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq && got.length == 11)
    // string column bounds prune too (payload = "row_<i>" — LEXICAL
    // order, so pick a probe below every other file's min: "row_0" is
    // under file 1-3's minima "row_100"/"row_200"/"row_300")
    val keptS = TxTable.prunedFiles(spark, t, "payload", "row_0", "row_0")
    assert(keptS.length == 1, s"string pruning kept $keptS")
    assert(TxTable.readPruned(spark, t, "payload", "row_0", "row_0").count() == 1)
    // a range outside every file prunes ALL files and still returns a
    // well-formed empty frame in the table's schema
    assert(TxTable.prunedFiles(spark, t, "id", 5000L, 6000L).isEmpty)
    val empty = TxTable.readPruned(spark, t, "id", 5000L, 6000L)
    assert(empty.columns.toSeq == Seq("id", "payload") && empty.count() == 0)
  }

  test("data skipping: stats survive checkpoint folding + manifest cleanup; compaction refreshes them") {
    import spark.implicits._
    val t = freshTable("skipck")
    (0 until 10).foreach { i =>
      TxTable.append(frame(i * 100 until (i + 1) * 100).coalesce(1), t)
    }
    // v9 auto-checkpointed; drop every .txn — stats now live only in
    // the .ckpt
    val log = new java.io.File(s"$t/_txlog")
    assert(log.listFiles().exists(_.getName.endsWith(".ckpt")))
    log.listFiles().filter(_.getName.endsWith(".txn")).foreach(f => assert(f.delete()))
    assert(TxTable.prunedFiles(spark, t, "id", 250L, 260L).length == 1,
      "checkpoint dropped the stats fold")
    // compaction rewrites the file set; its stats describe the NEW file
    TxTable.replaceCompact(spark, t, nOut = 1)
    val all = TxTable.files(spark, t)
    assert(all.length == 1)
    assert(TxTable.prunedFiles(spark, t, "id", 250L, 260L) == all)
    assert(TxTable.prunedFiles(spark, t, "id", 99999L, 100000L).isEmpty,
      "compacted file's fresh stats should prune an out-of-range scan")
  }

  test("clustered compaction restores data skipping that unsorted compaction destroys") {
    import spark.implicits._
    val t = freshTable("skipsort")
    // interleaved appends: every file spans the full id domain, so
    // nothing can prune
    (0 until 4).foreach { i =>
      val ids = (0 until 400).filter(_ % 4 == i)
      TxTable.append(
        ids.map(j => (j.toLong, s"row_$j")).toDF("id", "payload").coalesce(1), t)
    }
    assert(TxTable.prunedFiles(spark, t, "id", 10L, 20L).length == 4,
      "full-domain files must all be kept")
    // unsorted compaction keeps the full-domain mixing
    TxTable.replaceCompact(spark, t, nOut = 4)
    assert(TxTable.prunedFiles(spark, t, "id", 10L, 20L).length == 4)
    // clustered compaction range-partitions + sorts: a narrow range
    // now prunes to a strict subset, rows unchanged
    TxTable.replaceCompact(spark, t, nOut = 4, sortBy = Seq("id"))
    val kept = TxTable.prunedFiles(spark, t, "id", 10L, 20L)
    assert(kept.length < 4 && kept.nonEmpty, s"clustered compaction kept $kept")
    assert(TxTable.readPruned(spark, t, "id", 10L, 20L).count() == 11)
    assert(TxTable.read(spark, t).count() == 400)
  }

  test("data skipping is conservative: stripped stats lines keep every file, results unchanged") {
    import spark.implicits._
    val t = freshTable("skiplegacy")
    (0 until 3).foreach { i =>
      TxTable.append(frame(i * 100 until (i + 1) * 100).coalesce(1), t)
    }
    val log = new java.io.File(s"$t/_txlog")
    log.listFiles().filter(_.getName.endsWith(".txn")).foreach { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      val stripped = new java.util.ArrayList[String]()
      lines.forEach(l => if (!l.startsWith("stats=")) stripped.add(l))
      java.nio.file.Files.write(f.toPath, stripped)
    }
    assert(TxTable.prunedFiles(spark, t, "id", 150L, 160L).length == 3,
      "no stats must mean no pruning")
    assert(TxTable.readPruned(spark, t, "id", 150L, 160L).count() == 11)
  }

  test("legacy manifests without schema lines still read via sample-file inference") {
    import spark.implicits._
    val t = freshTable("legacy")
    TxTable.append(frame(0 until 4), t)
    // strip the schema line from every manifest, simulating a pre-r12 log
    val log = new java.io.File(s"$t/_txlog")
    log.listFiles().filter(_.getName.endsWith(".txn")).foreach { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      val stripped = new java.util.ArrayList[String]()
      lines.forEach(l => if (!l.startsWith("schema=")) stripped.add(l))
      java.nio.file.Files.write(f.toPath, stripped)
    }
    val r = TxTable.read(spark, t)
    assert(r.columns.toSeq == Seq("id", "payload") && r.count() == 4)
  }
}
