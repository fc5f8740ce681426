package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sinks.TxTable
import graft.sources.Landing

/** Crash-consistency contract of the write-once Landing area (the
  * mechanism behind the format round-trip queries AND the landed
  * near-dup pair artifacts): an artifact exists once its version 0 is
  * committed, so a landing that crashed mid-write must re-land on the
  * next call instead of serving a partial directory — and a completed
  * landing must never re-run its writer. */
class LandingSpec extends SparkSpec {

  private def freshSfDir(): String =
    java.nio.file.Files.createTempDirectory("graft_landing_sf_").toString

  /** Version 0 is committed at the landing path `dir` was served from
    * (`dir` is that path's `data/<attemptId>` staging directory). */
  private def committed(dir: String): Boolean =
    TxTable.commits(spark, new File(dir).getParentFile.getParent).map(_.version) == Seq(0L)

  test("landing runs the writer once, then serves the artifact without re-running") {
    val sf = freshSfDir()
    var writes = 0
    def land() = Landing.dir(spark, sf, "spec_once") { path =>
      writes += 1
      Tables.region(spark, sfDir).write.parquet(path)
    }
    val d1 = land()
    val d2 = land()
    assert(d1 == d2 && writes == 1)
    assert(spark.read.parquet(d1).count() == 5)
    assert(committed(d1))
  }

  test("a crashed landing (data without marker) re-lands instead of serving partial data") {
    val sf = freshSfDir()
    // simulate the crash: first writer dies AFTER writing partial data
    // but BEFORE the version-0 commit that marks the landing complete
    intercept[RuntimeException] {
      Landing.dir(spark, sf, "spec_crash") { path =>
        Tables.region(spark, sfDir).limit(2).write.parquet(path)
        throw new RuntimeException("crash before commit")
      }
    }
    // the partial staging directory exists but no commit names it
    var relanded = false
    val dir = Landing.dir(spark, sf, "spec_crash") { path =>
      relanded = true
      Tables.region(spark, sfDir).write.mode("overwrite").parquet(path)
    }
    assert(relanded, "uncommitted partial landing was served as complete")
    assert(spark.read.parquet(dir).count() == 5)
    assert(committed(dir))
  }

  private val root = new File(s"${sys.props("java.io.tmpdir")}/graft_landing")

  private def fpDirs(sf: String): Seq[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val pathHash = md.digest(sf.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val prefix = s"${sf.replaceAll("[^A-Za-z0-9.]", "_")}.$pathHash-"
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName).toSeq
  }

  test("regeneration sweeps AGED stale fingerprints but spares fresh ones") {
    val sf = freshSfDir()
    def land() = Landing.dir(spark, sf, "spec_prune") { path =>
      Tables.region(spark, sfDir).write.mode("overwrite").parquet(path)
    }
    land()
    val before = fpDirs(sf)
    assert(before.size == 1)
    // regenerate the corpus: touching a file bumps its mtime, which
    // re-keys the fingerprint. The now-stale sibling is YOUNG, so the
    // age-gated sweep must spare it (a concurrent JVM could still be
    // reading it mid-job).
    val probe = new File(sf, "regen_probe.parquet")
    probe.createNewFile()
    probe.setLastModified(System.currentTimeMillis() + 5000)
    land()
    val afterFresh = fpDirs(sf)
    assert(afterFresh.size == 2, s"young stale sibling was swept: $afterFresh")
    assert(afterFresh.toSet.contains(before.head))
    // age the stale sibling past the 1h gate; a second regeneration
    // must then sweep it
    new File(root, before.head).setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    probe.setLastModified(System.currentTimeMillis() + 10000)
    land()
    val afterAged = fpDirs(sf)
    assert(!afterAged.contains(before.head), s"aged stale dir not pruned: $afterAged")
    assert(afterAged.forall(d => d != before.head))
    assert(afterAged.exists(d =>
      TxTable.commits(spark, new File(new File(root, d), "spec_prune").getPath).nonEmpty))
  }

  test("distinct corpus paths with identical sanitized names never share a sweep scope") {
    // /x/sf-1 and /x/sf_1 both sanitize to _x_sf_1; the raw-path hash in
    // the prefix must keep their landings (and sweeps) fully disjoint.
    val parent = java.nio.file.Files.createTempDirectory("graft_landing_twin_").toString
    val sfA = s"$parent/sf-1"
    val sfB = s"$parent/sf_1"
    new File(sfA).mkdirs()
    new File(sfB).mkdirs()
    assert(sfA.replaceAll("[^A-Za-z0-9.]", "_") == sfB.replaceAll("[^A-Za-z0-9.]", "_"))
    def land(sf: String) = Landing.dir(spark, sf, "spec_twin") { path =>
      Tables.region(spark, sfDir).write.mode("overwrite").parquet(path)
    }
    val dA = land(sfA)
    val dB = land(sfB)
    assert(dA != dB, "twin corpora collided to one landing directory")
    assert(fpDirs(sfA).size == 1 && fpDirs(sfB).size == 1)
    // regenerate corpus A with an AGED stale sibling for A: the sweep
    // must remove A's old dir and must not touch B's live artifact
    fpDirs(sfA).foreach(d => new File(root, d).setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    val probe = new File(sfA, "regen_probe.parquet")
    probe.createNewFile()
    probe.setLastModified(System.currentTimeMillis() + 5000)
    land(sfA)
    assert(committed(dB), "sweep of corpus A deleted corpus B's live landing")
    assert(spark.read.parquet(dB).count() == 5)
  }

  test("a corpus swap at the same path re-lands EVERY shared artifact (no consumer can serve stale pairs)") {
    // End-to-end fingerprint invalidation: regenerate the corpus
    // in-place (same path, different content) and assert each of the
    // four shared artifact accessors — the single point every
    // consumer query reads through — re-keys to a NEW landing dir and
    // reflects the NEW data. This is the staleness class the r5 fix
    // targeted, proved here across the full artifact set rather than
    // per-landing-mechanics (the prune/age-gate cases above).
    val sf = freshSfDir()
    def copyCorpus(from: String): Unit =
      new File(from).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath, new File(sf, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    copyCorpus("/root/testdata/sf0.001")
    val accessors: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "lsh_pairs_v2" -> (graft.ops.Quality.neardupPairs(spark, _)),
      "ngram_pairs_v2" -> (graft.ops.Quality.exactJaccardPairs(spark, _)),
      "lift_edges_v2" -> (graft.ops.Mining.liftEdges(spark, _)),
      "own_pairs_v2" -> (graft.ops.Mining.ownPairs(spark, _)))
    val before = accessors.map { case (kind, f) =>
      val df = f(sf)
      val files = df.inputFiles.toSeq
      assert(files.nonEmpty && files.forall(_.contains(kind)), kind)
      kind -> files
    }.toMap
    // the in-place regeneration: same path, different corpus content
    copyCorpus("/root/testdata/sf0.01")
    spark.catalog.clearCache()
    accessors.foreach { case (kind, f) =>
      val df = f(sf)
      val files = df.inputFiles.toSeq
      // a new fingerprint dir — not one byte served from the old landing
      assert(files.nonEmpty && files.forall(_.contains(kind)), kind)
      assert(files.toSet.intersect(before(kind).toSet).isEmpty,
        s"$kind: served files from the pre-swap landing")
      // and the content is genuinely the new corpus's: row-identical
      // to the artifact the same accessor lands for a reference corpus
      // with the same content (/root/testdata/sf0.01 itself)
      val got = df.collect().map(_.toString).sorted.toSeq
      val want = f("/root/testdata/sf0.01").collect().map(_.toString).sorted.toSeq
      assert(got == want, s"$kind: post-swap artifact content is not the new corpus's")
    }
  }

  test("the landed dedup pair artifact equals the live pair pipeline output") {
    // the contract the dedup family relies on: reading the artifact is
    // indistinguishable from running qMinhashNeardup
    val live = graft.ops.Quality.qMinhashNeardup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val landed = graft.ops.Quality.neardupPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(landed == live)
  }
}
