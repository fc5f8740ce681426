package graft

import org.apache.spark.sql.functions._

import graft.ops.Probes

/** The shared embedding-family probe: one job per dataset per session,
  * facts match a direct computation, fixture rewrites invalidate. */
class ProbesSpec extends SparkSpec {

  test("probe facts match a direct computation; repeat calls are served from cache") {
    Probes.invalidateAll()
    val p = Probes.embeddings(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
      .select(expr("CAST(embedding AS ARRAY<DOUBLE>)").as("e"),
        col("label").cast("long").as("label"))
    val r = emb.agg(count(lit(1)), countDistinct(xxhash64(col("e"))),
      min("label"), max("label"),
      countDistinct(xxhash64(element_at(col("e"), 1), element_at(col("e"), 2)))).head()
    assert(p.n == r.getLong(0) && p.ndContent == r.getLong(1))
    assert(p.minLabel.contains(r.getLong(2)) && p.maxLabel.contains(r.getLong(3)))
    assert(p.ndXy == r.getLong(4))
    // a second call returns the SAME instance — a cache hit runs no job
    assert(Probes.embeddings(spark, sfDir) eq p)
  }

  test("rewriting a fixture dir invalidates its cached probe") {
    import spark.implicits._
    val dir = tempDir("graft_probe_fix_")
    val e1 = Array.tabulate(16)(i => 0.1f * i)
    Seq((0L, e1, 1), (1L, e1, 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p1 = Probes.embeddings(spark, dir)
    assert(p1.n == 2 && p1.ndContent == 1 && !p1.contentDupFree)
    // rewrite with distinct contents: the fingerprint (mtime+len)
    // changes, so the stale probe must not be served
    Seq((0L, e1, 1), (1L, e1.map(_ * 2f), 2), (2L, e1.map(_ * 3f), 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p2 = Probes.embeddings(spark, dir)
    assert(p2.n == 3 && p2.ndContent == 3 && p2.contentDupFree)
    // rewrite one part file and its checksum in place, as a directory
    // table's writer may: the directory's own mtime and length stay as
    // they were, only that part file's stamp moves
    import java.nio.file.{Files, Path}
    val table = new java.io.File(s"$dir/embeddings.parquet")
    def partAndCrc(t: java.io.File): Seq[Path] = {
      val part = t.list().filter(n => n.startsWith("part-") && n.endsWith(".parquet")).min
      Seq(part, s".$part.crc").map(t.toPath.resolve(_))
    }
    val fresh = new java.io.File(
      new java.io.File(tempDir("graft_probe_part_")), "embeddings.parquet")
    Seq.tabulate(4)(i => (10L + i, e1.map(_ * 7f), 1))
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(fresh.getPath)
    val dirStamp = (table.lastModified, table.length)
    partAndCrc(table).zip(partAndCrc(fresh)).foreach { case (old, neu) =>
      Files.write(old, Files.readAllBytes(neu))
    }
    assert((table.lastModified, table.length) == dirStamp)
    val p3 = Probes.embeddings(spark, dir)
    // the replacement part holds 4 rows of one content, so the count moves
    assert(p3.n == spark.read.parquet(table.getPath).count() && p3.n != p2.n)
    assert(!p3.contentDupFree)
  }
}
