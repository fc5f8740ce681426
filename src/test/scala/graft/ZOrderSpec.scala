package graft

import org.apache.spark.sql.functions._

import graft.ops.{Packing, Quality}

/** Native Z-order key semantics + the layout locality guarantee, and
  * the containment-vs-Jaccard relationship. */
class ZOrderSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  /** Reference interleave: per-bit loop, the definitional form. */
  private def mortonRef(a: Long, b: Long): Long = {
    var z = 0L
    for (i <- 0 until 16) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("zorder16 matches the per-bit reference through whole-stage codegen") {
    val rnd = new scala.util.Random(42)
    val cases = Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L),
      (1L, 2L), (0x5555L, 0xaaaaL)) ++
      Seq.fill(500)((rnd.nextLong().abs % 65536, rnd.nextLong().abs % 65536)) ++
      // out-of-range inputs must quantize by masking, not wrap or throw
      Seq((65536L, 1L), (1L << 40, 123L), (Long.MaxValue, Long.MaxValue))
    import spark.implicits._
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"), expr("zorder16(a, b)").as("z"))
      .collect()
    got.foreach { r =>
      val want = mortonRef(r.getLong(0) & 0xffffL, r.getLong(1) & 0xffffL)
      assert(r.getLong(2) == want, s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
    // the plan stays inside whole-stage codegen (no CodegenFallback);
    // a literal table would constant-fold away, so drive from range()
    val plan = spark.range(4)
      .select(expr("zorder16(id, id + 1)")).queryExecution.executedPlan.toString
    // the starred projection = inside a WholeStageCodegen stage (a
    // CodegenFallback expression would force an unstarred Project)
    assert(plan.contains("*(1) Project [zorder16"), plan)
  }

  test("z-order buckets are bounded 2048x2048 rectangles on both dimensions") {
    // THE file-skipping guarantee: file_id = z >> 22 keeps the top 10
    // interleaved bits — the high 5 bits of EACH 16-bit dimension — so
    // within one bucket each dimension spans < 2^11 = 2048.
    val rows = Packing.qZorderLayout(spark, sf01).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) < 2048, s"pk span too wide in bucket ${r.getLong(0)}")
      assert(r.getLong(5) - r.getLong(4) < 2048, s"day span too wide in bucket ${r.getLong(0)}")
    }
    // and the buckets tile the data: row counts add up to the table
    assert(rows.map(_.getLong(1)).sum == Tables.lineitem(spark, sf01).count())
  }

  test("containment reproduces the brute-force set arithmetic exactly") {
    val out = Quality.qContainment(spark, sf01).collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    spark.catalog.clearCache()
    assert(out.nonEmpty)
    // ground truth: per-doc distinct word-3-gram sets in plain Scala
    val docs = Tables.documents(spark, sf01)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split("\\s+", -1).sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet))
      .filter(_._3.nonEmpty)
    val expect = (for {
      (ida, lang, sa) <- docs; (idb, langB, sb) <- docs
      if lang == langB && ida < idb
      inter = (sa & sb).size.toLong if inter > 0
      ppm = inter * 1000000L / math.min(sa.size, sb.size) if ppm >= 800000L
    } yield (lang, ida, idb) -> (inter, ppm)).toMap
    assert(out == expect,
      s"query=${out.size} pairs, brute force=${expect.size}")
  }
}
