package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** Session-level cache of the 1-row dataset probe that gates plan
  * selection in the embedding family. Three query families
  * (q_embed_neardup, q_label_audit, the grid-neighbor subplan) each
  * route between a member-level plan and a duplicate-collapse plan on
  * the same scalar facts about the `embeddings` table — previously
  * each paid its own probe job per call (r11 VERDICT item 6). One
  * shared job now computes every gating fact in a single scan:
  *
  *  - `n` vs `ndContent` (count-distinct of a 64-bit content hash):
  *    content-duplicate factor. Collisions only UNDERCOUNT distincts,
  *    so they can only route a duplicate-free corpus to the
  *    correct-but-slower collapse plan, never hide a real duplicate.
  *  - `minLabel`/`maxLabel`: the label-domain check q_label_audit's
  *    collapse packing requires (mid = vec_id·16 + label needs labels
  *    in [0, 16)). None = null labels present (fails the same check).
  *  - `n` vs `ndXy` (count-distinct of the (x, y) location hash): the
  *    co-location factor gating the grid family's location collapse.
  *
  * Cache key = (dataset dir, `Tables.pathStamp` of `embeddings.parquet`),
  * the stamp that also guards the Tables memo and the Landing key: it
  * lists a directory table's part files, so a spec that rewrites a
  * fixture in-session, even one part file in place, is invalidated
  * automatically. Metadata calls only, not a Spark job. */
object Probes {

  final case class EmbedProbe(n: Long, ndContent: Long,
      minLabel: Option[Long], maxLabel: Option[Long], ndXy: Long) {
    def contentDupFree: Boolean = n == ndContent
    def xyDupFree: Boolean = n == ndXy
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), EmbedProbe]()

  def embeddings(spark: SparkSession, d: String): EmbedProbe =
    cache.computeIfAbsent((d, Tables.pathStamp(s"$d/embeddings.parquet")), _ => {
      val e = expr("CAST(embedding AS ARRAY<DOUBLE>)")
      val r = Tables.embeddings(spark, d)
        .select(e.as("e"), col("label").cast("long").as("label"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(xxhash64(col("e"))).as("nd_content"),
          min("label").as("min_l"), max("label").as("max_l"),
          countDistinct(xxhash64(
            element_at(col("e"), 1), element_at(col("e"), 2))).as("nd_xy"))
        .head()
      EmbedProbe(r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4))
    })

  /** Test hook: drop every cached probe (fixture hygiene). */
  def invalidateAll(): Unit = cache.clear()
}
