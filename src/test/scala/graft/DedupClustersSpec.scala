package graft

import org.apache.spark.sql.functions._

import graft.ops.DedupClusters

/** Connected-components dedup clustering. */
class DedupClustersSpec extends SparkSpec {

  private def cc(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    DedupClusters.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
  }

  test("transitive pairs collapse into one component with min-id canonical") {
    // {1-2, 2-3} ∪ {10-11} → components {1,2,3} and {10,11}
    val labels = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a 40-node path converges (pointer jumping beats the diameter)") {
    // worst case for plain propagation: one long chain
    val chain = (0L until 39L).map(i => (i, i + 1))
    val labels = cc(chain)
    assert(labels.size == 40 && labels.values.forall(_ == 0L))
  }

  test("job count does not grow with the graph's diameter") {
    import spark.implicits._
    def jobs(pairs: Seq[(Long, Long)]) = SparkSpec.jobsOf(
      DedupClusters.connectedComponents(pairs.toDF("doc_a", "doc_b")).collect())
    val pair = jobs(Seq((1L, 2L)))
    val path = jobs((0L until 39L).map(i => (i, i + 1)))
    assert(pair <= 4 && path <= 4, s"jobs: 2-node pair $pair, 40-node path $path")
  }

  test("declared query: canonical is the component min, sizes agree, members pair-connected") {
    val rows = DedupClusters.qDedupClusters(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty) // sf0.01 plants near-dup docs
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (canonical, members) =>
      assert(members.map(_.getLong(0)).min == canonical)
      // exactly one canonical per cluster, sizes consistent on every row
      assert(members.count(_.getBoolean(3)) == 1)
      assert(members.forall(_.getLong(2) == members.length))
      assert(members.length >= 2) // singletons never enter the pair graph
    }
  }

  test("LSH pair stream clusters the planted near-dups identically to the exact ground truth") {
    // The declared query consumes MinHash-LSH pairs (the 100 TB
    // source); the exact same-lang Jaccard pairs are the ground
    // truth. Docs clustered by the exact form must also be clustered
    // by the LSH form, with the same canonical — LSH only ADDS
    // cross-lang pairs, it must not miss or split a planted cluster.
    val lsh = DedupClusters.qDedupClusters(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = DedupClusters.clustersFromExactPairs(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (doc, canonical) =>
      assert(lsh.contains(doc), s"doc $doc clustered by exact pairs but missed by LSH")
      assert(lsh(doc) <= canonical,
        s"doc $doc: LSH canonical ${lsh(doc)} vs exact canonical $canonical")
      // same-component check: the exact canonical itself must map to
      // the same LSH component as the member
      assert(lsh.get(canonical).contains(lsh(doc)),
        s"doc $doc and its exact canonical $canonical split across LSH clusters")
    }
  }

  test("keep-best selects each cluster's max-quality member (ties to smaller id)") {
    val d = "/root/testdata/sf0.01"
    val quality = graft.ops.Quality.qQualityScore(spark, d)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val members = DedupClusters.qDedupClusters(spark, d).collect()
      .map(r => (r.getLong(1), r.getLong(0))) // (canonical, doc)
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val out = DedupClusters.qDedupKeepBest(spark, d).collect()
    assert(out.length == members.size) // one row per cluster
    out.foreach { r =>
      val (canonical, size, kept, keptQ) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val ms = members(canonical)
      assert(ms.contains(kept) && ms.length.toLong == size)
      val best = ms.map(m => (quality(m), m)).maxBy { case (q, m) => (q, -m) }
      assert((keptQ, kept) == best,
        s"cluster $canonical: kept ($kept, $keptQ) vs expected $best")
    }
  }

  test("cluster stats roll up the declared clusters exactly") {
    val d = "/root/testdata/sf0.01"
    val clusters = DedupClusters.qDedupClusters(spark, d).collect()
    val expected = clusters.groupBy(_.getLong(2)) // cluster_size
      .map { case (size, rows) =>
        val nClusters = rows.map(_.getLong(1)).distinct.length.toLong
        (size, nClusters, rows.length - nClusters)
      }.toSet
    val got = DedupClusters.qClusterStats(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("soft-dedup weights: every doc weighted, clusters sum to ~1e6, singletons exact") {
    val d = "/root/testdata/sf0.01"
    val w = DedupClusters.qDedupWeight(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(w.length.toLong == Tables.documents(spark, d).count())
    val clusters = DedupClusters.qDedupClusters(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val inCluster = clusters.map(_._1).toSet
    // unclustered docs weigh exactly 1
    w.filterNot(x => inCluster(x._1)).foreach { case (_, size, ppm) =>
      assert(size == 1L && ppm == 1000000L)
    }
    // each cluster's members carry 1e6 div k each: the cluster's total
    // mass is one doc's worth up to the floor loss (< k ppm)
    clusters.groupBy(_._2).foreach { case (_, ms) =>
      val k = ms.head._3
      val mass = ms.map(m => w.find(_._1 == m._1).get._3).sum
      assert(mass == (1000000L / k) * k)
      assert(1000000L - mass < k)
    }
    // at least one real cluster got down-weighted
    assert(w.exists(_._3 < 1000000L))
  }

  test("embed clusters: components equal a driver-side union-find over the semantic pairs") {
    val pairs = graft.ops.Similarity.qEmbedNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val truth = parent.keys.map(k => k -> find(k)).toMap
    val got = graft.ops.DedupClusters.qEmbedClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    spark.catalog.clearCache()
    assert(got.map(r => r._1 -> r._2).toMap == truth && truth.nonEmpty)
    // size + canonical flags consistent
    val sizes = truth.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    got.foreach { case (v, c, sz, canon) =>
      assert(sz == sizes(c) && canon == (v == c)) }
  }

  test("dedup recall audit: counts replay from the two pair frames; exact truth fully recovered") {
    val lsh = graft.ops.Quality.qMinhashNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val exact = graft.ops.Quality.qNgramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet // (lang, doc_a, doc_b, j)
    spark.catalog.clearCache()
    val lang = Tables.documents(spark, sfDir)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val r = graft.ops.DedupClusters.qDedupRecall(spark, sfDir).head()
    spark.catalog.clearCache()
    val sameBlock = lsh.filter { case (a, b) => lang(a) == lang(b) }
    assert(r.getLong(0) == exact.size)
    assert(r.getLong(1) == (exact & lsh).size)
    assert(r.getLong(2) == (sameBlock -- exact).size)
    assert(r.getLong(3) == (lsh -- sameBlock).size)
    assert(r.getLong(4) == (exact & lsh).size.toLong * 1000000L / exact.size)
    // LSH banding recovered every in-block truth pair on this corpus
    assert((exact -- lsh).isEmpty && exact.nonEmpty)
  }

  test("SQL front door: dedup_clusters_v1 view ≡ the operator, registered by createViews once landed") {
    val op = graft.ops.DedupClusters.qDedupClusters(spark, sfDir).collect()
      .map(_.toString).sorted
    // first touch lands the artifact and registers the view
    val viaView = graft.ops.DedupClusters.qClusterView(spark, sfDir).collect()
      .map(_.toString).sorted
    assert(viaView.sameElements(op), "view diverged from the operator")
    assert(op.nonEmpty)
    // a fresh catalog (view dropped) gets it back from createViews for
    // free — the artifact is landed, so registration is metadata-only
    spark.catalog.dropTempView("dedup_clusters_v1")
    Tables.createViews(spark, sfDir)
    val reRegistered = spark.sql(
      "SELECT doc_id, canonical_id, cluster_size, is_canonical " +
        "FROM dedup_clusters_v1 ORDER BY doc_id").collect().map(_.toString).sorted
    assert(reRegistered.sameElements(op))
  }
}
