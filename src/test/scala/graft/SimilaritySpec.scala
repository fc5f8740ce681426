package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Vector-search specs incl. the native vec_dot expression. */
class SimilaritySpec extends SparkSpec {

  test("vec_dot matches the interpreted aggregate/zip_with fold bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2), Seq(0.3, 0.7)),
      (Seq.empty[Double], Seq.empty[Double])).toDF("a", "b")
    val both = df.select(
      expr("vec_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)")
        .as("builtin")).collect()
    both.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0))
        == java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("vec_dot on the embeddings table agrees with the builtin fold") {
    val v = Tables.embeddings(spark, sfDir)
      .withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
    val diff = v.select(
      expr("vec_dot(e, e)").as("native"),
      expr("aggregate(zip_with(e, e, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)")
        .as("builtin"))
      .filter(col("native") =!= col("builtin"))
    assert(diff.count() == 0)
  }

  test("vec_dot rejects wrong input types at analysis time") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), "x")).toDF("a", "b")
    val e = intercept[Exception](df.select(expr("vec_dot(a, b)")).collect())
    assert(e.getMessage.toLowerCase.contains("vec_dot") ||
      e.getMessage.toLowerCase.contains("data type"))
  }

  test("cosine top-k: ranks are 1..5 per probe, similarities non-increasing") {
    val rows = Similarity.qCosineTopk(spark, sfDir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).sameElements(1 to byRank.length))
      val sims = byRank.map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("IVF search returns only vectors from the probe's own cluster") {
    val rows = Similarity.qAnnIvf(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // every probe appears with exactly one cluster id
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).distinct.length == 1)
    }
  }

  test("embedding near-dup pairs are symmetric-free (a < b) and above threshold") {
    Similarity.qEmbedNeardup(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.45)
    }
  }

  test("LSH ANN: reported cosines are exact, candidates share a signature band") {
    val out = Similarity.qAnnLsh(spark, sfDir).collect()
    assert(out.nonEmpty)
    // exactness: each emitted cosine equals the directly-computed one
    val v = Tables.embeddings(spark, sfDir)
      .withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .select(col("vec_id"), col("e"),
        expr("sqrt(vec_dot(e, e))").as("nrm"))
    val exact = v.as("a").join(v.as("b"), expr("a.vec_id < 5 AND b.vec_id <> a.vec_id"))
      .select(col("a.vec_id").as("p"), col("b.vec_id").as("v"),
        round(expr("vec_dot(a.e, b.e) / (a.nrm * b.nrm)"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r =>
      assert(exact((r.getLong(0), r.getLong(1))) == r.getDouble(2))
    }
    // bucketing: every (probe, candidate) shares at least one band
    val bands = Similarity.lshBands(Similarity.lshSig(spark, sfDir)).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet }
    out.foreach { r =>
      assert(bands(r.getLong(0)).intersect(bands(r.getLong(1))).nonEmpty)
    }
  }

  test("clustered near-dup is a subset of brute force with useful recall, no cartesian") {
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val clustered = pairs(Similarity.qEmbedNeardup(spark, sfDir).collect())
    val brute = pairs(Similarity.embedNeardupBrute(spark, sfDir).collect())
    assert(clustered.nonEmpty)
    assert(clustered.subsetOf(brute)) // precision 1: exact cosine on every emitted pair
    val recall = clustered.size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF-bucketed recall $recall vs brute ${brute.size} pairs")
    // and the declared query's physical plan must not contain a cartesian
    val plan = Similarity.qEmbedNeardup(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"))
  }

  test("embedding stats: counts conserve, dims consistent, one label's norm sum recomputed") {
    val out = Similarity.qEmbeddingStats(spark, sfDir).collect()
    val all = Tables.embeddings(spark, sfDir)
      .selectExpr("label", "CAST(embedding AS ARRAY<DOUBLE>) AS e").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    assert(out.map(_.getLong(1)).sum == all.length)
    out.foreach { r =>
      assert(r.getInt(2) == r.getInt(3), s"label ${r.getInt(0)}: ragged dims")
      assert(r.getDouble(5) <= r.getDouble(6)) // min_norm <= max_norm
    }
    // one label's decimal norm sum recomputed from first principles
    val lbl = out.head.getInt(0)
    val expected = all.filter(_._1 == lbl)
      .map { case (_, e) =>
        BigDecimal(math.sqrt(e.map(x => x * x).sum))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
    assert(BigDecimal(out.head.getString(7)) == expected,
      s"label $lbl: norm_sum ${out.head.getString(7)} vs recompute $expected")
  }

  test("knn classify: one probe's prediction recomputed brute-force, votes bounded by k") {
    val out = Similarity.qKnnClassify(spark, sfDir).collect()
    assert(out.length == 10) // one row per probe
    out.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 5,
        s"probe ${r.getLong(0)}: votes ${r.getLong(3)} outside [1, 5]")
    }
    // exact recompute of probe 0: cosine left-fold in Scala, top-5 by
    // (cos DESC, vec_id ASC), majority label with smallest-label ties
    val all = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e", "label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val probe = all.find(_._1 == 0L).get
    val top5 = all.filter(_._1 >= 10)
      .map { case (id, e, lbl) =>
        (dot(probe._2, e) / (math.sqrt(dot(probe._2, probe._2)) * math.sqrt(dot(e, e))), id, lbl)
      }
      .sortBy { case (c, id, _) => (-c, id) }
      .take(5)
    val expected = top5.groupBy(_._3).map { case (l, v) => (l, v.length) }
      .toSeq.sortBy { case (l, v) => (-v, l) }.head
    val got = out.find(_.getLong(0) == 0L).get
    assert(got.getInt(2) == expected._1 && got.getLong(3) == expected._2.toLong,
      s"probe 0: predicted (${got.getInt(2)}, ${got.getLong(3)}), brute-force $expected")
  }

  test("embed outliers: the flagged vector is the true centroid argmin for one label") {
    val rows = Similarity.qEmbedOutliers(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val label = rows.head.getInt(0)
    // brute-force recompute: centroid as plain double means, cosines
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(col("label") === label)
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val dims = vecs.head._2.length
    val cent = (0 until dims).map(j => vecs.map(_._2(j)).sum / vecs.length).toArray
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    val worst = vecs.map { case (id, e) =>
      (id, dot(e, cent) / (math.sqrt(dot(e, e)) * math.sqrt(dot(cent, cent))))
    }.minBy { case (id, c) => (c, id) }
    assert(rows.head.getLong(2) == worst._1)
    assert(math.abs(rows.head.getDouble(3) - worst._2) < 1e-3)
    assert(rows.head.getLong(1) == vecs.length)
  }

  test("pq codes: every vector gets 4 sub-codes matching a brute-force argmin; codebook vectors code to themselves") {
    val rows = Similarity.qPqCodes(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(rows.size == vecs.size * 4)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for ((id, e) <- vecs; m <- 0 until 4) {
      val sa = e.slice(m * 16, (m + 1) * 16)
      val want = (0L until 8L).minBy(c =>
        (d2(sa, vecs(c).slice(m * 16, (m + 1) * 16)), c))
      assert(rows((id, m)) == want, s"vec $id subspace $m")
    }
    // a centroid's own slice is at distance 0 from itself
    for (c <- 0L until 8L; m <- 0 until 4) assert(rows((c, m)) == c)
  }

  test("ann recall: equals the direct overlap of the two building-block outputs") {
    val rows = Similarity.qAnnRecall(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ivf = Similarity.qAnnIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Similarity.qCosineTopk(spark, sfDir).collect()
      .filter(_.getInt(3) <= 3).map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.keySet == brute.map(_._1).toSet)
    for ((probe, picks) <- brute.groupBy(_._1)) {
      val hits = picks.count(ivf.contains)
      val (k, nHit, ppm) = rows(probe)
      assert(k == picks.length)
      assert(nHit == hits)
      assert(ppm == nHit * 1000000L / k)
    }
  }

  test("ndcg: integer DCG replayed from the two rankings; bounded by the constant IDCG") {
    val out = Similarity.qNdcgEval(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ivf = Similarity.qAnnIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(4)))
    val rel = Similarity.qCosineTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (6L - r.getInt(3))).toMap
    val w = Map(1 -> 1000000L, 2 -> 630929L, 3 -> 500000L)
    val idcg = 5L * 1000000L + 4L * 630929L + 3L * 500000L
    assert(idcg == 9023716L)
    assert(out.keySet == ivf.map(_._1).toSet)
    for ((probe, picks) <- ivf.groupBy(_._1)) {
      val dcg = picks.map { case (p, v, rn) => rel.getOrElse((p, v), 0L) * w(rn) }.sum
      val graded = picks.count { case (p, v, _) => rel.contains((p, v)) }
      val (k, nGraded, dcgMilli, ndcgPpm) = out(probe)
      assert(k == picks.length && k == 3, s"probe $probe k=$k")
      assert(nGraded == graded && dcgMilli == dcg, s"probe $probe dcg")
      assert(ndcgPpm == dcg * 1000000L / idcg && ndcgPpm <= 1000000L, s"probe $probe ndcg")
    }
  }

  test("hard negatives: labels always differ; one probe's list replayed brute-force") {
    val rows = Similarity.qHardNegatives(spark, sfDir).collect()
    val meta = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Double](2).toArray)).toMap
    rows.foreach { r =>
      assert(meta(r.getLong(2))._1 == r.getInt(3)) // reported neg_label is real
      assert(meta(r.getLong(0))._1 != r.getInt(3)) // and differs from the probe's
    }
    def cos(a: Array[Double], b: Array[Double]) = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probe = 2L
    val (pl, pe) = meta(probe)
    val want = meta.toSeq
      .filter { case (id, (l, _)) => id != probe && l != pl }
      .map { case (id, (_, e)) => (id, cos(pe, e)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    val got = rows.filter(_.getLong(0) == probe).sortBy(_.getInt(1)).map(_.getLong(2))
    assert(got.toSeq == want)
  }

  test("random projection: one vector's 16 outputs recomputed from the md5 sign matrix") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def sign(j: Int, i: Int): Double =
      if ("02468ace".contains(md5hex(s"rp:$j:$i").charAt(0))) 1.0 else -1.0
    val rows = Similarity.qRandProject(spark, sfDir).collect()
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(rows.length == vecs.size * 16)
    val id = vecs.keys.min
    val got = rows.filter(_.getLong(0) == id)
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    for (j <- 0 until 16) {
      // same left-fold order as vec_dot
      var acc = 0.0
      val e = vecs(id)
      for (i <- e.indices) acc += e(i) * sign(j, i)
      assert(math.abs(got(j.toLong) - acc) < 5e-5, s"out_dim $j")
    }
  }

  test("mmr rerank: one probe's greedy pick sequence replayed from first principles") {
    val rows = Similarity.qMmrRerank(spark, sfDir).collect()
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probe = 0L
    val e0 = vecs(probe)
    val cand = vecs.toSeq.filter(_._1 != probe)
      .map { case (id, e) => (id, cos(e0, e)) }
      .sortBy { case (id, r) => (-r, id) }.take(8)
    var picked = Vector.empty[Long]
    for (_ <- 1 to 4) {
      val pick = cand.filterNot(c => picked.contains(c._1))
        .map { case (id, rel) =>
          val mx = picked.map(p => cos(vecs(id), vecs(p)))
            .foldLeft(0.0)(math.max)
          (id, 0.5 * rel - 0.5 * mx)
        }
        .minBy { case (id, s) => (-s, id) }
      picked :+= pick._1
    }
    val got = rows.filter(_.getLong(0) == probe).sortBy(_.getLong(1))
      .map(_.getLong(2)).toVector
    assert(got == picked)
    // every probe yields exactly 4 distinct picks drawn from its candidates
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to 4L))
      assert(rs.map(_.getLong(2)).distinct.length == 4)
    }
  }

  test("scalar quantization: codes bounded, one dim recomputed, reconstruction error within one step") {
    val rows = Similarity.qScalarQuant(spark, sfDir).collect()
    assert(rows.length == 64)
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .collect().map(_.getSeq[Double](0).toArray)
    val dim = 7
    val xs = vecs.map(_(dim))
    val (mn, mx) = (xs.min, xs.max)
    val codes = xs.map(x =>
      if (mx == mn) 0 else math.floor((x - mn) * 255.0 / (mx - mn)).toInt)
    assert(codes.forall(c => c >= 0 && c <= 255))
    val r = rows.find(_.getInt(0) == dim).get
    assert(r.getLong(1) == xs.length)
    assert(r.getLong(4) == codes.map(_.toLong).sum)
    assert(r.getLong(5) == codes.count(_ == 0))
    assert(r.getLong(6) == codes.count(_ == 255))
    // dequantized midpoint reconstruction is within one grid step
    val step = (mx - mn) / 255.0
    xs.zip(codes).foreach { case (x, c) =>
      assert(math.abs((mn + c * step) - x) <= step + 1e-12)
    }
  }

  test("kmeans training: conservation each round, codebook ids stable, deterministic") {
    val rows = graft.ops.Similarity.qKmeansTrain(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    val nVec = Tables.embeddings(spark, sfDir).count()
    val dims = rows.map(_._2).distinct.sorted
    assert(dims.head == 0 && dims.length == 64)
    // every dim row of a cluster reports the same member count, and
    // counts over clusters sum to the corpus (every vector assigned)
    val byCluster = rows.groupBy(_._1)
    byCluster.values.foreach(g => assert(g.map(_._3).distinct.length == 1))
    assert(byCluster.map(_._2.head._3).sum == nVec)
    // cluster ids come from the seed codebook
    assert(byCluster.keySet.subsetOf((0L to 7L).toSet) && byCluster.nonEmpty)
    // training actually moved the codebook: the trained assignment
    // differs from the seed assignment for at least one cluster size
    val seed = graft.ops.Similarity.qKmeansStep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).map(_._2.head._2)
    assert(byCluster.map(_._2.head._3).toSeq.sorted != seed.toSeq.sorted ||
      rows.map(_._4).toSet != graft.ops.Similarity.qKmeansStep(spark, sfDir)
        .collect().map(_.getString(3)).toSet)
    // deterministic rerun
    val again = graft.ops.Similarity.qKmeansTrain(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(rows.sameElements(again))
  }

  test("label audit: confusion mass covers every candidate-bearing vector; one probe replays") {
    import org.apache.spark.sql.functions._
    val conf = graft.ops.Similarity.qLabelAudit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    spark.catalog.clearCache()
    assert(conf.nonEmpty && conf.forall { case (t, p, _) =>
      t >= 0 && t <= 9 && p >= 0 && p <= 9 })
    // every vector with at least one same-bucket candidate is classified
    val asg = graft.ops.Similarity.ivfAssignedK(spark, sfDir, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    val byCluster = asg.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val withCand = asg.map(_._1).distinct.filter { v =>
      asg.filter(_._1 == v).exists(a => (byCluster(a._2) - v).nonEmpty) }
    assert(conf.map(_._3).sum == withCand.length)
    // deterministic rerun (hash aggregates + bounded top-k, no RNG)
    val again = graft.ops.Similarity.qLabelAudit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    spark.catalog.clearCache()
    assert(conf.sameElements(again))
  }

  test("gnn aggregate: one node's message replays from its brute-force neighborhood") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Similarity.qGnnAggregate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    spark.catalog.clearCache()
    assert(rows.nonEmpty)
    // every present node carries exactly the full dimension grid
    val dims = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val d0 = dims.values.head
    assert(dims.values.forall(_ == d0) && d0 == (0L until d0.length).toSeq)
    // brute-force neighborhood of the highest-degree node
    val pts = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val xy = pts.map { case (id, e) => (id, e(0).toDouble, e(1).toDouble) }
    def nbrs(v: Long) = xy.filter { case (u, x, y) =>
      val me = xy.find(_._1 == v).get
      u != v && (x - me._2) * (x - me._2) + (y - me._3) * (y - me._3) < 0.0016 }
    val focus = rows.maxBy(_._3)._1
    val nb = nbrs(focus)
    rows.filter(_._1 == focus).foreach { case (_, dim, n, s) =>
      assert(n == nb.length)
      val expect = nb.map { case (u, _, _) =>
        BigDecimal(pts.find(_._1 == u).get._2(dim.toInt).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) }.sum
      assert(BigDecimal(s) == expect, s"node $focus dim $dim")
    }
  }

  test("grid neighbors: cell join finds EXACTLY the brute-force pair set, without a cartesian") {
    import org.apache.spark.sql.functions._
    val grid = graft.ops.Similarity.qGridNeighbors(spark, sfDir)
    val plan = grid.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"grid join degenerated to all-pairs:\n$plan")
    val got = grid.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth (test-only O(n²))
    val pts = Tables.embeddings(spark, sfDir).select(col("vec_id"),
        element_at(col("embedding"), 1).cast("double"),
        element_at(col("embedding"), 2).cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expect = (for {
      (ia, xa, ya) <- pts; (ib, xb, yb) <- pts
      if ia < ib && (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) < 0.0016
    } yield (ia, ib)).toSet
    assert(got == expect && expect.nonEmpty)
    spark.catalog.clearCache()
  }

  test("semdedup sweep: bands partition the embed pair stream, cumulative is a suffix sum") {
    val pairs = graft.ops.Similarity.qEmbedNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sweep = graft.ops.Similarity.qSemdedupSweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sweep.map(_._2).sum == pairs.length && pairs.nonEmpty)
    val ref = pairs.groupBy(p => math.floor(p._3 * 20).toLong)
    sweep.foreach { case (band, n, atLeast, nVecs) =>
      assert(band >= 9 && band <= 20)
      assert(n == ref(band).length)
      assert(atLeast == pairs.count(p => math.floor(p._3 * 20).toLong >= band))
      assert(nVecs == ref(band).flatMap(p => Seq(p._1, p._2)).distinct.length)
    }
  }

  test("ivf probe sweep: recall monotone in nprobe, np=1 row matches q_ann_recall's total") {
    val rows = graft.ops.Similarity.qIvfProbeSweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    rows.foreach { case (_, hits, ppm) =>
      assert(hits >= 0 && hits <= 15 && ppm == hits * 1000000L / 15)
    }
    // nested candidate sets → non-decreasing recall
    assert(rows.map(_._2).toSeq.sliding(2).forall {
      case Seq(a, b) => b >= a
      case _ => true
    })
    // np=1 is exactly the single-probe index q_ann_recall monitors
    val annTotal = graft.ops.Similarity.qAnnRecall(spark, sfDir).collect()
      .map(_.getLong(2)).sum // per-probe n_hit
    assert(rows.head._2 == annTotal)
  }

  test("ivf balance: cell sizes partition the corpus; load factor is the k-scaled share") {
    val total = Tables.embeddings(spark, sfDir).count()
    val got = Similarity.qIvfBalance(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val k = got.length.toLong
    assert(got.map(_._2).sum == total)
    got.foreach { case (_, n, share, load) =>
      assert(share == n * 1000000L / total)
      assert(load == n * k * 1000000L / total)
    }
    assert(got.map(_._1).forall(c => c >= 0 && c < 8)) // centroid universe
    spark.catalog.clearCache()
  }

  test("ivf margin: margins non-negative; clusters match the declared assignment; edge vec attains min") {
    val got = Similarity.qIvfMargin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(got.nonEmpty)
    val balance = Similarity.qIvfBalance(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.catalog.clearCache()
    assert(got.map(g => (g._1, g._2)).toMap == balance) // same partition of the corpus
    got.foreach { case (_, n, avg, mn, _) =>
      assert(n > 0 && mn >= 0.0 && avg >= mn)
      assert(avg <= 2.0 && mn <= 2.0) // cosine gap bounded
    }
  }

  test("label separability: full pair grid, one pair's centroid cosine replayed from raw vectors") {
    val got = Similarity.qLabelSeparability(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(got.nonEmpty)
    val vecs = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getInt(2).toLong, r.getSeq[Float](1).map(_.toDouble).toArray))
    spark.catalog.clearCache()
    val labels = vecs.map(_._1).distinct.sorted
    // complete upper-triangle grid with the true per-label counts
    assert(got.length == labels.length * (labels.length - 1) / 2)
    val counts = vecs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    got.foreach { case ((a, b), (na, nb, cos)) =>
      assert(a < b && na == counts(a) && nb == counts(b))
      assert(cos >= -1.0001 && cos <= 1.0001)
    }
    // one pair replayed: centroid = per-dim mean, cosine of the means
    val (la, lb) = (labels(0), labels(1))
    def centroid(l: Long): Array[Double] = {
      val vs = vecs.filter(_._1 == l).map(_._2)
      Array.tabulate(vs.head.length)(i => vs.map(_(i)).sum / vs.length)
    }
    val (ca, cb) = (centroid(la), centroid(lb))
    def dotp(x: Array[Double], y: Array[Double]) = x.zip(y).map(p => p._1 * p._2).sum
    val ref = dotp(ca, cb) / (math.sqrt(dotp(ca, ca)) * math.sqrt(dotp(cb, cb)))
    val gotCos = got.toMap.apply((la, lb))._3
    assert(math.abs(gotCos - ref) < 1e-3, s"centroid cosine $gotCos vs replay $ref")
  }

  /** Adversarial fixture for the duplicate-collapse reworks: the driver
    * data's duplicates (probe copies) always share one label per
    * content group, so the collapse's hard cases — MIXED labels inside
    * a duplicate group, a group larger than the stored prefix-6, exact
    * cosine ties ACROSS groups (a scalar-multiple content scores
    * bit-identically to a self-pair under IEEE: ×2 is exact through
    * the fold, the product, and the square root), and duplicate
    * CENTROID contents (assignment tie-break) — are never exercised
    * there. This fixture forces all four and pins the collapsed plan
    * to a naive member-level reference evaluated with the same
    * left-fold arithmetic. */
  private def labelAuditFixture(): (String, Seq[(Long, Array[Float], Int)]) = {
    val dims = 16
    def vec(x: Float, y: Float, tail: Float): Array[Float] =
      Array.tabulate(dims)(i => if (i == 0) x else if (i == 1) y else tail + 0.01f * i)
    val a = vec(0.10f, 0.10f, 0.30f)
    val b = a.map(_ * 2.0f) // cos(b, a·anything) ties cos(a, ·) exactly
    val c = vec(0.13f, 0.10f, 0.25f)
    val dSameCell = vec(0.10f, 0.10f, 0.80f) // a's (x,y), different content
    val s1 = vec(0.10f, 0.13f, 0.55f)
    val s2 = vec(0.40f, 0.40f, 0.10f)
    // group A: 9 duplicates (prefix 6 + tail 3), labels mixed, tail
    // introduces labels the prefix lacks
    val rows = Seq[(Long, Array[Float], Int)](
      (0L, a, 1), (3L, a, 2), (5L, a, 1), (9L, a, 3), (12L, a, 1), (15L, a, 2),
      (20L, a, 4), (21L, a, 4), (22L, a, 5),
      // group B: scalar multiple of A, 3 members, mixed labels
      (1L, b, 7), (10L, b, 7), (30L, b, 2),
      // group C: 4 members (two inside the centroid range: duplicate
      // centroid contents across A/B/C force assignment ties)
      (2L, c, 0), (4L, c, 9), (40L, c, 9), (41L, c, 9),
      // group D: same grid cell as A, different content
      (6L, dSameCell, 8), (42L, dSameCell, 8),
      // singletons
      (7L, s1, 6), (43L, s2, 0))
    val dir = s"/tmp/graft_fixture_label_audit"
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    (dir, rows)
  }

  private def foldDot(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * y(i); i += 1 }
    s
  }

  test("label audit: collapsed plan ≡ naive member-level reference on mixed-label duplicate groups with exact ties") {
    val (dir, rows) = labelAuditFixture()
    case class V(id: Long, e: Array[Double], nrm: Double, label: Long)
    val vs = rows.map { case (id, e, l) =>
      val d = e.map(_.toDouble)
      V(id, d, math.sqrt(foldDot(d, d)), l.toLong)
    }
    val cents = vs.filter(_.id < 8)
    def clusters(v: V): Seq[Long] = cents
      .map(ct => (foldDot(ct.e, v.e) / (ct.nrm * v.nrm), ct.id))
      .sortBy { case (cos, id) => (-cos, id) }.take(2).map(_._2)
    val asg = vs.map(v => v.id -> clusters(v).toSet).toMap
    val naive = vs.flatMap { p =>
      val cand = vs.filter(q => q.id != p.id && asg(q.id).intersect(asg(p.id)).nonEmpty)
      if (cand.isEmpty) None
      else {
        val top5 = cand
          .map(q => (foldDot(p.e, q.e) / (p.nrm * q.nrm), q.id, q.label))
          .sortBy { case (cs, id, _) => (-cs, id) }.take(5)
        val pred = top5.groupBy(_._3).view.mapValues(_.size).toSeq
          .sortBy { case (l, n) => (-n, l) }.head._1
        Some((p.label, pred))
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((t, p), n) => (t, p, n) }.sortBy(r => (r._1, r._2))
    assert(naive.nonEmpty && naive.map(_._3).sum == vs.length,
      "fixture must classify every vector (all share clusters)")
    val got = Similarity.qLabelAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    spark.catalog.clearCache()
    assert(got == naive, s"collapsed ${got.toList} vs naive ${naive.toList}")
  }

  test("gnn aggregate: collapsed plan ≡ naive member-level reference incl. same-cell distinct content and dup-only neighborhoods") {
    val (dir, rows) = labelAuditFixture()
    val r2 = 0.04 * 0.04
    val pts = rows.map { case (id, e, _) => (id, e.map(_.toDouble)) }
    def close(p: Array[Double], q: Array[Double]): Boolean =
      (p(0) - q(0)) * (p(0) - q(0)) + (p(1) - q(1)) * (p(1) - q(1)) < r2
    val naive = (for {
      (di, de) <- pts
      (si, se) <- pts
      if si != di && close(de, se)
      dim <- de.indices
    } yield ((di, dim.toLong), BigDecimal(se(dim)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).view
      .mapValues(xs => (xs.size.toLong, xs.map(_._2).sum)).toSeq
      .map { case ((id, dim), (n, s)) => (id, dim, n, s.toString) }
      .sortBy(r => (r._1, r._2))
    // the fixture has a group whose ONLY neighbors are its own
    // duplicates (D shares A's cell but s2 is isolated): both paths hit
    assert(naive.map(_._1).distinct.size < pts.size, "fixture needs an isolated vector")
    val got = Similarity.qGnnAggregate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    spark.catalog.clearCache()
    assert(got == naive, s"collapsed ${got.take(5).toList}… vs naive ${naive.take(5).toList}…")
  }

  test("grid neighbor stats + degree histogram: output-bounded companions replay the brute-force degrees") {
    import org.apache.spark.sql.functions._
    val pts = Tables.embeddings(spark, sfDir).select(col("vec_id"),
        element_at(col("embedding"), 1).cast("double"),
        element_at(col("embedding"), 2).cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val deg = pts.map { case (ia, xa, ya) =>
      (ia, math.floor(xa / 0.05).toLong, math.floor(ya / 0.05).toLong,
        pts.count { case (ib, xb, yb) =>
          ia != ib && (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) < 0.0016
        }.toLong)
    }
    val stats = graft.ops.Similarity.qGridNeighborStats(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    spark.catalog.clearCache()
    val expStats = deg.groupBy(p => (p._2, p._3)).view.mapValues { m =>
      (m.length.toLong, m.map(_._4).sum, m.map(_._4).max,
        m.count(_._4 == 0).toLong)
    }.toMap
    assert(stats.toMap == expStats && stats.map(_._2._1).sum == pts.length)
    // no pair row survives to the output: row count ∝ cells, not pairs
    assert(stats.length == expStats.size)
    val hist = graft.ops.Similarity.qDegreeHistogram(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    val expHist = deg.groupBy(_._4).view.mapValues(_.length.toLong).toSeq.sorted
    assert(hist.toSeq == expHist && hist.map(_._2).sum == pts.length)
    // histogram mass at each degree ties back to the pair set size:
    // sum(degree * n_vecs) = 2 × |qGridNeighbors|
    val nPairs = graft.ops.Similarity.qGridNeighbors(spark, sfDir).count()
    spark.catalog.clearCache()
    assert(hist.map { case (d0, n) => d0 * n }.sum == 2 * nPairs)
  }

  private def labelAuditInput(d: String) = {
    Tables.embeddings(spark, d)
      .withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", expr("sqrt(vec_dot(e, e))"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("e"), col("nrm")).persist()
  }

  test("label audit gate: member-level ≡ collapse on the duplicate-free corpus; gate picks member-level") {
    import org.apache.spark.sql.Row
    val v = labelAuditInput(sfDir)
    // the driver corpus is duplicate-free, so qLabelAudit routes to the
    // member-level plan — this is exactly the precondition the gate
    // probes for; if the fixture ever grows duplicates this assert
    // flips and the equivalence below still holds
    val Row(n: Long, nd: Long) =
      v.agg(count(lit(1)), countDistinct(xxhash64(col("e")))).head()
    assert(n == nd, "driver embeddings fixture expected duplicate-free")
    val shallow = Similarity.labelAuditMemberLevel(spark, sfDir, v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val collapsed = Similarity.labelAuditCollapsed(spark, sfDir, v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    spark.catalog.clearCache()
    assert(shallow == collapsed,
      s"plans diverge: member-level ${shallow.take(5)} vs collapsed ${collapsed.take(5)}")
  }

  test("embed neardup gate: member-level ≡ collapse on the duplicate-free corpus") {
    import org.apache.spark.sql.Row
    val v = Tables.embeddings(spark, sfDir)
      .withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", expr("sqrt(vec_dot(e, e))"))
      .select(col("vec_id"), col("e"), col("nrm")).persist()
    val Row(n: Long, nd: Long) =
      v.agg(count(lit(1)), countDistinct(xxhash64(col("e")))).head()
    assert(n == nd, "driver embeddings fixture expected duplicate-free")
    val shallow = Similarity.embedNeardupMemberLevel(spark, sfDir, v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val collapsed = Similarity.embedNeardupCollapsed(spark, sfDir, v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    spark.catalog.clearCache()
    assert(shallow.nonEmpty && shallow == collapsed,
      s"plans diverge: member-level ${shallow.take(5)} vs collapsed ${collapsed.take(5)}")
  }

  test("embed neardup: collapsed plan ≡ member-level plan on mixed-label duplicate groups with exact scalar-multiple ties") {
    // ADVICE r10: the collapse's duplicate-specific branches (self-pair
    // emission for g ≥ 2 groups, cross-group member-grid expansion, the
    // ga != gb || ma < mb halving) were dead code on the duplicate-free
    // driver corpus — this fixture (duplicate groups incl. an exact
    // scalar multiple, so cross-group cos ties the self-pair's 1.0
    // bit-exactly, plus duplicated CENTROID contents forcing assignment
    // tie-breaks) forces all of them. The member-level plan is the
    // reference: both share the (content-determined) IVF candidate
    // structure, so the collapse must reproduce it pair-for-pair —
    // and every surviving pair must also appear in brute-force ground
    // truth with the identical rounded cosine (precision 1).
    val (dir, rows) = labelAuditFixture()
    val v = Tables.embeddings(spark, dir)
      .withColumn("e", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .withColumn("nrm", expr("sqrt(vec_dot(e, e))"))
      .select(col("vec_id"), col("e"), col("nrm")).persist()
    val gated = Similarity.qEmbedNeardup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    spark.catalog.clearCache()
    val member = Similarity.embedNeardupMemberLevel(spark, dir, v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val brute = Similarity.embedNeardupBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    // duplicates exist, so the gate must route to the collapse plan and
    // self-pairs must appear: every (a, a-dup) member pair scores 1.0
    assert(rows.size > rows.map(_._2.toSeq).distinct.size, "fixture must contain duplicates")
    assert(gated.count(_._3 == 1.0) >= 36 + 3 + 6, // C(9,2) of A + C(3,2) of B + C(4,2) of C
      s"expected within-group duplicate pairs at cos 1.0, got ${gated.count(_._3 == 1.0)}")
    assert(gated == member,
      s"collapsed ${gated.take(5)}… vs member-level ${member.take(5)}…")
    assert(gated.forall(brute.contains), "a reported pair is missing from brute-force ground truth")
  }

  test("grid neighbor stats + degree histogram: collapse path replays brute-force degrees on a co-located duplicated fixture") {
    val (dir, rows) = labelAuditFixture()
    val pts = rows.map { case (id, e, _) => (id, e(0).toDouble, e(1).toDouble) }
    // fixture must exercise the collapse: co-located points (group A's 9
    // duplicates + D's 2 share (0.10, 0.10) exactly)
    assert(pts.map(p => (p._2, p._3)).distinct.size < pts.size)
    val deg = pts.map { case (ia, xa, ya) =>
      (ia, math.floor(xa / 0.05).toLong, math.floor(ya / 0.05).toLong,
        pts.count { case (ib, xb, yb) =>
          ia != ib && (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) < 0.0016
        }.toLong)
    }
    val stats = graft.ops.Similarity.qGridNeighborStats(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    spark.catalog.clearCache()
    val expStats = deg.groupBy(p => (p._2, p._3)).view.mapValues { m =>
      (m.length.toLong, m.map(_._4).sum, m.map(_._4).max,
        m.count(_._4 == 0).toLong)
    }.toMap
    assert(stats.toMap == expStats && stats.map(_._2._1).sum == pts.length)
    val hist = graft.ops.Similarity.qDegreeHistogram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    val expHist = deg.groupBy(_._4).view.mapValues(_.length.toLong).toSeq.sorted
    assert(hist.toSeq == expHist && hist.map(_._2).sum == pts.length)
  }

  test("label audit gate: out-of-range labels fail loudly on the collapse path") {
    import spark.implicits._
    val dir = "/tmp/graft_fixture_label_range"
    // duplicated content (forces the collapse path) with a label ≥ 16
    val e = Array.tabulate(16)(i => 0.1f + 0.01f * i)
    Seq((0L, e, 1), (1L, e, 16), (2L, e.map(_ * 2f), 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      Similarity.qLabelAudit(spark, dir).collect()
    }
    spark.catalog.clearCache()
    assert(ex.getMessage.contains("[0, 16)"))
  }
}
