package graft

import org.apache.spark.sql.functions._

import graft.ops.Classifier

/** Batch-perceptron family (ops/Classifier.scala): the distributed
  * trainer must equal an independent driver-side re-derivation of the
  * algorithm in exact integer arithmetic, on both the real fixture
  * and a hand-built separable corpus (which exercises the all-correct
  * zero-update path the real fixture never hits). */
class ClassifierSpec extends SparkSpec {

  /** Driver-side reference: the same 3-epoch batch perceptron in
    * plain Scala over exact micro-unit Longs — independent of every
    * Spark expression the operator uses (no zip_with/aggregate/
    * posexplode; plain loops). */
  private def reference(rows: Seq[(Long, Int, Array[Long])])
      : (Array[Long], Long, Seq[(Long, Int, Long)]) = {
    val dims = rows.head._3.length
    val w = Array.fill(dims)(0L)
    var b6 = 0L
    def margin(y: Int, e6: Array[Long]): Long = {
      var dot = 0L
      var i = 0
      while (i < dims) { dot += w(i) * e6(i); i += 1 }
      y.toLong * (dot + b6 * 1000000L)
    }
    for (_ <- 1 to 3) {
      val ms = rows.map { case (_, y, e6) => margin(y, e6) }
      val upd = Array.fill(dims)(0L)
      var db = 0L
      rows.zip(ms).foreach { case ((_, y, e6), m) =>
        if (m <= 0) {
          var i = 0
          while (i < dims) { upd(i) += y.toLong * e6(i); i += 1 }
          db += y
        }
      }
      var i = 0
      while (i < dims) { w(i) += upd(i); i += 1 }
      b6 += db * 1000000L
    }
    val finalMargins = rows.map { case (id, y, e6) => (id, y, margin(y, e6)) }
    (w, b6, finalMargins)
  }

  /** Fixture rows in the operator's exact micro-unit encoding: float →
    * double → HALF_UP decimal(18,6) → ×10⁶ Long (ties are impossible
    * at scale 6, so HALF_UP here equals whatever DuckDB does). */
  private def microRows(dir: String): Seq[(Long, Int, Array[Long])] =
    Tables.embeddings(spark, dir)
      .select("vec_id", "label", "embedding").collect().toSeq
      .map { r =>
        val e6 = r.getSeq[Float](2).map { f =>
          new java.math.BigDecimal(f.toDouble)
            .setScale(6, java.math.RoundingMode.HALF_UP)
            .movePointRight(6).longValueExact()
        }.toArray
        (r.getLong(0), if (r.getInt(1) % 2 == 0) 1 else -1, e6)
      }

  test("qPerceptronTrain equals the driver-side exact-integer reference on the real fixture") {
    val rows = microRows(sfDir)
    val (wRef, b6Ref, _) = reference(rows)
    val got = Classifier.qPerceptronTrain(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == wRef.length + 1)
    assert(got(-1L) == b6Ref, s"bias: got ${got(-1L)}, want $b6Ref")
    wRef.zipWithIndex.foreach { case (v, i) =>
      assert(got(i.toLong) == v, s"w[$i]: got ${got(i.toLong)}, want $v")
    }
    // the trained vector is non-trivial on this fixture (epoch 1
    // updates on every row, so all-zero weights would mean the
    // update pass silently dropped rows)
    assert(wRef.exists(_ != 0L))
  }

  test("qPerceptronEval confusion equals the reference margins and covers the corpus") {
    val rows = microRows(sfDir)
    val (_, _, ms) = reference(rows)
    // predicted class = sign of the activation m·y (m = y·act, y² = 1)
    val want = ms.groupBy { case (_, y, m) => (y.toLong, if (m * y > 0) 1L else -1L) }
      .map { case (k, v) => k -> v.size.toLong }
    val got = Classifier.qPerceptronEval(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.values.sum == rows.size.toLong)
  }

  test("qPerceptronScore is the reference's top-20 activations with the (score DESC, vec_id) tiebreak") {
    val rows = microRows(sfDir)
    val (_, _, ms) = reference(rows)
    // score12 = margin·y = the raw activation w·x + b (y² = 1)
    val want = ms.map { case (id, y, m) => (id, y.toLong, m * y) }
      .sortBy { case (id, _, s) => (-s, id) }.take(20)
    val got = Classifier.qPerceptronScore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("streaming perceptronGate equals the batch filter bit-exactly, statelessly, under adversarial chopping") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // A corpus with REAL signal (the sf fixture's parity labels are
    // random w.r.t. content, so its trained filter correctly
    // collapses to the reject class — chance fit is the right answer
    // there, and qPerceptronEval reports it): y encoded in dim 0 with
    // per-row noise in dims 1-2, so training splits and the gate
    // accepts a strict, non-empty subset.
    val dir = tempDir("graft_qgate_")
    val fixture = (0 until 64).map { i =>
      val y = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(y * (0.5f + 0.01f * (i % 7)),
        0.125f * (i % 5) - 0.25f, 0.0625f * (i % 3)), i % 2)
    }
    fixture.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (_, _, ms) = reference(microRows(dir))
    // accepted set: activation m·y > 0, with its exact 10⁻¹²-unit value
    val want = ms.collect { case (id, y, m) if m * y > 0 => id -> m * y }.toMap
    assert(want.nonEmpty && want.size < ms.size) // the gate genuinely splits
    val raw = fixture.map { case (id, e, _) => (id, e) }
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val gate = graft.streaming.Streams.perceptronGate(spark, dir,
      input.toDF().toDF("vec_id", "embedding"))
    val got = scala.collection.mutable.Map[Long, Long]()
    val q = gate.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => got += r.getLong(0) -> r.getLong(1))
        ()
      }.start()
    try {
      // adversarial chopping: 1-row, tiny, and bulk batches
      input.addData(raw.take(1)); q.processAllAvailable()
      input.addData(raw.slice(1, 7)); q.processAllAvailable()
      input.addData(raw.drop(7)); q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty) // stateless plan
    } finally q.stop()
    assert(got.toMap == want)
  }

  test("the perceptron landing runs one job per epoch plus a constant") {
    import spark.implicits._
    val dir = tempDir("graft_perc_jobs_")
    (0 until 16).map(i => (i.toLong, Array(0.5f - 0.0625f * i, 0.125f * (i % 3)), i % 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val jobs = SparkSpec.jobsOf(Classifier.weightsTable(spark, dir))
    assert(jobs <= Classifier.epochs + 2, s"landing ran $jobs jobs")
    val (wRef, b6Ref, _) = reference(microRows(dir))
    val got = Classifier.qPerceptronTrain(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == (-1L -> b6Ref) +: wRef.indices.map(i => i.toLong -> wRef(i)))
  }

  test("an empty corpus lands an empty weights table and scores nothing") {
    import spark.implicits._
    val dir = tempDir("graft_perc_empty_")
    Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val w = Classifier.weightsTable(spark, dir)
    assert(w.columns.toSeq == Seq("dim", "w6"))
    assert(w.count() == 0L)
    assert(Classifier.qPerceptronEval(spark, dir).count() == 0L)
    assert(Classifier.qPerceptronScore(spark, dir).count() == 0L)
  }

  test("a separable corpus converges after epoch 1: later epochs apply the zero update") {
    import spark.implicits._
    val dir = tempDir("graft_perc_")
    // y = +1 rows live at +1.0 on dim 0, y = −1 rows at −1.0 (labels
    // 0/1 give the parity target); epoch 1 sets w[0] = Σ y·x₀ > 0 and
    // b = 0 (balanced classes), which classifies everything with
    // margin > 0 — epochs 2 and 3 must then change NOTHING.
    val rows = (0 until 8).map { i =>
      val y = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(y, 0.25f * (i % 4)), i % 2)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ref = reference(microRows(dir))
    val got = Classifier.qPerceptronTrain(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == ref._1(0) && got(0L) == 8L * 1000000L)
    assert(got(-1L) == 0L)
    val eval = Classifier.qPerceptronEval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(eval == Map((1L, 1L) -> 4L, (-1L, -1L) -> 4L), s"confusion: $eval")
  }
}
