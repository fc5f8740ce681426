package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Trained quality classifier over the `embeddings` table — the
  * missing "learned filter" stage of an LLM training-data pipeline
  * (the role fastText-style classifiers play in CCNet/GPT-3-era
  * curation: score every document, keep the high-quality tail).
  *
  * The trainer is the BATCH PERCEPTRON (Rosenblatt's rule applied to
  * the whole misclassified set per epoch — the subgradient step on
  * the perceptron loss): w ← w + Σ_{margin≤0} y·x, b ← b + Σ y.
  * It was chosen over logistic regression deliberately: the update
  * rule is ADDITIVE with no transcendentals, so the entire training
  * loop runs in EXACT integer arithmetic and is bit-identical across
  * engines — the same cross-engine discipline as Similarity's
  * decimal-staged k-means (Similarity.qKmeansTrain), taken one step
  * further: no doubles exist anywhere in the computation.
  *
  * Numeric contract ("micro-units"): each embedding component is cast
  * float → double → DECIMAL(18,6) (the proven q_kmeans_step cast; no
  * double is an exact tie at scale 6 — a tie would need a 5·10⁻⁷
  * binary fraction, which does not exist — so the two engines'
  * rounding modes cannot diverge) and scaled ×10⁶ into a BIGINT.
  * Weights are micro-unit sums of components (exact), margins are
  * y·(Σ w·x + b6·10⁶) in 10⁻¹²-units (exact, bounded: even at the
  * K=30 magnitude probe |Σ w·x| < 2.5·10¹⁸ < 2⁶³; the bias rides in
  * micro-units so no division ever happens in either engine). The binary target
  * is label parity: y = +1 for even labels, −1 for odd.
  *
  * Algorithm: the bias is one more weight, against a constant feature
  * of 10⁶ appended to every row's micro-unit features, so
  * w·x + b6·10⁶ is one dot product and the update is one sum:
  * each epoch is ONE exact reduce of Σ g·x over the corpus, with g = y
  * when the margin is ≤ 0 and 0 otherwise. Partition partials meet on
  * the driver, summed with `Math.addExact` /
  * `multiplyExact` so an overflow throws, as the ANSI SQL margin does.
  * The weights live on the driver as a dims+1 long array (bias last)
  * and enter the next epoch's margin pass as a plan literal.
  *
  * Scale shape (100 TB posture): the corpus is persisted once and
  * scanned once per epoch, shuffle-free: the margin is a
  * zip_with/aggregate fold over the row's own array against the
  * literal weights, and each partition ships one dims+1 partial to the
  * driver. Bytes moved per epoch are ∝ dims × partitions, independent
  * of corpus size; jobs per training run are `epochs`, independent of
  * the data.
  *
  * Honesty note on the driver fixtures: the parity target is random
  * with respect to the embedding content there, so the trained filter
  * correctly collapses to chance (it predicts the −1 class for every
  * row, and qPerceptronEval's confusion matrix REPORTS that — which
  * is precisely the audit's job: a curation pipeline must see that a
  * filter learned nothing before trusting it). The spec proves the
  * machinery learns when signal exists (separable fixtures converge
  * in one epoch and the streaming gate splits them exactly).
  *
  * Reference anchor: the reference pipeline has no learned stage
  * (app.py is fetch-and-land); this family is part of the
  * training-data-pipeline surface the engine adds on top (SURVEY.md
  * §2.3 north stars).
  */
object Classifier {

  /** Training epochs. Three keeps the unrolled DuckDB oracle readable
    * while exercising the full fixed-point loop (epoch 1 updates on
    * every row — all margins are 0 under w₀ = 0 — epochs 2–3 on the
    * genuinely misclassified set). */
  private[graft] val epochs = 3

  /** (vec_id, y ∈ {+1,−1} INT, x6 ARRAY<BIGINT> micro-unit features). */
  private def corpus6(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d).select(
      col("vec_id"),
      when(col("label") % 2 === 0, lit(1)).otherwise(lit(-1)).as("y"),
      features(col("embedding")).as("x6"))

  /** An embedding column's micro-unit features, then the constant bias
    * feature 10⁶. */
  private[graft] def features(embedding: Column): Column =
    concat(transform(embedding.cast("array<double>"),
        x => (x.cast(DecimalType(18, 6)) * 1000000).cast("long")),
      array(lit(1000000L)))

  /** Exact activation Σ wᵢ·xᵢ of features `x6` under weights `w`
    * (ARRAY<BIGINT>, bias last): w·x + b6·10⁶ in 10⁻¹²-units. */
  private[graft] def activation(x6: Column, w: Column): Column =
    aggregate(zip_with(x6, w, (x, wd) => x * wd), lit(0L), (acc, p) => acc + p)

  /** Exact integer margin of every row under weights `w`:
    * y · (Σ wᵢ·xᵢ + b6·10⁶). */
  private def margins(corpus: DataFrame, w: Column): DataFrame =
    corpus.withColumn("margin", col("y").cast("long") * activation(col("x6"), w))

  /** Runs the `epochs`-epoch batch-perceptron loop, one corpus reduce
    * per epoch; returns the final dims+1 weights, bias last, or None
    * for an empty corpus. Each partition folds its rows to at most one
    * partial and the driver sums the partials, so an empty corpus
    * reduces to nothing instead of failing as `Dataset.reduce` does. */
  private def train(corpus: DataFrame): Option[Array[Long]] = {
    import corpus.sparkSession.implicits._
    val zero = array_repeat(lit(0L), size(col("x6"))) // w₀, as wide as each row
    var w = Option.empty[Array[Long]]
    for (_ <- 1 to epochs) {
      val step = margins(corpus, w.fold(zero)(typedLit(_)))
        .select("y", "x6", "margin").as[(Int, Array[Long], Long)]
        .mapPartitions(_.map { case (y, x6, margin) =>
          val g = if (margin <= 0) y.toLong else 0L
          x6.map(Math.multiplyExact(g, _))
        }.reduceOption(plus).iterator)
        .collect().reduceOption(plus)
      w = step.map(s => w.fold(s)(plus(_, s)))
    }
    w
  }

  private def plus(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, s"feature widths differ: ${a.length} vs ${b.length}")
    Array.tabulate(a.length)(i => Math.addExact(a(i), b(i)))
  }

  /** Landed trained-weights artifact (`perceptron_w_v1`): the declared
    * train OUTPUT shape — (dim, w6), bias at dim = −1 — written once
    * per corpus through the fingerprint-keyed Landing/TxTable pattern
    * (the own_pairs_v2 precedent). The "train once, score everywhere"
    * posture: at 100 TB the 3-epoch training pass is 3 full corpus
    * scans, and every consumer (batch eval/score, the streaming
    * quality gate) reads the dims+1-row artifact instead of paying
    * them again. One partition: one small file. */
  private[graft] def weightsTable(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.sources.Landing.table(spark, d, "perceptron_w_v1") {
      val corpus = corpus6(spark, d).persist()
      val w = try train(corpus) finally corpus.unpersist(blocking = false)
      w.fold(Seq.empty[(Long, Long)])(w =>
          w.indices.init.map(i => (i.toLong, w(i))) :+ (-1L -> w.last))
        .toDF("dim", "w6").coalesce(1)
    }
  }

  /** The landed artifact as the dims+1 weight array (bias last) that
    * the margin pass takes — a dims+1-row read, not a training job.
    * An empty corpus lands no weights, and scores no row. */
  private[graft] def weights(spark: SparkSession, d: String): Array[Long] = {
    val byDim = weightsTable(spark, d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (byDim.isEmpty) Array.empty
    else ((0L until byDim.size - 1L) :+ -1L).map(byDim).toArray
  }

  /** Declared: final weight vector after 3 epochs, one row per
    * dimension in micro-units, the bias at dim = −1 (also micro-units
    * — the bias increments by whole counts ×10⁶, same unit as w).
    * Reads the landed artifact: the first caller per corpus pays the
    * training pipeline, everyone after reads dims+1 rows. */
  def qPerceptronTrain(spark: SparkSession, d: String): DataFrame =
    weightsTable(spark, d).orderBy("dim")

  /** Declared: training-set confusion counts of the 3-epoch model —
    * the fit audit a curation pipeline reads before trusting the
    * filter (predicted class is the sign of the ACTIVATION w·x + b =
    * margin·y, ties to −1 — a zero activation is counted wrong for
    * both classes by the trainer, and reported as the −1 class). */
  def qPerceptronEval(spark: SparkSession, d: String): DataFrame = {
    val out = margins(corpus6(spark, d), typedLit(weights(spark, d)))
      .select(col("y").cast("long").as("y"),
        when(col("margin") * col("y").cast("long") > 0, lit(1L))
          .otherwise(lit(-1L)).as("pred"))
      .groupBy("y", "pred").agg(count(lit(1)).as("n"))
      .orderBy("y", "pred")
    out
  }

  /** Declared: per-document quality scores from the trained filter —
    * the pipeline's actual consumption shape ("score everything, gate
    * on the margin"): document id, true class, exact integer margin,
    * and the gate decision. Bounded output (one row per kept doc is
    * the real shape; here the top-20 by margin keeps the declared
    * result magnitude-stable for the oracle). */
  def qPerceptronScore(spark: SparkSession, d: String): DataFrame = {
    val out = margins(corpus6(spark, d), typedLit(weights(spark, d)))
      .select(col("vec_id"), col("y").cast("long").as("y"),
        (col("margin") * col("y").cast("long")).as("score12"))
      .orderBy(col("score12").desc, col("vec_id"))
      .limit(20)
    out
  }
}
