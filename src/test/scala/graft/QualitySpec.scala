package graft

import org.apache.spark.sql.functions._

import graft.ops.Quality

/** Dedup + text-analysis operator specs (SURVEY.md §5.2). */
class QualitySpec extends SparkSpec {

  test("exact dedup: keys are unique and min event_id is kept") {
    val df = Quality.qExactDedup(spark, sfDir).cache()
    val n = df.count()
    assert(df.select("user_id", "event_type", "value").distinct().count() == n)
    // every group's keeper is its minimum member
    val events = Tables.events(spark, sfDir)
    val bad = df.join(events,
      Seq("user_id", "event_type", "value"))
      .filter(col("event_id") < col("keep_event_id"))
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("minhash near-dup pairs all have true Jaccard >= 0.5 (no false positives)") {
    val pairs = Quality.qMinhashNeardup(spark, sfDir).collect()
    assert(pairs.forall(_.getDouble(2) >= 0.5))
    assert(pairs.nonEmpty) // the corpus plants near-dups at every sf
  }

  test("prefix-filtered jaccard join is lossless: identical rows to the naive all-shingles join") {
    // The PPJoin prefix lemma says dropping non-prefix tokens from the
    // index loses NO pair with J >= t — assert it on the real corpus
    // by comparing full result sets (ids AND scores) at two SFs.
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val fast = Quality.qNgramJaccard(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val naive = Quality.ngramJaccardNaive(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      spark.catalog.clearCache()
      assert(fast == naive, s"prefix filter dropped or invented pairs at $dir")
      assert(fast.nonEmpty)
    }
  }

  test("minhash (LSH) is a superset of same-lang exact jaccard pairs it bands together") {
    // every exact pair found by the quadratic ground truth that also
    // lands in the same LSH band must appear in the minhash result;
    // with jaccard ~0.99 for planted dups, band collision is near-certain
    val exact = Quality.qNgramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Quality.qMinhashNeardup(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh))
  }

  test("hot-band cap engages: an over-cap identical blob contributes no pairs, real dups survive") {
    // 1100 byte-identical docs band together in all 4 bands -> every
    // group exceeds maxBandGroup (1000) and is dropped BEFORE pair
    // expansion (1100^2/2 pairs never materialize); an unrelated
    // planted near-dup pair must still come through on its own bands.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hotband").toString
    val blobText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val blob = (1L to 1100L).map(i =>
      (i, blobText, "en", "blob", blobText.length.toLong))
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val b = a + " thirteen"
    val near = Seq((2001L, a, "en", "pair", a.length.toLong),
      (2002L, b, "en", "pair", b.length.toLong))
    (blob ++ near).toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Quality.qMinhashNeardup(spark, dir).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2001L, 2002L)),
      s"expected only the planted pair, got ${pairs.mkString(", ")}")
  }

  test("LSH band groups stay far below the hot-band cap at this sf") {
    val maxGroup = Quality.minhashBands(
        Quality.minhashSig(Quality.wordShingleInv(spark, sfDir)))
      .groupBy("band_idx", "band_val").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxGroup < Quality.maxBandGroup,
      s"hot band of $maxGroup docs approaches cap ${Quality.maxBandGroup}")
  }

  test("native word_shingles matches the posexplode + lead window formulation") {
    val native = Quality.wordShingles(spark, sfDir)
    val ground = Quality.wordShinglesWindowed(spark, sfDir)
    assert(native.schema == ground.schema)
    // multiset equality — the stream is an unordered bag of occurrences
    assert(native.exceptAll(ground).isEmpty && ground.exceptAll(native).isEmpty)
  }

  test("fused minhash8 signature matches the aggregate-over-inverted-index formulation") {
    val fused = Quality.minhashSigFused(spark, sfDir)
    val ground = Quality.minhashSig(Quality.wordShingleInv(spark, sfDir))
    // names + types; nullability differs (struct-field extraction vs count())
    assert(fused.schema.map(f => (f.name, f.dataType)) ==
      ground.schema.map(f => (f.name, f.dataType)))
    assert(fused.exceptAll(ground).isEmpty && ground.exceptAll(fused).isEmpty)
    // and the fused form is a projection: no generator, no aggregate
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("HashAggregate"),
      s"fused signature plan still expands rows:\n$plan")
  }

  test("doc fingerprint: native shingle_minmax_md5 matches the explode formulation") {
    // formulation 3 (single-eval expression) vs formulation 2
    // (explode + hash aggregate), row-for-row over the real corpus
    val native = Quality.qDocFingerprint(spark, sfDir)
    val ground = Quality.docFingerprintExploded(spark, sfDir)
    assert(native.schema == ground.schema)
    assert(native.exceptAll(ground).isEmpty && ground.exceptAll(native).isEmpty)
    // and the plan is the point: no generator, no aggregate
    val plan = native.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("HashAggregate"),
      s"native fingerprint plan still expands rows:\n$plan")
  }

  test("shingle_minmax_md5 edge cases: exact-width text, multibyte chars, short text") {
    import spark.implicits._
    val df = Seq(
      (1L, "abcde"),            // exactly one window
      (2L, "héllö wörld déjà"), // multibyte: char windows, utf-8 byte hashing
      (3L, "abc")               // shorter than width -> null
    ).toDF("doc_id", "text")
    df.createOrReplaceTempView("smm_edge")
    val got = spark.sql(
      """SELECT doc_id, shingle_minmax_md5(text, 5) AS mm FROM smm_edge""")
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    val want = spark.sql(
      """SELECT doc_id,
        |  CASE WHEN length(text) >= 5 THEN array(
        |    array_min(transform(sequence(1, length(text) - 4),
        |                        i -> md5(substring(text, i, 5)))),
        |    array_max(transform(sequence(1, length(text) - 4),
        |                        i -> md5(substring(text, i, 5))))) END AS mm
        |FROM smm_edge""".stripMargin)
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(got == want)
    assert(got(3L).isEmpty)
  }

  test("shingle_minmax_md5 stays nullable over a NON-nullable input column") {
    // without the nullable override, Catalyst folds IsNull to false
    // and generated code NPEs dereferencing the null array
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "abc"), Row(2L, "abcdef"))),
      schema).createOrReplaceTempView("smm_nn")
    val r = spark.sql(
      """SELECT doc_id, shingle_minmax_md5(text, 5) IS NULL AS isnull,
        |  shingle_minmax_md5(text, 5)[0] AS m
        |FROM smm_nn ORDER BY doc_id""".stripMargin).collect()
    assert(r(0).getBoolean(1) && r(0).isNullAt(2))  // "abc": too short -> null
    assert(!r(1).getBoolean(1) && r(1).getString(2).nonEmpty)
    // analysis-time rejection of non-positive widths
    val e = intercept[Exception](
      spark.sql("SELECT word_shingles(text, 0) FROM smm_nn").collect())
    assert(e.getMessage.contains("positive integer"))
  }

  test("ngram novelty: doc 0 is fully novel, ratios in [0,1], corpus totals conserve") {
    val rows = Quality.qNgramNovelty(spark, sfDir).collect()
    val first = rows.minBy(_.getLong(0))
    assert(first.getLong(1) == first.getLong(2), "earliest doc must be 100% novel")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val ratio = r.getDouble(3)
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // Σ n_novel == |distinct shingles in the corpus| (each shingle has
    // exactly one first owner)
    val vocab = Quality.wordShingleInv(spark, sfDir)
      .select("shingle").distinct().count()
    assert(rows.map(_.getLong(2)).sum == vocab)
  }

  test("eval overlap: winner is the true argmax for one benchmark doc") {
    val rows = Quality.qEvalOverlap(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) < 10 && r.getLong(1) >= 10))
    // recompute the full overlap vector for the first bench doc
    val inv = Quality.wordShingleInv(spark, sfDir)
      .select("doc_id", "shingle").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val benchDoc = rows.head.getLong(0)
    val bSh = inv.filter(_._1 == benchDoc).map(_._2).toSet
    val counts = inv.filter { case (id, sh) => id >= 10 && bSh(sh) }
      .groupBy(_._1).view.mapValues(_.length).toMap
    val best = counts.toSeq.sortBy { case (id, n) => (-n, id) }.head
    assert((rows.head.getLong(1), rows.head.getLong(2).toInt) == best)
  }

  test("vocab drift: KL non-negative (Gibbs) and one source recomputed from scratch") {
    val rows = Quality.qVocabDrift(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(3) >= -1e-9, s"negative KL in $r"))
    // recompute the first source's KL driver-side from raw tokens
    val src = rows.head.getString(0)
    val all = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), "\\s+")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val corpus = all.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val mine = all.filter(_._1 == src).groupBy(_._2)
      .view.mapValues(_.length.toLong).toMap
    val n = all.length.toDouble
    val ns = mine.values.sum.toDouble
    val kl = mine.map { case (t, c) =>
      (c / ns) * math.log((c / ns) / (corpus(t) / n))
    }.sum
    assert(math.abs(kl - rows.head.getDouble(3)) < 2e-4)
    assert(rows.head.getLong(1) == mine.size && rows.head.getLong(2) == ns.toLong)
  }

  test("quality gate: median is an actual member score and keeps >= half per source") {
    val gate = Quality.qQualityGate(spark, sfDir).collect()
    val scores = Quality.qQualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("source")), "doc_id")
      .collect().groupBy(_.getString(2))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    gate.foreach { r =>
      val (src, n, kept, med) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val ss = scores(src)
      assert(n == ss.length)
      assert(ss.contains(med), s"$src median $med is not a member score")
      assert(kept == ss.count(_ >= med))
      assert(kept >= (n + 1) / 2, s"$src keeps $kept of $n — below half")
    }
  }

  test("boilerplate phrases each occur in >= 3 distinct docs (recomputed)") {
    val phrases = Quality.qBoilerplate(spark, sfDir).collect()
    assert(phrases.nonEmpty) // planted near-dups share 5-gram phrases
    assert(phrases.forall(_.getLong(1) >= 3))
    // recompute df for the reported phrases through the shingle stream
    val reported = phrases.map(r => r.getString(0) -> r.getLong(1)).toMap
    val check = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(expr("word_shingles(text, 5)")).as("p"))
      .filter(col("p").isin(reported.keys.toSeq: _*))
      .distinct()
      .groupBy("p").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(check == reported)
  }

  test("simhash: signature is 16 bits and deterministic across runs") {
    val a = Quality.qSimhash(spark, sfDir).collect()
    val b = Quality.qSimhash(spark, sfDir).collect()
    assert(a.sameElements(b))
    a.foreach(r => assert(r.getString(1).matches("[01]{16}")))
  }

  test("lang-id scores are consistent with prediction rule") {
    Quality.qLangId(spark, sfDir).collect().foreach { r =>
      val (en, de, es, fr) = (r.getInt(r.fieldIndex("s_en")), r.getInt(r.fieldIndex("s_de")),
        r.getInt(r.fieldIndex("s_es")), r.getInt(r.fieldIndex("s_fr")))
      val pred = r.getString(r.fieldIndex("pred_lang"))
      if (en + de + es + fr == 0) assert(pred == "und")
      else assert(Map("en" -> en, "de" -> de, "es" -> es, "fr" -> fr)(pred)
        == Seq(en, de, es, fr).max)
    }
  }

  test("quality score stays in [0,1]") {
    val mm = Quality.qQualityScore(spark, sfDir)
      .agg(min("quality_score"), max("quality_score")).collect().head
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }

  test("token counts: BPE-ish tokens >= whitespace tokens; ttr in (0,1]") {
    Quality.qTokenCount(spark, sfDir).collect().foreach { r =>
      assert(r.getInt(r.fieldIndex("n_bpe_tokens")) >= 0)
      val ttr = r.getDouble(r.fieldIndex("type_token_ratio"))
      assert(ttr > 0.0 && ttr <= 1.0)
    }
  }

  test("hybrid rank: RRF fusion replayed from the BM25 and quality outputs for one term") {
    val fused = Quality.qHybridRank(spark, sfDir)
      .filter(col("term") === "vector").collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("rn_lex")), r.getLong(r.fieldIndex("rn_quality")),
        r.getLong(r.fieldIndex("rrf_scaled")), r.getLong(r.fieldIndex("fused_rank"))))
    assert(fused.nonEmpty)
    // replay: lexical ranks from qBm25, quality ranks over those
    // candidates from qQualityScore, both fused by integer RRF
    val lex = Quality.qBm25(spark, sfDir).filter(col("term") === "vector")
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getInt(r.fieldIndex("rn")).toLong).toMap
    val q = Quality.qQualityScore(spark, sfDir)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rnQuality = lex.keys.toSeq
      .sortBy(doc => (-q(doc), doc)).zipWithIndex
      .map { case (doc, i) => doc -> (i + 1L) }.toMap
    fused.foreach { case (doc, rl, rq, rrf, _) =>
      assert(rl == lex(doc), s"lex rank mismatch for $doc")
      assert(rq == rnQuality(doc), s"quality rank mismatch for $doc")
      assert(rrf == 1000000000L / (60 + rl) + 1000000000L / (60 + rq))
    }
    // fused_rank is the dense order of rrf desc, doc asc
    val expectOrder = fused.sortBy { case (doc, _, _, rrf, _) => (-rrf, doc) }
      .map(_._1).toSeq
    assert(fused.sortBy(_._5).map(_._1).toSeq == expectOrder)
  }

  test("bpe pairs: top-20 equals a from-scratch scalar recount of adjacent char pairs") {
    val got = Quality.qBpePairs(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // driver-side replay: word counts, then pair counts over the vocab
    val texts = Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val wordN = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach(_.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
      .foreach(w => wordN(w) = wordN.getOrElse(w, 0L) + 1))
    val pairN = scala.collection.mutable.Map.empty[String, Long]
    wordN.foreach { case (w, n) =>
      (0 until w.length - 1).foreach { i =>
        val p = w.substring(i, i + 2)
        pairN(p) = pairN.getOrElse(p, 0L) + n
      }
    }
    val want = pairN.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
  }

  test("contamination: only non-benchmark docs flagged, every flag is a real overlap") {
    val out = Quality.qContamination(spark, sfDir).collect()
    assert(out.nonEmpty) // the shared vocabulary guarantees overlaps
    val benchShingles = Quality.wordShingleInv(spark, sfDir)
      .filter(col("doc_id") < 10).select("shingle")
      .collect().map(_.getString(0)).toSet
    val docShingles = Quality.wordShingleInv(spark, sfDir)
      .filter(col("doc_id") >= 10).collect()
      .groupBy(_.getLong(1)).map { case (id, rs) => id -> rs.map(_.getString(2)).toSet }
    out.foreach { r =>
      val (id, nOv, nSh) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(id >= 10) // benchmark docs never flag themselves
      assert(docShingles(id).count(benchShingles) == nOv) // overlap is exact
      assert(nOv >= 1 && nOv <= nSh)
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("repetition: ratio consistent with counts, recomputed exactly for one doc") {
    val out = Quality.qRepetition(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (total, distinct, maxRep) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(distinct <= total && maxRep >= 1 && maxRep <= total - distinct + 1)
      assert(math.abs(r.getDouble(4) - (1.0 - distinct.toDouble / total)) < 1e-3)
    }
    // exact recompute of the first doc's shingle multiset in plain Scala
    val first = out.head.getLong(0)
    val text = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === first).select("text").collect().head.getString(0)
    val toks = text.split("\\s+")
    val shingles = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
    assert(out.head.getLong(1) == shingles.length)
    assert(out.head.getLong(2) == shingles.distinct.length)
    assert(out.head.getLong(3) == shingles.groupBy(identity).values.map(_.size).max)
  }

  test("vocab coverage: ranks dense, counts non-increasing, cum_share monotone to <= 1") {
    val out = Quality.qVocabCoverage(spark, sfDir).collect()
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), "\\s+")).as("t"))
      .distinct().count()
    assert(out.length == math.min(50, vocab))
    assert(out.map(_.getInt(0)).sameElements(1 to out.length))
    val ns = out.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    val cums = out.map(_.getDouble(4))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    assert(cums.last <= 1.0 && cums.head == out.head.getDouble(3))
  }

  test("pmi: top bigram count matches a direct recompute; pmi finite") {
    val out = Quality.qPmiBigrams(spark, sfDir).collect()
    assert(out.length == 20)
    val topDirect = Tables.documents(spark, sfDir)
      .select(split(col("text"), "\\s+").as("t"))
      .select(posexplode(col("t")).as(Seq("i", "a")), col("t"))
      .withColumn("b", expr("get(t, i + 1)")).filter(col("b").isNotNull)
      .groupBy("a", "b").count()
      .orderBy(col("count").desc, col("a"), col("b"))
      .limit(1).collect().head
    val first = out.head
    assert(first.getString(1) == topDirect.getString(0))
    assert(first.getString(2) == topDirect.getString(1))
    assert(first.getLong(3) == topDirect.getLong(2))
    out.foreach(r => assert(!r.getDouble(4).isNaN && !r.getDouble(4).isInfinite))
  }

  test("tfidf: 3 ranked terms per doc, df consistent with the corpus, idf monotone") {
    val out = Quality.qTfidf(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    // independent df recompute for the emitted terms
    val df = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
      .distinct().groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(5)).sorted.sameElements(1 to rs.length) && rs.length <= 3)
      // scores non-increasing down the ranks
      val byRank = rs.sortBy(_.getInt(5)).map(_.getDouble(4))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    out.foreach { r =>
      assert(r.getLong(3) == df(r.getString(1))) // df matches corpus
      assert(r.getLong(3) <= nDocs)
      val expected = r.getLong(2) * math.log(nDocs.toDouble / r.getLong(3))
      assert(math.abs(r.getDouble(4) - expected) < 1e-3)
    }
  }

  test("simhash neardup banded candidates lose no pair: result equals the brute-force hamming<=1 set") {
    import org.apache.spark.sql.functions._
    val banded = Quality.qSimhashNeardup(spark, sfDir)
      .select("doc_a", "doc_b", "hamming")
    val sigs = Quality.simhashSigs32(spark, sfDir).select("doc_id", "sig")
    val brute = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= 1)
      .select("doc_a", "doc_b", "hamming")
    assert(banded.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(banded).count() == 0) // pigeonhole recall = 1
  }

  test("perplexity proxy: surprisal in (0, ln N]; one doc recomputed exactly") {
    val df = Quality.qPerplexityProxy(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
    val allToks = docs.select(explode(split(col("text"), "\\s+")).as("tok"))
    val n = allToks.count()
    val lnN = math.log(n.toDouble)
    assert(df.filter(col("avg_surprisal") <= 0 || col("avg_surprisal") > lnN + 1e-9)
      .count() == 0)
    // exact recompute of the lowest-id doc from first principles
    val uni = allToks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = docs.orderBy("doc_id").select("doc_id", "text").first()
    val toks = first.getString(1).split("\\s+")
    val expected = toks.map(t => -math.log(uni(t).toDouble / n)).sum / toks.length
    val got = df.filter(col("doc_id") === first.getLong(0)).first()
    assert(got.getLong(1) == toks.length)
    assert(math.abs(got.getDouble(2) - expected) < 1e-3)
    df.unpersist()
  }

  test("incremental dedup equals the full near-dup pair set restricted to cross-watermark pairs") {
    val incr = Quality.qIncrementalDedup(spark, sfDir)
      .select("new_doc", "index_doc", "jaccard")
    // full pair set emits doc_a < doc_b; the cross-split pairs have
    // doc_a < 400 <= doc_b, so (doc_b, doc_a) is (new, index)
    val full = Quality.qMinhashNeardup(spark, sfDir)
      .filter(col("doc_a") < 400 && col("doc_b") >= 400)
      .select(col("doc_b").as("new_doc"), col("doc_a").as("index_doc"), col("jaccard"))
    assert(incr.exceptAll(full).count() == 0)
    assert(full.exceptAll(incr).count() == 0)
  }

  test("cross-source leak report equals a direct rollup of the near-dup pair stream") {
    val d = "/root/testdata/sf0.01" // planted near-dups live at sf0.01
    val out = Quality.qCrossSourceLeak(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out.nonEmpty)
    out.keys.foreach { case (lo, hi) => assert(lo <= hi) } // normalized pairs
    val srcById = Tables.documents(spark, d).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Quality.qMinhashNeardup(spark, d).select("doc_a", "doc_b").collect()
      .map { r =>
        val (a, b) = (srcById(r.getLong(0)), srcById(r.getLong(1)))
        (if (a <= b) a else b, if (a <= b) b else a)
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(out == expected)
  }

  test("bloom dedup: exact truth matches a set recompute, contract boolean holds, bloom prunes") {
    val d = "/root/testdata/sf0.01" // arrivals need doc_id >= 400
    val out = Quality.qBloomDedup(spark, d).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(2)), "bloom produced a false negative")
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val indexTexts = docs.filter(_._1 < 400).map(_._2).toSet
    val byId = docs.toMap
    out.foreach { r =>
      assert(r.getBoolean(1) == indexTexts.contains(byId(r.getLong(0))),
        s"doc ${r.getLong(0)}: exact_dup mismatch")
    }
    // pruning power: bloom hits must stay near the true-dup count
    // (8192 bits / <=400 items keeps the false-positive rate low) —
    // a bloom that waves everything through saves nothing at 100 TB
    Tables.documents(spark, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .createOrReplaceTempView("bloom_spec_docs")
    val hits = spark.sql(
      """SELECT count(*) FROM bloom_spec_docs a
        |WHERE a.doc_id >= 400 AND might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(h), 1000L, 8192L)
        |   FROM bloom_spec_docs WHERE doc_id < 400), xxhash64(a.h))""".stripMargin)
      .first().getLong(0)
    val trueDups = out.count(_.getBoolean(1))
    val arrivals = out.length
    assert(hits >= trueDups) // superset (no false negatives)
    assert(hits <= trueDups + math.max(3, arrivals / 5),
      s"bloom passes $hits of $arrivals arrivals but only $trueDups are dups")
  }

  test("normalize_text: case/punctuation variants collapse to one hash; one doc recomputed") {
    val out = Quality.qNormalizeText(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == docs.keySet)
    def normalize(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim
    // one doc recomputed through the same normalization in Scala
    val (id, text) = docs.minBy(_._1)
    val expected = normalize(text)
    assert(out(id)._2 == expected.length)
    // the invariance that motivates the op: a case/punct variant of the
    // same doc normalizes to the same key the engine computed
    val variant = normalize(text.toUpperCase + "!!!")
    assert(variant == expected)
    out.foreach { case (d, (_, nLen)) => assert(nLen <= docs(d).length) }
  }

  test("ngram_counts: descending top-20; winner count matches a brute-force recompute") {
    val out = Quality.qNgramCounts(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.length == 20)
    assert(out.map(_._2).toSeq.sliding(2).forall {
      case Seq(a, b) => a >= b
      case _ => true
    })
    val counts = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sfDir).select("text").collect().foreach { r =>
      val tk = r.getString(0).split("\\s+")
      tk.sliding(3).filter(_.length == 3)
        .foreach(g => counts(g.mkString(" ")) = counts.getOrElse(g.mkString(" "), 0L) + 1)
    }
    val best = counts.toSeq.sortBy { case (s, n) => (-n, s) }.head
    assert(out.head == best, s"engine ${out.head} vs recompute $best")
  }

  test("dup_rate_by_source: conservation and one source recomputed exactly") {
    val out = Quality.qDupRateBySource(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val docs = Tables.documents(spark, sfDir).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(out.values.map(_._1).sum == docs.length)
    out.values.foreach { case (n, nd, rate) =>
      assert(nd >= 1 && nd <= n && rate >= 0.0 && rate < 1.0)
    }
    val (src, rows) = docs.groupBy(_._1).head
    assert(out(src)._1 == rows.length)
    assert(out(src)._2 == rows.map(_._2).distinct.length.toLong)
  }

  test("bm25: ranks descend within each term; top doc recomputed from first principles") {
    val out = Quality.qBm25(spark, sfDir).collect()
    assert(out.nonEmpty)
    // within a term, rn order IS bm25-descending order
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val byRn = rows.sortBy(_.getInt(3))
      assert(byRn.map(_.getDouble(2)).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b
        case _ => true
      })
    }
    // exact recompute of the 'vector' winner: tf/df/dl/avgdl from raw
    // tokens, the Okapi formula in the same association order
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+"))
    val n = docs.length
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val tf = docs.map { case (id, tk) => id -> tk.count(_ == "vector") }
      .filter(_._2 > 0).toMap
    val df = tf.size
    def score(t: Int, dl: Int): Double =
      math.log((n.toDouble - df + 0.5) / (df + 0.5) + 1.0) * (t * 2.2) /
        (t + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val expected = docs.filter(d => tf.contains(d._1))
      .map { case (id, tk) => (score(tf(id), tk.length), id) }
      .maxBy { case (s, id) => (s, -id) }
    val got = out.filter(r => r.getString(0) == "vector" && r.getInt(3) == 1).head
    assert(got.getLong(1) == expected._2)
    assert(math.abs(got.getDouble(2) - expected._1) < 1e-3)
  }

  test("rbo: replayed from the two rankings; identity ranker scores the full-mass bound") {
    val out = Quality.qRboOverlap(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    spark.catalog.clearCache()
    assert(out.nonEmpty)
    // Replay: ranker A = qBm25 positions; ranker B = tf desc / doc_id.
    val lex = Quality.qBm25(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3).toLong))
    val tf = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .flatMap(r => r.getString(1).split("\\s+")
        .filter(Set("vector", "join", "scan"))
        .map(t => (t, r.getLong(0))))
      .groupBy(identity).map { case ((t, id), hits) => (t, id, hits.length.toLong) }
    val scale = 1000000000000L
    out.keys.foreach { term =>
      val a = lex.filter(_._1 == term).map(r => r._2 -> r._3).toMap
      val b = tf.filter(_._1 == term).toSeq
        .sortBy { case (_, id, n) => (-n, id) }.take(10)
        .zipWithIndex.map { case ((_, id, _), i) => id -> (i + 1).toLong }.toMap
      val mx = a.keySet.intersect(b.keySet).toSeq
        .map(id => math.max(a(id), b(id)))
      val expectedOv10 = mx.count(_ <= 10).toLong
      val expectedRbo = (1 to 10).map { d =>
        scale * mx.count(_ <= d) / (1L << d) / d
      }.sum
      assert(out(term) == ((expectedOv10, expectedRbo)),
        s"rbo mismatch for '$term': got ${out(term)}, expected ($expectedOv10, $expectedRbo)")
    }
    // Bound check: a ranker compared with itself at these weights gets
    // exactly sum_d scale/2^d (ov_d = d cancels the 1/d) — the metric's
    // full-agreement mass. Every reported score must sit strictly below
    // is-equal-to-itself unless the two rankers agree on every prefix.
    val fullMass = (1 to 10).map(d => scale / (1L << d)).sum
    out.values.foreach { case (_, rbo) =>
      assert(rbo >= 0L && rbo <= fullMass)
    }
  }

  test("readability: one document's counts and score replay from first principles") {
    val rows = Quality.qReadability(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docId = rows.head.getLong(0)
    val text = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === docId).select("text").collect().head.getString(0)
    def count(pat: String): Long = pat.r.findAllIn(text).length.toLong
    val w = count("""\S+""")
    val s = math.max(count("""[.!?]+"""), 1L)
    val y = count("[aeiouAEIOU]+")
    val r = rows.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((w, s, y)))
    assert(r.getLong(4) == 206835L - (1015L * w) / s - (84600L * y) / w)
    // a score exists for every document with at least one word
    assert(rows.length.toLong == Tables.documents(spark, sfDir).count())
  }

  test("bigram LM: one document's smoothed surprisal replays exactly") {
    val df = Quality.qBigramLm(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // corpus model, driver-side
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq).toMap
    val allBi = texts.toSeq.flatMap { case (_, t) => t.zip(t.drop(1)) }
    val big = allBi.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ctx = allBi.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val v = allBi.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
    val docId = rows.head.getLong(0)
    val pairs = texts(docId).zip(texts(docId).drop(1))
    assert(rows.head.getLong(1) == pairs.length.toLong)
    val sumDec = pairs.map { p =>
      val term = -math.log((big(p) + 1).toDouble / (ctx(p._1) + v).toDouble)
      BigDecimal(term).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    val expected = BigDecimal(sumDec.toDouble / pairs.length)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.head.getDouble(2) == expected)
    // every multi-token document is scored
    assert(rows.length == texts.count(_._2.length >= 2))
  }

  test("lang confusion: matrix mass equals the corpus and rolls up the classifier exactly") {
    val conf = Quality.qLangConfusion(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(conf.values.sum == Tables.documents(spark, sfDir).count())
    val fromClassifier = Quality.qLangId(spark, sfDir)
      .select("lang", "pred_lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(conf == fromClassifier)
  }

  test("dataset card: every field replays from a driver-side corpus scan") {
    val r = Quality.qDatasetCard(spark, sfDir).head()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getString(3), x.getLong(4)))
    assert(r.getLong(0) == docs.length)
    assert(r.getLong(1) == docs.map(_._5).sum)
    assert(r.getLong(2) == docs.map(_._3).distinct.length)
    assert(r.getLong(3) == docs.map(_._4).distinct.length)
    assert(r.getLong(4) == docs.length - docs.map(_._2).distinct.length)
    assert(r.getLong(5) == docs.count(_._5 < 100))
  }

  test("dup_spans: replays from a driver-side window scan; spans merge and bound coverage") {
    val got = Quality.qDupSpans(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getAs[Number](3).longValue, r.getLong(4), r.getLong(5)))).toMap
    // reference: all 8-token windows, shared iff in >= 2 distinct docs,
    // per-doc positions merged as intervals
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+", -1)))
    val wins = docs.flatMap { case (id, tk) =>
      tk.sliding(8).zipWithIndex.collect {
        case (w, i) if w.length == 8 => (id, i.toLong, w.mkString(" "))
      }
    }
    val sharedW = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.length >= 2).keySet
    val ref = wins.filter(w => sharedW(w._3)).groupBy(_._1).map { case (id, ws) =>
      val ps = ws.map(_._2).sorted
      // merge [p, p+8) intervals
      var spans = List.empty[(Long, Long)]
      ps.foreach { p =>
        spans match {
          case (lo, hi) :: rest if p <= hi => spans = (lo, math.max(hi, p + 8)) :: rest
          case _ => spans = (p, p + 8) :: spans
        }
      }
      val nTok = docs.find(_._1 == id).get._2.length.toLong
      id -> ((nTok, ws.size.toLong, spans.size.toLong,
        spans.map(s => s._2 - s._1).sum,
        spans.map(s => s._2 - s._1).sum * 1000000L / nTok))
    }
    assert(got == ref)
    // coverage never exceeds the doc and each span is at least one window
    assert(got.values.forall { case (n, _, spans, cov, ppm) =>
      cov <= n && cov >= spans * 8 && ppm <= 1000000L })
  }

  test("neardup sweep: bands roll up the pair stream exactly, cumulative is a suffix sum") {
    val pairs = Quality.qMinhashNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sweep = Quality.qNeardupSweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // bands partition the pair stream
    assert(sweep.map(_._2).sum == pairs.length)
    val ref = pairs.groupBy(p => math.floor(p._3 * 10).toLong)
    sweep.foreach { case (band, n, atLeast, nDocs) =>
      assert(band >= 5 && band <= 10)
      assert(n == ref(band).length)
      // cumulative = all pairs at or above this band
      assert(atLeast == pairs.count(p => math.floor(p._3 * 10).toLong >= band))
      // distinct docs touched by pairs in the band
      assert(nDocs == ref(band).flatMap(p => Seq(p._1, p._2)).distinct.length)
    }
    // ascending bands → non-increasing at-least counts
    assert(sweep.sortBy(_._1).map(_._3).toSeq.sliding(2).forall {
      case Seq(a, b) => b <= a
      case _ => true
    })
  }

  test("dsir affinity separates the target domain and one doc replays exactly") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val got = Quality.qDsirWeight(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // target docs should lean positive vs non-target on average: the
    // score is Σ(ppm_t − ppm_r) and target grams over-index in target
    val en = docs.filter(_._2 == "en").map(d => got(d._1)._2)
    val non = docs.filter(_._2 != "en").map(d => got(d._1)._2)
    assert(en.sum / en.length > non.sum / non.length)
    // exact replay of one document from first principles
    val grams = docs.flatMap { case (id, lang, t) =>
      t.split("\\s+", -1).sliding(2).collect {
        case w if w.length == 2 => (id, lang, w.mkString(" "))
      }
    }
    val totR = grams.length.toLong
    val totT = grams.count(_._2 == "en").toLong
    val cR = grams.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val cT = grams.filter(_._2 == "en").groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val probe = docs.maxBy(_._3.length)._1
    val mine = grams.filter(_._1 == probe)
    val want = mine.map { case (_, _, g) =>
      cT.getOrElse(g, 0L) * 1000000L / totT - cR(g) * 1000000L / totR
    }.sum
    assert(got(probe) == ((mine.length.toLong, want)))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("cdc chunks: boundaries replay from token hashes, exact dups fully covered") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = Quality.qCdcChunks(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.size == docs.length)
    // reference chunking from first principles
    def chunksOf(text: String): Seq[String] = {
      val tk = text.split("\\s+", -1)
      val out = scala.collection.mutable.ArrayBuffer[Seq[String]](Vector.empty)
      tk.foreach { w =>
        out(out.length - 1) = out.last :+ w
        if ("08".contains(md5hex(w).last)) out += Vector.empty
      }
      out.filter(_.nonEmpty).map(_.mkString(" ")).toSeq
    }
    val ref = docs.map { case (id, t) => (id, chunksOf(t)) }
    val cdf = ref.flatMap { case (id, cs) => cs.distinct.map(c => (c, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    ref.foreach { case (id, cs) =>
      val (nTok, nChunks, dupChunks, dupTokens, ppm) = got(id)
      assert(nChunks == cs.length)
      val dup = cs.filter(c => cdf(c) >= 2)
      assert(dupChunks == dup.length)
      assert(dupTokens == dup.map(_.split(" ").length.toLong).sum)
      assert(ppm == dupTokens * 1000000L / nTok && ppm <= 1000000L)
    }
    // an exact-duplicate text shares every chunk → full coverage
    // (the sf0.001 spec fixture has no exact twins; sf0.01+ do)
    val twins = docs.groupBy(_._2).filter(_._2.length >= 2).values.flatten
    assert(twins.forall(d => got(d._1)._5 == 1000000L))
  }

  test("anchor dedup: groups replay exactly from 12-token prefixes") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ref = docs.flatMap { case (id, src, t) =>
      val tk = t.split("\\s+", -1)
      if (tk.length >= 12) Some((md5hex(tk.take(12).mkString(" ")), id, src)) else None
    }.groupBy(_._1).filter(_._2.length >= 2)
      .map { case (a, g) => (a, (g.length.toLong, g.map(_._3).distinct.length.toLong,
        g.map(_._2).min, g.map(_._2).max)) }
    val got = Quality.qAnchorDedup(spark, sfDir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == ref && got.nonEmpty)
  }

  test("quality sweep: bands partition the scored docs, cumulative masses are suffix sums") {
    val scored = Quality.qQualityScore(spark, sfDir)
      .select("doc_id", "n_tokens", "quality_score").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2)))
    val sweep = Quality.qQualitySweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(sweep.map(_._2).sum == scored.length)
    val ref = scored.groupBy(s => math.floor(s._3 * 10).toLong)
    sweep.foreach { case (band, n, toks, dAtLeast, tAtLeast) =>
      assert(n == ref(band).length && toks == ref(band).map(_._2).sum)
      val above = scored.filter(s => math.floor(s._3 * 10).toLong >= band)
      assert(dAtLeast == above.length && tAtLeast == above.map(_._2).sum)
    }
  }

  test("tok efficiency: per-language rollup replays exactly") {
    val per = Quality.qTokenCount(spark, sfDir)
      .select("doc_id", "n_tokens", "n_bpe_tokens").collect()
      .map(r => (r.getLong(0), (r.getInt(1).toLong, r.getInt(2).toLong))).toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val ref = docs.groupBy(_._2).map { case (lang, g) =>
      val chars = g.map(_._3).sum
      val words = g.map(d => per(d._1)._1).sum
      val bpe = g.map(d => per(d._1)._2).sum
      (lang, (g.length.toLong, chars, words, bpe,
        chars * 1000000L / bpe, bpe * 1000000L / words))
    }
    val got = Quality.qTokEfficiency(spark, sfDir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == ref && got.nonEmpty)
  }

  test("winnowing: fingerprints replay from MessageDigest, shared counts from the corpus") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def fps(text: String): Set[String] = {
      val tk = text.split("\\s+", -1)
      if (tk.length < 5) Set.empty
      else {
        val hs = tk.sliding(5).map(w => md5hex(w.mkString(" "))).toVector
        if (hs.length < 4) Set.empty
        else hs.sliding(4).map(_.min).toSet
      }
    }
    val ref = docs.map { case (id, t) => (id, fps(t)) }.filter(_._2.nonEmpty)
    val dfm = ref.flatMap { case (id, s) => s.map(f => (f, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    val got = Quality.qWinnowing(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(got.size == ref.length && ref.nonEmpty)
    ref.foreach { case (id, s) =>
      val shared = s.count(f => dfm(f) >= 2).toLong
      val (nSh, nFp, nShared, ppm, suspect) = got(id)
      assert(nFp == s.size && nShared == shared)
      assert(nFp <= nSh - 3) // at most one fingerprint per 4-window
      assert(ppm == shared * 1000000L / s.size)
      assert(suspect == (shared * 2 >= s.size))
    }
  }

  test("burstiness: top-20 cf/df replays exactly") {
    val toks = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .flatMap(r => r.getString(1).split("\\s+", -1).map(t => (r.getLong(0), t)))
    val ref = toks.groupBy(_._2).view.mapValues { g =>
      (g.length.toLong, g.map(_._1).distinct.length.toLong)
    }.filter(_._2._2 >= 5)
      .map { case (t, (cf, df)) => (t, cf, df, cf * 1000000L / df) }
      .toSeq.sortBy { case (t, _, _, b) => (-b, t) }.take(20)
    val got = Quality.qBurstiness(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == ref && got.nonEmpty)
  }

  test("vocab growth: decile prefix counts replay, curve is monotone") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+", -1).toSeq))
    val nIds = docs.map(_._1).max + 1
    val got = Quality.qVocabGrowth(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to 10L))
    got.foreach { case (k, th, nDocs, nToks, nTypes) =>
      assert(th == nIds * k / 10)
      val prefix = docs.filter(_._1 < th)
      assert(nDocs == prefix.length && nToks == prefix.map(_._2.length.toLong).sum)
      assert(nTypes == prefix.flatMap(_._2).distinct.length)
    }
    assert(got.map(_._5).toSeq.sliding(2).forall { case Seq(a, b) => b >= a; case _ => true })
  }

  test("band load: per-band bucket stats replay from the declared band stream") {
    val sizes = Quality.minhashBands(Quality.minhashSigFused(spark, sfDir))
      .collect().map(r => (r.getInt(1), r.getString(2)))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .groupBy(_._1._1).view.mapValues(_.map(_._2)).toMap // band -> bucket sizes
    val got = Quality.qBandLoad(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    got.foreach { case (b, (nBuckets, nDocs, maxB, pairs, capped)) =>
      val szs = sizes(b.toInt)
      assert(nBuckets == szs.length.toLong, s"band $b bucket count")
      assert(nDocs == szs.sum, s"band $b doc mass")
      assert(maxB == szs.max, s"band $b max bucket")
      assert(pairs == szs.map(s => s * (s - 1) / 2).sum, s"band $b pair volume")
      assert(capped == szs.filter(_ > Quality.maxBandGroup).sum, s"band $b capped mass")
    }
    // every band carries the same docs (one row per doc per band)
    assert(got.values.map(_._2).toSet.size == 1)
    spark.catalog.clearCache()
  }

  test("key width: prefix collision table replays from MessageDigest") {
    val hs = Tables.documents(spark, sfDir).select("text").collect()
      .map(r => md5hex(r.getString(0))).distinct
    val got = Quality.qKeyWidth(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(4L, 6L, 8L, 12L, 16L, 32L))
    got.foreach { case (w, (nKeys, nTexts, nColl)) =>
      val keys = hs.map(_.take(w.toInt)).distinct.length.toLong
      assert(nKeys == keys && nTexts == hs.length.toLong && nColl == hs.length - keys)
    }
    // full width never collides; collisions shrink with width
    assert(got(32L)._3 == 0)
    val byW = got.toSeq.sortBy(_._1).map(_._2._3)
    assert(byW.sliding(2).forall { case Seq(a, b) => b <= a; case _ => true })
  }

  test("detector agreement: counts replay from the two declared pair sets") {
    val lsh = Quality.qMinhashNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Quality.qSimhashNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = Quality.qDetectorAgreement(spark, sfDir).collect().head
    val (na, nb, nc) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(na == lsh.size && nb == sim.size && nc == (lsh & sim).size)
    assert(r.getLong(3) == (lsh | sim).size)
    assert(r.getLong(4) == nc * 1000000L / (na + nb - nc))
  }

  test("cdc savings: per-source rollup matches the per-doc chunk audit") {
    val src = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val per = Quality.qCdcChunks(spark, sfDir).collect()
      .map(r => (src(r.getLong(0)), r.getLong(1), r.getLong(4)))
    val ref = per.groupBy(_._1).map { case (s, g) =>
      (s, (g.length.toLong, g.map(_._2).sum, g.map(_._3).sum,
        g.map(_._3).sum * 1000000L / g.map(_._2).sum))
    }
    val got = Quality.qCdcSavings(spark, sfDir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got == ref && got.nonEmpty)
  }

  test("small cells: every observed cell replayed, suppress flags exactly the sub-k cells") {
    val docs = Tables.documents(spark, sfDir).select("lang", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def bucket(n: Long): Long =
      Seq(128L, 256L, 512L, 1024L).find(n <= _).getOrElse(2048L)
    val ref = docs.groupBy(d => (d._1, d._2, bucket(d._3)))
      .map { case (k, g) => (k, (g.length.toLong, g.length < 5)) }
    val got = Quality.qSmallCells(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
        (r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == ref && got.nonEmpty)
  }

  test("zipf slope: integer fit replays the scala OLS on the same milli logs") {
    val docs = Tables.documents(spark, sfDir).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val got = Quality.qZipfSlope(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.map(_._1).toSet == docs.map(_._1).toSet)
    val bySource = docs.groupBy(_._1)
    got.foreach { case (src, n, sx, sy, slope) =>
      val cf = bySource(src).flatMap(_._2.split("\\s+"))
        .groupBy(identity).map { case (t, g) => (t, g.length.toLong) }
      val top = cf.toSeq.sortBy { case (t, c) => (-c, t) }.take(100)
      val xm = top.indices.map(i => math.floor(math.log(i + 1.0) * 1000).toLong)
      val ym = top.map { case (_, c) => math.floor(math.log(c.toDouble) * 1000).toLong }
      assert(n == top.length && sx == xm.sum && sy == ym.sum)
      val sxy = xm.zip(ym).map { case (a, b) => a * b }.sum
      val sxx = xm.map(a => a * a).sum
      assert(slope == (1000L * (sx * sy - n * sxy)) / (n * sxx - sx * sx))
      assert(slope >= 0) // negated Zipf slope: frequency non-increasing in rank
    }
  }

  test("kl drift: add-1 smoothed KL vs corpus top-100 is ≥0 and replays the scala reference") {
    val docs = Tables.documents(spark, sfDir).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val corpusCf = docs.flatMap(_._2.split("\\s+"))
      .groupBy(identity).map { case (t, g) => (t, g.length.toLong) }
    val top = corpusCf.toSeq.sortBy { case (t, c) => (-c, t) }.take(100)
    val qTotal = top.map(_._2).sum
    val got = Quality.qKlDrift(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.map(_._1).toSet == docs.map(_._1).toSet)
    val bySource = docs.groupBy(_._1)
    got.foreach { case (src, ns, kl) =>
      val cf = bySource(src).flatMap(_._2.split("\\s+"))
        .groupBy(identity).map { case (t, g) => (t, g.length.toLong) }
      val cs = top.map { case (t, _) => cf.getOrElse(t, 0L) }
      assert(ns == cs.sum)
      val u = top.length
      val ref = top.zip(cs).map { case ((_, cc), c) =>
        val p = (c + 1).toDouble / (ns + u)
        p * math.log(((c + 1) * qTotal).toDouble / ((ns + u) * cc))
      }.sum
      assert(math.abs(kl - ref) < 1e-9 && kl >= -1e-9)
    }
  }

  test("source jaccard: inverted-index pairs replay the exact vocabulary set math") {
    val docs = Tables.documents(spark, sfDir).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs.groupBy(_._1).view
      .mapValues(_.flatMap(_._2.split("\\s+")).toSet).toMap
    val srcs = vocab.keys.toSeq.sorted
    val ref = (for {
      i <- srcs.indices; j <- i + 1 until srcs.length
      inter = (vocab(srcs(i)) & vocab(srcs(j))).size.toLong
      if inter > 0
    } yield ((srcs(i), srcs(j)),
      (inter, (vocab(srcs(i)) | vocab(srcs(j))).size.toLong))).toMap
    val got = Quality.qSourceJaccard(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(got.length == ref.size && got.nonEmpty)
    got.foreach { case (k, (common, union, ppm)) =>
      val (ci, cu) = ref(k)
      assert(common == ci && union == cu && ppm == common * 1000000L / union)
    }
    spark.catalog.clearCache()
  }

  test("lsh planner: 40-row grid replays the closed form; S-curve monotone in s and in bands") {
    val got = Quality.qLshPlanner(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == 40)
    got.foreach { case (b, r, s, ppm, milli) =>
      assert(b * r == 128L)
      val p = 1.0 - math.pow(1.0 - math.pow(s / 100.0, r.toDouble), b.toDouble)
      assert(ppm == math.floor(p * 1000000).toLong)
      assert(milli == math.floor(math.pow(1.0 / b, 1.0 / r) * 1000).toLong)
    }
    // more bands ⇒ more candidates at fixed s; higher s ⇒ more candidates at fixed b
    val byS = got.groupBy(_._3).view.mapValues(_.sortBy(_._1).map(_._4)).toMap
    byS.values.foreach(ps => assert(ps.zip(ps.tail).forall { case (a, c) => a <= c }))
    val byB = got.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._4)).toMap
    byB.values.foreach(ps => assert(ps.zip(ps.tail).forall { case (a, c) => a <= c }))
    // the production 16×8 geometry's threshold is the documented ≈0.707
    assert(got.find(g => g._1 == 16L && g._3 == 50L).get._5 == 707L)
  }

  test("minhash est err: same pair set as neardup, estimate on the 1/8 grid, ppm exact") {
    val pairs = Quality.qMinhashNeardup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Quality.qMinhashEstErr(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.map(p => (p._1, p._2)).toSet == pairs && got.nonEmpty)
    got.foreach { case (_, _, j, jppm, eppm, err) =>
      assert(eppm % 125000L == 0 && eppm >= 0 && eppm <= 1000000L)
      assert(err == eppm - jppm)
      // ppm is the integer-division image of the same ratio round() saw
      assert(math.abs(j * 1000000L - jppm) <= 100)
    }
  }

  test("ks test: one row per unordered source pair, D in [0, 1e6] ppm, zero iff identical CDFs") {
    val out = Quality.qKsTest(spark, sfDir).cache()
    val sources = Tables.documents(spark, sfDir)
      .select("source").distinct().collect().map(_.getString(0)).sorted
    val k = sources.length.toLong
    assert(out.count() == k * (k - 1) / 2)
    // pairs are ordered a < b, each exactly once
    assert(out.filter(col("source_a") >= col("source_b")).count() == 0)
    assert(out.select("source_a", "source_b").distinct().count() == k * (k - 1) / 2)
    assert(out.filter(col("ks_ppm") < 0 || col("ks_ppm") > 1000000L).count() == 0)
    // replay one pair from first principles on the driver (dim-bounded)
    val Array(sa, sb) = sources.take(2)
    val lens = Tables.documents(spark, sfDir)
      .filter(col("source").isin(sa, sb))
      .groupBy("source", "n_chars").count()
      .select(col("source"), col("n_chars").cast("long"), col("count"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def cdf(s: String) = {
      val m = lens.filter(_._1 == s).map(t => t._2 -> t._3).toMap
      val total = m.values.sum
      (m, total)
    }
    val (ma, na) = cdf(sa); val (mb, nb) = cdf(sb)
    val grid = (ma.keySet ++ mb.keySet).toSeq.sorted
    var (ca, cb, best) = (0L, 0L, 0L)
    grid.foreach { x =>
      ca += ma.getOrElse(x, 0L); cb += mb.getOrElse(x, 0L)
      best = math.max(best, math.abs(ca * nb - cb * na))
    }
    val want = best * 1000000L / (na * nb)
    val got = out.filter(col("source_a") === sa && col("source_b") === sb)
      .select("ks_ppm").collect().head.getLong(0)
    assert(got == want, s"$sa vs $sb")
    out.unpersist()
  }

  test("merge stats: shard sums add to the merged row; merged matches a direct global scan") {
    val out = Quality.qMergeStats(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val shards = out.filter(_._1 != "merged").values
    val merged = out("merged")
    assert(shards.map(_._1).sum == merged._1)
    assert(shards.map(_._2).sum == merged._2)
    assert(shards.map(_._3).sum == merged._3)
    // merged n is the corpus size; direct global moments agree
    val direct = Tables.documents(spark, sfDir)
      .agg(count(lit(1)), sum("n_chars"), sum(col("n_chars") * col("n_chars")))
      .collect().head
    assert(merged._1 == direct.getLong(0) && merged._2 == direct.getLong(1) &&
      merged._3 == direct.getLong(2))
    // mean/var are the floor images of the exact sums; var nonnegative
    out.foreach { case (scope, (n, sx, sxx, mean, v)) =>
      assert(mean == sx / n, scope)
      assert(v == (n * sxx - sx * sx) / (n * n) && v >= 0, scope)
    }
  }

  test("mann-whitney: U bounds and AUC ppm hold; one pair replayed from driver-side ranks") {
    val out = Quality.qMannWhitney(spark, sfDir).cache()
    val totals = Tables.documents(spark, sfDir).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = totals.size.toLong
    assert(out.count() == k * (k - 1) / 2)
    out.collect().foreach { r =>
      val (a, b, u2, auc) = (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
      // 0 <= U <= na*nb, doubled; AUC is its ppm image
      assert(u2 >= 0 && u2 <= 2 * totals(a) * totals(b), s"$a/$b")
      assert(auc == u2 * 1000000L / (2 * totals(a) * totals(b)), s"$a/$b")
    }
    // replay one pair: U_a = #{(i,j): x_i > y_j} + #ties/2, doubled
    val Seq(sa, sb) = totals.keys.toSeq.sorted.take(2)
    val xs = Tables.documents(spark, sfDir).filter(col("source") === sa)
      .select(col("n_chars").cast("long")).collect().map(_.getLong(0))
    val ys = Tables.documents(spark, sfDir).filter(col("source") === sb)
      .select(col("n_chars").cast("long")).collect().map(_.getLong(0))
    val u2want = xs.map(x => 2L * ys.count(x > _) + ys.count(x == _)).sum
    val got = out.filter(col("source_a") === sa && col("source_b") === sb)
      .select("u2").collect().head.getLong(0)
    assert(got == u2want, s"$sa vs $sb")
    out.unpersist()
  }

  test("bootstrap ci: 32 deterministic replicates per source, ordered band, weights replayed") {
    val out = Quality.qBootstrapCi(spark, sfDir).cache()
    val ranges = Tables.documents(spark, sfDir).groupBy("source")
      .agg(min("n_chars").cast("long"), max("n_chars").cast("long"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.count() == ranges.size)
    out.collect().foreach { r =>
      val (s, nr, lo, med, hi) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nr == 32, s)
      assert(lo <= med && med <= hi, s)
      // every replicate mean is a weighted mean of in-range lengths
      assert(lo >= ranges(s)._1 && hi <= ranges(s)._2, s)
    }
    // determinism: the hash-derived weights make the whole result pure
    assert(Quality.qBootstrapCi(spark, sfDir).exceptAll(out).count() == 0)
    // replay one (source, replicate) cell weight from MessageDigest
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val s0 = docs.head._2
    val ts = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L)
    def weight(r: Int, id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"boot:$r:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = java.lang.Long.parseLong(hex, 16)
      ts.count(u >= _).toLong
    }
    val cell = docs.filter(_._2 == s0)
    val means = (0 until 32).map { r =>
      val sw = cell.map(d => weight(r, d._1)).sum
      val swx = cell.map(d => weight(r, d._1) * d._3).sum
      swx / math.max(sw, 1L)
    }.sorted
    val row = out.filter(col("source") === s0).collect().head
    assert(row.getLong(2) == means(1) && row.getLong(4) == means(30), s0)
    out.unpersist()
  }

  test("js divergence: C(k,2) pairs bounded by ln 2; one pair replayed with decimal-pinned summation") {
    val out = Quality.qJsDivergence(spark, sfDir).cache()
    val sources = Tables.documents(spark, sfDir)
      .select("source").distinct().collect().map(_.getString(0)).sorted
    val k = sources.length.toLong
    assert(out.count() == k * (k - 1) / 2)
    out.collect().foreach { r =>
      val js = r.getDouble(2)
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9,
        s"${r.getString(0)}/${r.getString(1)}: $js")
    }
    // replay one pair from first principles: same top-100 universe,
    // add-1 smoothing, per-term doubles, DECIMAL(18,12)-pinned sum
    val termCounts = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), "\\s+")).as("term"))
      .groupBy("source", "term").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val top = termCounts.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(100).map(_._1)
    val Array(sa, sb) = sources.take(2)
    def cnt(s: String) = {
      val m = termCounts.filter(_._1 == s).map(t => t._2 -> t._3).toMap
      top.map(t => m.getOrElse(t, 0L))
    }
    val (ca, cb) = (cnt(sa), cnt(sb))
    // the universe is min(|vocab|, 100) terms — tiny fixtures have <100
    val u = top.size.toLong
    val (na, nb) = (ca.sum + u, cb.sum + u)
    val terms = ca.zip(cb).map { case (x, y) =>
      val p = (x + 1).toDouble / na; val q = (y + 1).toDouble / nb
      val m = (p + q) / 2.0
      0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
    }
    val want = terms.map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val got = out.filter(col("source_a") === sa && col("source_b") === sb)
      .collect().head.getDouble(2)
    assert(math.abs(got - want) < 1e-12, s"$sa vs $sb: $got vs $want")
    out.unpersist()
  }

  test("bpe merge: the winning pair is qBpePairs' head; one source's merge count replayed") {
    val out = Quality.qBpeMerge(spark, sfDir).cache()
    val topPair = Quality.qBpePairs(spark, sfDir).select("pair")
      .collect().head.getString(0)
    val rows = out.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty && rows.forall(_._2 == topPair))
    rows.foreach { case (s, _, before, merges, after, ppm) =>
      assert(after == before - merges && merges >= 0 && merges * 2 <= before, s)
      assert(ppm == merges * 1000000L / math.max(before, 1L), s)
    }
    // replay one source on the driver: java String.replace IS the
    // leftmost non-overlapping merge order both engines implement
    val s0 = rows.head._1
    val texts = Tables.documents(spark, sfDir).filter(col("source") === s0)
      .select("text").collect().map(_.getString(0))
    var (before, merges) = (0L, 0L)
    texts.flatMap(_.toLowerCase.split("[^a-z]+")).filter(_.nonEmpty).foreach { w =>
      before += w.length
      merges += (w.length - w.replace(topPair, "").length) / 2
    }
    val got = rows.find(_._1 == s0).get
    assert(got._3 == before && got._4 == merges, s0)
    out.unpersist()
  }

  test("bpe train3: all three rounds replayed exactly on the driver; token mass telescopes") {
    val out = Quality.qBpeTrain3(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // driver-side replay of the exact pick-and-apply loop
    var vocab = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    Tables.documents(spark, sfDir).select("source", "text").collect().foreach { r =>
      r.getString(1).toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
        .foreach(w => vocab((r.getString(0), w)) += 1)
    }
    val markers = Seq("0", "1", "2")
    val expected = scala.collection.mutable.ArrayBuffer[(String, Long, String, Long, Long, Long, Long)]()
    for (round <- 0 until 3) {
      def tokens(v: scala.collection.Map[(String, String), Long]): Map[String, Long] =
        v.groupBy(_._1._1).map { case (s, m) =>
          s -> m.map { case ((_, w), n) => n * w.length }.sum }
      val before = tokens(vocab)
      val wn = vocab.groupBy(_._1._2).map { case (w, m) => w -> m.values.sum }
      val pairCount = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      wn.foreach { case (w, n) =>
        if (w.length >= 2)
          (0 until w.length - 1).foreach(i => pairCount(w.substring(i, i + 2)) += n)
      }
      val top = pairCount.toSeq.sortBy { case (p, c) => (-c, p) }.head._1
      val next = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      vocab.foreach { case ((s, w), n) => next((s, w.replace(top, markers(round)))) += n }
      val after = tokens(next)
      before.keys.foreach { s =>
        val (b, a) = (before(s), after(s))
        expected += ((s, round + 1L, top, b, a, b - a, (b - a) * 1000000L / math.max(b, 1L)))
      }
      vocab = next
    }
    assert(out.sortBy(r => (r._1, r._2)) == expected.sortBy(r => (r._1, r._2)),
      "3-round BPE replay diverged")
    // telescoping: round r's tokens_after is round r+1's tokens_before
    out.groupBy(_._1).values.foreach { rs =>
      rs.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(a._5 == b._4, s"telescope broken for ${a._1}")
        case _ =>
      }
    }
  }

  test("bpe encode: per-doc token mass reconciles with the trainer's per-source accounting, and a doc replays exactly") {
    val enc = Quality.qBpeEncode(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val train = Quality.qBpeTrain3(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    // per-source: Σ_doc tokens_before == round-1 tokens_before, and
    // Σ_doc tokens_after == round-3 tokens_after (the encoder applies
    // the SAME three merges the trainer picked, over the same words)
    val srcOf = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val encBySrc = enc.groupBy(e => srcOf(e._1))
    encBySrc.foreach { case (src, docs) =>
      val r1 = train.find(t => t._1 == src && t._2 == 1L).get
      val r3 = train.find(t => t._1 == src && t._2 == 3L).get
      assert(docs.map(_._2).sum == r1._3, s"$src: before mass diverged")
      assert(docs.map(_._3).sum == r3._4, s"$src: after mass diverged")
    }
    // one document replayed on the driver through the picked merges
    val picks = Quality.qBpeTrain3(spark, sfDir).collect()
      .map(r => r.getLong(1) -> r.getString(2)).distinct.sortBy(_._1).map(_._2)
    val doc = Tables.documents(spark, sfDir)
      .select("doc_id", "text").orderBy("doc_id").limit(1).collect().head
    val ws = doc.getString(1).toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
    val after = ws.map(w =>
      w.replace(picks(0), "0").replace(picks(1), "1").replace(picks(2), "2"))
    val got = enc.find(_._1 == doc.getLong(0)).get
    assert(got._2 == ws.map(_.length.toLong).sum)
    assert(got._3 == after.map(_.length.toLong).sum)
    assert(got._4 == (got._2 - got._3) * 1000000L / math.max(got._2, 1L))
  }

  test("line dedup: per-doc accounting is internally consistent and replays a driver-side cut") {
    val rows = Quality.qLineDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (id, nSeg, nKept, keptCh, totCh, ppm) =>
      assert(nKept <= nSeg && keptCh <= totCh, s"doc $id kept more than it has")
      assert(ppm == keptCh * 1000000L / math.max(totCh, 1L), s"doc $id ppm drifted")
      assert((nKept == nSeg) == (keptCh == totCh), s"doc $id count/char cut disagree")
    }
    // boilerplate must exist (the corpus plants shared phrases) and the
    // cut must hit someone, but never everyone
    assert(rows.exists(_._6 < 1000000L), "no doc lost any segment - df threshold dead")
    assert(rows.exists(_._6 == 1000000L), "every doc lost content - threshold too low")
    // replay the whole cut on the driver: segment -> distinct-doc df,
    // keep df < 3 (500 docs x ~15 segments - tiny)
    val segs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).grouped(10).map(_.mkString(" ")).toSeq))
    val df = segs.flatMap { case (id, ss) => ss.distinct.map((_, id)) }
      .groupBy(_._1).map { case (s, v) => s -> v.length }
    val expected = segs.map { case (id, ss) =>
      val kept = ss.filter(df(_) < 3)
      (id, ss.length.toLong, kept.length.toLong,
        kept.map(_.length.toLong).sum, ss.map(_.length.toLong).sum)
    }.sortBy(_._1).toSeq
    assert(rows.toSeq.sortBy(_._1).map(t => (t._1, t._2, t._3, t._4, t._5)) == expected,
      "line-dedup cut diverged from the driver replay")
  }

  test("snapshot diff: classes partition the key space and replay a driver-side diff") {
    val got = Quality.qSnapshotDiff(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    // all four classes exist on this corpus (windows chosen for that)
    assert(got.map(_._1) == Seq("added", "changed", "removed", "unchanged"))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def us(s: String) = java.time.Instant.parse(s).toEpochMilli * 1000L
    def snap(lo: Long, hi: Long) = ev.filter(e => e._3 >= lo && e._3 < hi)
      .groupBy(e => (e._1, e._2)).map { case (k, v) => k -> v.length }
    val a = snap(us("2024-01-01T00:00:00Z"), us("2024-01-08T00:00:00Z"))
    val b = snap(us("2024-01-24T00:00:00Z"), us("2024-01-31T00:00:00Z"))
    val keys = a.keySet ++ b.keySet
    val expected = keys.toSeq.map { k =>
      val st = (a.get(k), b.get(k)) match {
        case (None, _) => "added"
        case (_, None) => "removed"
        case (Some(x), Some(y)) => if (x == y) "unchanged" else "changed"
      }
      (st, k._1)
    }.groupBy(_._1).map { case (st, v) => (st, v.length.toLong, v.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    assert(got == expected, "snapshot diff diverged from the driver replay")
    // the classes partition the full outer key space
    assert(got.map(_._2).sum == keys.size.toLong)
  }
}
