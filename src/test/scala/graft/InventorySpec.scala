package graft

import org.apache.spark.sql.functions._

import graft.ops.Inventory
import graft.sources.JsonSource

/** Cube/percentile-sketch additions + the JSON ingestion surface. */
class InventorySpec extends SparkSpec {

  test("cube contains rollup's grouping sets plus the month-only slice") {
    val cube = Inventory.qCube(spark, sfDir).cache()
    val rollup = Inventory.qRollup(spark, sfDir)
    // every rollup row appears verbatim in the cube
    assert(rollup.exceptAll(cube.select(rollup.columns.map(col): _*)).count() == 0)
    // the extra sets are exactly gid=2 (year grouped away, month kept)
    val extra = cube.select(rollup.columns.map(col): _*).exceptAll(rollup)
    assert(extra.filter(col("gid") =!= 2).count() == 0)
    assert(extra.count() > 0)
    cube.unpersist()
  }

  test("approx percentiles land inside a quantile neighborhood of the exact form") {
    // percentile_approx returns an actual data point with bounded RANK
    // error (1/accuracy), while exact `percentile` interpolates — so the
    // right assertion is containment in [p(q-δ), p(q+δ)], not an absolute
    // value tolerance (data spacing dominates in small groups).
    val windows = Seq(0.5 -> (0.45, 0.55), 0.95 -> (0.90, 1.0), 0.99 -> (0.94, 1.0))
    val bounds = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        expr(s"percentile(value, ${windows.map(_._2._1).mkString("array(", ",", ")")})").as("lo"),
        expr(s"percentile(value, ${windows.map(_._2._2).mkString("array(", ",", ")")})").as("hi"))
      .collect()
      .map(r => r.getString(0) -> (r.getSeq[Double](1), r.getSeq[Double](2))).toMap
    val approx = Inventory.percentilesApproxRaw(spark, sfDir).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (lo, hi) = bounds(r.getString(0))
      Seq(1, 2, 3).zipWithIndex.foreach { case (colIdx, w) =>
        val v = r.getDouble(colIdx)
        assert(v >= lo(w) - 1e-4 && v <= hi(w) + 1e-4,
          s"${r.getString(0)} q=${windows(w)._1}: $v outside [${lo(w)}, ${hi(w)}]")
      }
    }
  }

  test("json config round-trip equals the dim it was written from") {
    val back = JsonSource.qJsonConfig(spark, sfDir).collect()
    val dim = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy("n_nationkey").collect()
    assert(back.length == dim.length)
    back.zip(dim).foreach { case (a, b) => assert(a == b) }
  }

  test("from_json typed parse agrees with the string-path extraction") {
    val typed = JsonSource.qFromJson(spark, sfDir)
    val stringPath = graft.ops.Quality.qJsonExtract(spark, sfDir)
    assert(typed.exceptAll(stringPath).count() == 0)
    assert(stringPath.exceptAll(typed).count() == 0)
  }

  test("approx distinct stays within 5% of exact per group") {
    import org.apache.spark.sql.functions._
    val approx = Inventory.distinctApproxRaw(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("u"), countDistinct(col("value")).as("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (u, v)) =>
      val (au, av) = approx(k)
      assert(math.abs(au - u).toDouble / u <= 0.05, s"$k users: $au vs $u")
      assert(math.abs(av - v).toDouble / v <= 0.05, s"$k values: $av vs $v")
    }
  }

  test("unpivot ∘ pivot = the direct group counts (zeros only for absent combos)") {
    import org.apache.spark.sql.functions._
    val narrow = Inventory.qUnpivot(spark, sfDir)
    val direct = Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val nonZero = narrow.filter(col("n") > 0)
    assert(nonZero.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(nonZero).count() == 0)
    // the wide matrix is complete: users × 5 event types
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(narrow.count() == users * 5)
  }

  test("grouping sets: the (year,priority) set equals a plain groupBy; no grand-total row exists") {
    import org.apache.spark.sql.functions._
    val gs = Inventory.qGroupingSets(spark, sfDir).cache()
    // neither rollup nor cube could express this set list: no () set
    assert(gs.filter(col("gy") === 1 && col("gp") === 1).count() == 0)
    val finest = gs.filter(col("gy") === 0 && col("gp") === 0)
    val direct = Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("o_year"),
        col("o_orderpriority").as("o_priority"))
      .agg(count(lit(1)).as("n"))
    assert(finest.count() == direct.count())
    // each marginal re-counts every order exactly once
    val total = Tables.orders(spark, sfDir).count()
    assert(gs.filter(col("gp") === 1).agg(sum("n")).first().getLong(0) == total)
    assert(gs.filter(col("gy") === 1).agg(sum("n")).first().getLong(0) == total)
    gs.unpersist()
  }

  test("intersect is the set intersection: subset of both sides, equals the join-distinct form") {
    import org.apache.spark.sql.functions._
    val it = Inventory.qIntersect(spark, sfDir).cache()
    val o = Tables.orders(spark, sfDir)
    val live = o.filter(col("o_orderstatus") =!= "F").select("o_orderkey", "o_orderpriority")
    val big = o.filter(col("o_totalprice") > 150000.0).select("o_orderkey", "o_orderpriority")
    assert(it.exceptAll(live.distinct()).count() == 0)
    assert(it.exceptAll(big.distinct()).count() == 0)
    val joined = live.distinct().join(big.distinct(), Seq("o_orderkey", "o_orderpriority"))
    assert(it.count() == joined.count())
    it.unpersist()
  }

  test("merge upsert: every base row survives, matched rows take update values, inserts add new keys") {
    import org.apache.spark.sql.functions._
    val m = Inventory.qMergeUpsert(spark, sfDir).cache()
    val o = Tables.orders(spark, sfDir)
    val nBase = o.count()
    val nChanged = o.filter(col("o_orderkey") % 7 === 0).count()
    assert(m.count() == nBase + nChanged) // base + inserts, no dup per key
    assert(m.filter(col("action") === "update").count() == nChanged)
    assert(m.filter(col("action") === "insert").count() == nChanged)
    // updated rows carry the changelog's values
    assert(m.filter(col("action") === "update" && col("status") =!= "U").count() == 0)
    assert(m.filter(col("action") === "insert" && col("o_orderkey") < 100000000L).count() == 0)
    // kept rows are byte-identical to base
    val kept = m.filter(col("action") === "keep").select("o_orderkey", "status", "price")
    val expectKept = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    assert(kept.exceptAll(expectKept).count() == 0 && expectKept.exceptAll(kept).count() == 0)
    m.unpersist()
  }

  test("upsert compaction keeps exactly the latest version per key") {
    import org.apache.spark.sql.functions._
    val compact = Inventory.qUpsertCompact(spark, sfDir).cache()
    val keys = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().count()
    assert(compact.count() == keys) // one surviving row per key
    // nothing in the raw table is strictly later than the kept row
    val later = Tables.events(spark, sfDir).as("e")
      .join(compact.as("c"),
        col("e.user_id") === col("c.user_id") &&
        col("e.event_type") === col("c.event_type"))
      .filter(struct(col("e.ts"), col("e.event_id")) >
        struct(col("c.last_ts"), col("c.last_event_id")))
    assert(later.count() == 0)
    compact.unpersist()
  }

  test("schema profile matches per-column direct recomputes") {
    val ev = Tables.events(spark, sfDir).cache()
    val n = ev.count()
    val out = Inventory.qSchemaProfile(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 5)
    assert(out.values.forall(_._3 == n))
    for (c <- Seq("event_id", "user_id", "event_type", "value", "props")) {
      val nulls = ev.filter(col(c).isNull).count()
      val distinct = ev.filter(col(c).isNotNull).select(c).distinct().count()
      assert(out(c) == ((nulls, distinct, n)), s"column $c: ${out(c)}")
    }
    ev.unpersist()
  }

  test("count-min sketch: estimate >= exact for EVERY key, within e*N/width, and merges across partitions") {
    import spark.implicits._
    // Skewed multiset split across 4 partitions — merge() must combine
    // partial sketches exactly (CM sketches are counter matrices;
    // merge is element-wise add, lossless given identical seeds).
    val keys = (1L to 200L).flatMap(k => Seq.fill((k % 17 + 1).toInt)(k))
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val width = 1024
    val bytes = spark.createDataset(keys).repartition(4)
      .select(new graft.functions.CmsAggregator(5, width, 42).toColumn)
      .head()
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    assert(cms.totalCount() == keys.size)
    val band = math.ceil(math.E * cms.totalCount() / width).toLong
    exact.foreach { case (k, n) =>
      val est = cms.estimateCount(k)
      assert(est >= n, s"CM underestimated key $k: $est < $n")
      assert(est <= n + band, s"key $k outside the e*N/width band: $est vs $n + $band")
    }
    // a key never inserted only ever reads collision mass
    assert(cms.estimateCount(10000L) <= band)
  }

  test("theta overlap: every declared pair in band; estimation mode stays within sketch error on 50k-element sets") {
    val rows = Inventory.qThetaOverlap(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(3), s"pair ${r.getString(0)}/${r.getString(1)} out of band"))
    // force ESTIMATION mode (beyond 4096 retained entries): two 50k
    // sets with a known 10k intersection; theta relative error at
    // lgK=12 is ~1/sqrt(4096) ≈ 1.6% per bound — allow 3 sigma
    import org.apache.datasketches.theta.{SetOperation, UpdateSketch}
    val a = UpdateSketch.builder().build()
    val b = UpdateSketch.builder().build()
    (0L until 50000L).foreach(a.update)
    (40000L until 90000L).foreach(b.update)
    val i = SetOperation.builder().buildIntersection()
    i.intersect(a.compact()); i.intersect(b.compact())
    val est = i.getResult.getEstimate
    assert(math.abs(est - 10000.0) < 10000.0 * 0.05 + 3 * 50000 * 0.016,
      s"intersection estimate $est far from 10000")
  }

  test("dq audit: all 9 checks present, clean testdata passes, and a planted violation is counted") {
    import spark.implicits._
    val rows = Inventory.qDqAudit(spark, sfDir).collect()
    assert(rows.length == 9)
    assert(rows.forall(_.getBoolean(4)), // the generated testdata is clean
      rows.filterNot(_.getBoolean(4)).mkString(", "))
    // plant violations in a scratch copy: an orphan lineitem (FK), a
    // null user (not-null), an out-of-range quantity
    val dir = tempDir("graft_dq")
    for (t <- Seq("orders", "customer"))
      Tables.table(spark, sfDir, t).write.parquet(s"$dir/$t.parquet")
    Tables.lineitem(spark, sfDir)
      .union(Tables.lineitem(spark, sfDir).limit(1)
        .withColumn("l_orderkey", lit(-999L))
        .withColumn("l_quantity", lit(99L)))
      .write.parquet(s"$dir/lineitem.parquet")
    Tables.events(spark, sfDir).limit(50)
      .union(Tables.events(spark, sfDir).limit(1)
        .withColumn("user_id", lit(null).cast("long")))
      .write.parquet(s"$dir/events.parquet")
    val audited = Inventory.qDqAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(audited("fk_lineitem_orders") == ((1L, false)))
    assert(audited("range_lineitem_quantity") == ((1L, false)))
    assert(audited("not_null_events_user") == ((1L, false)))
    assert(audited("pk_orders_unique") == ((0L, true)))
  }

  test("heavy hitters: top-10 matches the exact group-count ranking and both sketch bounds hold") {
    val rows = Inventory.qHeavyHitters(spark, sfDir).collect()
    assert(rows.length == 10)
    val exact = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == exact.toSeq)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"est < exact for user ${r.getLong(0)}")
      assert(r.getBoolean(3), s"est outside band for user ${r.getLong(0)}")
    }
  }

  test("interval audit: coverage identities hold and one user replays against the merged islands") {
    val rows = Inventory.qIntervalAudit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nRaw, rawS, nMerged, covered, overlap, ppm) =>
      assert(rawS == nRaw * 300L && nMerged <= nRaw)
      assert(covered <= rawS && overlap == rawS - covered && overlap >= 0)
      assert(ppm == covered * 1000000L / rawS)
    }
    // overlap exists somewhere (5-min windows over dense event streams)
    assert(rows.exists(_._6 > 0))
    // one user's covered seconds replay from the declared merge output
    val u = rows.head._1
    val merged = Inventory.qIntervalMerge(spark, sfDir)
      .filter(col("user_id") === u)
      .select(expr("(unix_micros(merged_end) - unix_micros(merged_start)) div 1000000"))
      .collect().map(_.getLong(0))
    assert(rows.head._5 == merged.sum && rows.head._4 == merged.length)
  }

  test("null semantics: one NULL group; count(col) skips it; null-safe join finds it, equi-join drops it") {
    val rows = Inventory.qNullSemantics(spark, sfDir).collect()
    val (nullRows, rest) = rows.partition(_.isNullAt(0))
    assert(nullRows.length == 1) // all NULL keys collapse into ONE group
    val ng = nullRows.head
    assert(ng.getLong(2) == 0L)      // count(et) skips nulls entirely
    assert(ng.getLong(1) > 0L)       // count(*) does not
    assert(ng.getBoolean(4))         // <=> matches the dim's NULL member
    assert(!ng.getBoolean(5))        // = never matches NULL
    // non-null groups: both join flavors agree
    rest.foreach(r => assert(r.getBoolean(4) == r.getBoolean(5)))
    // group masses conserve to the full fact
    assert(rows.map(_.getLong(1)).sum == Tables.events(spark, sfDir).count())
  }

  test("benford: digit histogram partitions the orders; shares sum to 1e6 minus floor loss") {
    val rows = graft.ops.Analytics.qBenford(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).forall(d => d >= 1 && d <= 9))
    assert(rows.map(_._2).sum == Tables.orders(spark, sfDir).count())
    val shareSum = rows.map(_._3).sum
    assert(shareSum <= 1000000L && 1000000L - shareSum < rows.length)
    // the law's constants are wired correctly (digit 1 ⇒ 301030 ppm)
    assert(rows.find(_._1 == 1L).forall(_._4 == 301030L))
  }

  test("window suite: running-frame functions replay per user; rank vs dense_rank diverge on ties") {
    val df = Inventory.qWindowSuite(spark, sfDir)
    // both window specs share ONE hash exchange on user_id (the second
    // spec re-sorts in place); the only other exchange is the output orderBy
    val plan = df.queryExecution.executedPlan.toString
    assert("hashpartitioning".r.findAllIn(plan.toLowerCase).length == 1,
      s"window specs did not share the user_id exchange:\n$plan")
    def L(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    val byUser = df.collect()
      .map(r => (L(r, 0), L(r, 2), if (r.isNullAt(4)) -1L else L(r, 4),
        L(r, 7), L(r, 8)))
      .groupBy(_._1)
    byUser.values.foreach { rs =>
      val seqs = rs.map(_._2).sorted
      assert(seqs.sameElements(1L to rs.length)) // contiguous sequence per user
      // nth_value(3) is null before row 3, then constant
      val thirds = rs.sortBy(_._2).map(_._3)
      assert(thirds.take(2).forall(_ == -1L))
      if (rs.length >= 3) assert(thirds.drop(2).toSet.size == 1 && thirds(2) != -1L)
      // dense_rank never exceeds rank; both start at 1
      assert(rs.forall(r => r._5 <= r._4) && rs.exists(r => r._4 == 1L && r._5 == 1L))
    }
    // ties exist somewhere, so the two rankings measurably diverge
    assert(byUser.values.exists(rs => rs.exists(r => r._5 < r._4)))
  }

  test("mutual info: replays the scala reference over the observed contingency cells") {
    val docs = Tables.documents(spark, sfDir).select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = docs.groupBy(identity).map { case (k, g) => (k, g.length.toLong) }
    val ml = cells.groupBy(_._1._1).map { case (l, g) => (l, g.values.sum) }
    val ms = cells.groupBy(_._1._2).map { case (s, g) => (s, g.values.sum) }
    val nn = docs.length.toLong
    val ref = cells.map { case ((l, s), o) =>
      (o.toDouble / nn) * math.log((o * nn).toDouble / (ml(l) * ms(s)))
    }.sum
    val row = Inventory.qMutualInfo(spark, sfDir).collect().head
    assert(row.getLong(0) == nn && row.getLong(1) == cells.size)
    assert(math.abs(row.getDouble(2) - ref) < 1e-9)
    assert(row.getDouble(2) >= -1e-9) // MI is non-negative up to the decimal pin
  }

  test("chi2: full lang×source grid, per-lang parts replay the scala reference") {
    val docs = Tables.documents(spark, sfDir).select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = docs.groupBy(identity).map { case (k, g) => (k, g.length.toLong) }
    val langs = docs.map(_._1).distinct.sorted
    val srcs = docs.map(_._2).distinct
    val ml = docs.groupBy(_._1).map { case (l, g) => (l, g.length.toLong) }
    val ms = docs.groupBy(_._2).map { case (s, g) => (s, g.length.toLong) }
    val nn = docs.length.toLong
    val got = Inventory.qChi2Test(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == langs.toSeq) // ordered, one row per lang
    got.foreach { case (l, nDocs, nCells, part) =>
      assert(nDocs == ml(l) && nCells == srcs.length.toLong)
      val ref = srcs.map { s =>
        val o = cells.getOrElse((l, s), 0L)
        val num = (o * nn - ml(l) * ms(s)).toDouble
        num * num / (nn * ml(l) * ms(s)).toDouble
      }.sum
      assert(math.abs(part - ref) < 1e-9 && part >= 0.0)
    }
  }

  test("fd discovery: key-determined probes hold, aggregated ones violated; counts replay") {
    val got = Inventory.qFdDiscovery(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(got.size == 8)
    // unique-key determinants hold by construction
    assert(got(("nation", "n_nationkey", "n_name"))._4)
    assert(got(("customer", "c_custkey", "c_mktsegment"))._4)
    got.foreach { case (_, (nKeys, nPairs, nViol, holds)) =>
      assert(nPairs >= nKeys && nViol <= nKeys)
      assert(holds == (nViol == 0L) && (nPairs == nKeys) == holds)
    }
    // replay one violated probe from first principles
    val docs = Tables.documents(spark, sfDir).select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val (nKeys, nPairs, nViol, _) = got(("documents", "source", "lang"))
    assert(nKeys == bySrc.size && nPairs == bySrc.values.sum)
    assert(nViol == bySrc.values.count(_ > 1))
  }

  test("join card est: FK joins estimate near-exactly; actuals replay the true join sizes") {
    val li = Tables.lineitem(spark, sfDir).count()
    val ord = Tables.orders(spark, sfDir).count()
    val got = Inventory.qJoinCardEst(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq("lineitem_orders", "lineitem_part", "orders_customer"))
    got.foreach { case (_, nl, nr, ndvl, ndvr, est, actual, errPpm) =>
      assert(est == nl * nr / math.max(ndvl, ndvr))
      assert(errPpm == math.abs(actual - est) * 1000000L / actual)
    }
    // every lineitem has an order: the FK join actual is |lineitem|,
    // and with ndv(o_orderkey) = |orders| the estimate is exact
    val lo = got.find(_._1 == "lineitem_orders").get
    assert(lo._7 == li && lo._3 == ord && lo._5 == ord && lo._8 == 0L)
  }

  test("compaction plan: per-day bins respect the NFD byte bound and conserve the inventory") {
    val out = Inventory.qCompactionPlan(spark, sfDir).cache()
    val target = 4096L
    // the inventory it plans over: one file per (day, event_type)
    val files = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg((sum(length(col("props"))) + lit(64L) * count(lit(1))).as("bytes"))
    val expect = files.groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("total_bytes"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    out.collect().foreach { r =>
      val (day, nFiles, nBins, total) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(expect(day) == ((nFiles, total)), day)
      // bin index = floor(preceding bytes / target): never more bins than
      // files, never more than total/target + 1, and at least ceil(total/target)
      // bins cannot be beaten when every file <= target... but files may
      // exceed target, so the sound lower bound is 1
      assert(nBins >= 1 && nBins <= nFiles, day)
      assert(nBins <= total / target + 1, day)
    }
    assert(out.count() == expect.size)
    out.unpersist()
  }

  test("compaction NFD: driver-replayed greedy, 2-OPT bound, and >= offset-scheme bins") {
    val target = 4096L
    val nfd = Inventory.qCompactionNfd(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val offset = Inventory.qCompactionPlan(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // driver-side replay of the exact greedy from the raw inventory
    val files = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg((sum(length(col("props"))) + lit(64L) * count(lit(1))).as("bytes"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(x => -x)).toMap
    assert(nfd.keySet == files.keySet && nfd.keySet == offset.keySet)
    files.foreach { case (day, sizes) =>
      var binSums = List.empty[Long] // head = open bin
      var rem = -1L
      sizes.foreach { x =>
        if (binSums.isEmpty || x > rem) { binSums ::= x; rem = math.max(target - x, 0L) }
        else { binSums = (binSums.head + x) :: binSums.tail; rem -= x }
      }
      val (nFiles, nBins, total, maxBin) = nfd(day)
      assert(nFiles == sizes.length.toLong, day)
      assert(total == sizes.sum, day)
      assert(nBins == binSums.length.toLong, day)
      assert(maxBin == binSums.max, day)
      // the 2-OPT witness: every two CONSECUTIVE bins sum > target
      // (else the later bin's first file would have fit the earlier bin)
      binSums.reverse.sliding(2).filter(_.size == 2).foreach { pair =>
        assert(pair.sum > target, s"$day consecutive bins $pair")
      }
      assert(nBins <= 2L * ((total + target - 1) / target), day) // <= 2*ceil >= 2*OPT
      // capacity is respected except by a single oversize owner
      assert(maxBin <= math.max(target, sizes.max), day)
      // NFD can never beat the gap-free offset concatenation's bin count
      assert(nBins >= offset(day), day)
    }
  }
}
