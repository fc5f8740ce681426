package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every declared query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line with per-query seconds.
  *
  * Measurement discipline (decision-grade, not vibes):
  *  - materialization is `write.format("noop")` — a real sink that
  *    consumes every row, so final sorts/projections are NOT optimized
  *    away the way they are under `count()`;
  *  - runs are organized as an untimed warmup pass followed by
  *    SPARK_GRAFT_BENCH_N (default 3) timed PASSES over the whole
  *    suite, and the reported per-query time is the MIN across passes.
  *    Interleaving matters on this shared host: round-2 showed
  *    multi-minute external-contention windows that inflate whatever
  *    runs inside them 10-100× (the same query measured 47 s mid-suite
  *    and 1.1 s isolated; the "slow" query changed between otherwise
  *    identical sessions). Back-to-back repeats of one query all land
  *    in the same window, so a median does not help — spreading a
  *    query's samples minutes apart and taking the min does. Min is
  *    the right estimator here because the noise is strictly additive.
  *  - a query that throws in any timed pass is listed under `failed`
  *    and charged the timed passes' whole wall time ([[summarize]]),
  *    so a failure can never lower the total;
  *  - `clearCache()` between runs drops the `.persist()`ed subtrees the
  *    near-dup/ANN plans use, so every run pays its own cache build and
  *    no query's cache leaks into another's measurement;
  *  - the JSON line goes to stdout AND to BENCH_LOCAL.json in the
  *    working directory; build.sbt routes forked stdout through
  *    unprefixed (sbt's default "[info] " prefix broke the driver's
  *    parse in rounds 1-2 — the file is the belt-and-braces copy).
  *  - the driver's harness keeps only the LAST 2000 characters of
  *    stdout (BENCH_r3.json's `tail`), and the full per-query JSON is
  *    ~8 KB — its opening brace never lands in that window, which is
  *    why rounds 1-3 recorded `parsed: null`. So after the full line
  *    (the repo record), the FINAL stdout act is a compact summary
  *    line — same `metric`/`value`/`unit`/`sf` keys, `queries`
  *    trimmed to the slowest few — guaranteed to sit complete inside
  *    the tail window.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt
    val spark = Sessions.build(cpus.toInt, confOverrides: _*)
    spark.sparkContext.setLogLevel("WARN")
    // ADVICE r12: codegen.cache.maxEntries is a STATIC conf — builder
    // configs are silently ignored when getOrCreate finds an existing
    // session (e.g. an sbt-hosted JVM that already started one). Log
    // the EFFECTIVE values so such a run is detectable in the record.
    System.err.println("[bench] effective conf: bypassMergeThreshold=" +
      spark.conf.get("spark.shuffle.sort.bypassMergeThreshold", "?") +
      " codegen.cache.maxEntries=" +
      spark.conf.get("spark.sql.codegen.cache.maxEntries", "?") +
      " shuffle.partitions=" +
      spark.conf.get("spark.sql.shuffle.partitions", "?"))

    // r13 (VERDICT item 2): wipe this corpus's landed artifacts so the
    // warmup pass re-derives every one from the parquet inputs and
    // their first-land cost is measured + disclosed ("landings" key).
    // Timed per-query numbers keep their documented meaning (pure
    // reads of a landed artifact); what changes is that the landing
    // now verifiably happens INSIDE this bench invocation.
    graft.sources.Landing.reset(sfDir)

    def runOnce(fn: (SparkSession, String) => DataFrame): Either[String, Double] =
      try timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      finally spark.catalog.clearCache()

    // Untimed warmup: JIT-compiles codegen stages and caches parquet
    // footers so the timed passes measure the plans, not JVM startup.
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1")
      selected.foreach { case (_, fn) => runOnce(fn) }

    // N full passes over the suite (not N back-to-back repeats of each
    // query): each query's samples are separated by a whole pass, so a
    // host-contention window cannot cover all of them.
    val t0 = System.nanoTime()
    val passes = (1 to nRuns).map { _ =>
      selected.map { case (name, fn) => name -> runOnce(fn) }
    }
    val (results, failed, total) = summarize(passes, (System.nanoTime() - t0) / 1e9)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def names(ns: Seq[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    // First-land seconds per artifact (paid once, during warmup, after
    // the reset above) — disclosed so artifact-backed queries' timed
    // read-only numbers cannot be mistaken for their pipeline costs.
    val landings = {
      import scala.jdk.CollectionConverters._
      graft.sources.Landing.timings.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"landings":$landings,"failed":${names(failed.keys.toSeq.sorted)},"sf":"$sfDir","runs":$nRuns,"estimator":"min-of-passes","materialize":"noop"}"""
    println(json)
    // The repo record covers the FULL surface only — a targeted
    // SPARK_GRAFT_QUERIES subset run must not clobber it. An explicit
    // SPARK_GRAFT_BENCH_OUT redirects the record (e.g. BENCH_K10.json
    // for the magnitude-probe engine bench) and always writes.
    val benchOut: Option[String] = sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(out)
          if Paths.get(out).getFileName.toString == "BENCH_LOCAL.json" &&
            sys.env.contains("SPARK_GRAFT_QUERIES") =>
        // A subset run must never clobber the full-surface repo record,
        // even via an explicit BENCH_OUT pointed back at it.
        System.err.println(
          "refusing SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL.json with a " +
            "SPARK_GRAFT_QUERIES subset set; choose another path")
        None
      case Some(out) =>
        Files.writeString(Paths.get(out), json + "\n"); Some(out)
      case None if sys.env.get("SPARK_GRAFT_QUERIES").isEmpty =>
        Files.writeString(Paths.get("BENCH_LOCAL.json"), json + "\n")
        Some("BENCH_LOCAL.json")
      case None => None
    }
    spark.stop()
    // Compact summary as the very last stdout line (post-stop so no
    // shutdown logging can follow it on stdout): fits the driver's
    // 2000-char tail capture with room to spare.
    val slowest = results.filterNot(r => failed.contains(r._1)).sortBy(-_._2).take(15)
      .map { case (k, v) => f""""$k":${v}%.3f""" }.mkString("{", ",", "}")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"queries":$slowest,"queries_note":"slowest 15 of ${results.size}; full map in ${benchOut.getOrElse("stdout only (unsaved subset run)")}","landings":$landings,"failed":${names(failed.keys.toSeq.sorted.take(20))},"n_failed":${failed.size},"sf":"$sfDir","runs":$nRuns,"estimator":"min-of-passes","materialize":"noop"}""")
  }

  /** The declared queries in name order (deterministic, comparable
    * across rounds), or the optional SPARK_GRAFT_QUERIES subset
    * (comma-separated names) for targeted work; left unset, a run
    * covers every query. */
  private[graft] def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val want = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.filter { case (n, _) => want.forall(_(n)) }.sortBy(_._1)
  }

  /** Optional config overrides for A/B perf experiments
    * (SPARK_GRAFT_CONF="k=v;k=v"); left unset, a run measures the
    * declared defaults. */
  private[graft] def confOverrides: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }

  /** First line of a throwable's message (its class name if it has none). */
  private[graft] def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.find(_.trim.nonEmpty))
      .getOrElse(e.getClass.getName)

  /** Seconds `body` took, or its first error line if it threw. */
  private[graft] def timed(body: => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { body; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(firstLine(e)) }
  }

  /** Per-query seconds (min over passes, name order kept), the queries
    * that threw in any pass (name → first error line) and the total. A
    * query that threw is charged at least `wallS`, the wall time of
    * all timed passes — the perfbench `charged` rule — so a query that
    * starts to throw can never make the total smaller. */
  private[graft] def summarize(passes: Seq[Seq[(String, Either[String, Double])]],
      wallS: Double): (Seq[(String, Double)], Map[String, String], Double) = {
    val samples = passes.flatten
    val failed = samples.collect { case (n, Left(err)) => n -> err }.reverse.toMap
    val seconds = samples.map(_._1).distinct.map { n =>
      val ok = samples.collect { case (`n`, Right(s)) => s }
      val best = if (ok.isEmpty) 0.0 else ok.min
      n -> (if (failed.contains(n)) math.max(best, wallS) else best)
    }
    (seconds, failed, seconds.map(_._2).sum)
  }
}
