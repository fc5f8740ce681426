package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, FloatType, IntegerType, ShortType}

import graft.{SparkEntry, Tables}
import graft.ops._
import graft.sinks.{Sinks, TxTable}
import graft.sources._

/** One benchmark run of one workload, in one JVM, as one closed-loop
  * client: set up once (JVM start until the session is built and every
  * table resolved), run the op list once cold, then the JIT warm-up
  * passes, then warm passes until `seconds` have gone by (and the op
  * percentiles have their samples), then one untimed pass that writes
  * every output for the DuckDB check. Writes a raw record;
  * perfbench/run.py turns it into metrics, so all the arithmetic lives
  * in one tested place.
  *
  * Arguments are `--key value` pairs: workload, corpus, ops (comma list),
  * verify_ops (queries that read the landed artifacts back), seconds,
  * trace (0|1), min_samples, min_passes (warm), warmup_passes (run after
  * the cold pass, not counted as warm), out (record path), verify (output
  * dir, or empty for no output pass), work (scratch dir for landings and
  * the daily cycle). */
object Main {
  val tableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  /** Landing entry points, by artifact. Each call lands the artifact iff
    * it is not landed for the corpus yet. */
  val artifacts: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "lift_edges_v2" -> Mining.liftEdges _,
    "lsh_pairs_v2" -> Quality.neardupPairs _,
    "ngram_pairs_v2" -> Quality.exactJaccardPairs _,
    "embed_pairs_v2" -> Similarity.embedNeardupPairs _,
    "own_pairs_v2" -> Mining.ownPairs _,
    "perceptron_w_v1" -> Classifier.weightsTable _,
    "dedup_clusters_v1" -> DedupClusters.ensureClustersView _,
    "bin_ingest_v1" -> Multimodal.qBinaryIngest _,
    "orc_cfg" -> OrcSource.qOrcRoundtrip _,
    "json_cfg" -> JsonSource.qJsonConfig _,
    "csv_cfg" -> CsvSource.qCsvConfig _,
    "text_lines" -> TextSource.qTextLines _,
    "xml_cfg" -> XmlSource.qXmlConfig _,
    "part_orders" -> PartitionedSource.qPartitionPrune _)

  /** One timed call of a pass. `sample` is false for a call that is part
    * of the pass but not an op of the workload (`Landing.reset`): its time
    * counts in the pass, not in the op percentiles. */
  final case class Op(name: String, run: String => Unit, sample: Boolean = true)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    new Run(a).execute()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".linesIterator
      .nextOption().getOrElse("").take(300)
}

private class Run(a: Map[String, String]) {
  import Main._

  private val workload = a("workload")
  private val corpus = a("corpus")
  private val opNames = a("ops").split(",").filter(_.nonEmpty).toSeq
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val minSamples = a("min_samples").toInt
  private val minPasses = a("min_passes").toInt
  private val warmupPasses = a("warmup_passes").toInt
  private val work = a("work")
  private val verifyDir = a("verify")
  private val cores = Runtime.getRuntime.availableProcessors()

  private val counters = if (traced) new Trace else new Counters
  private val trace = Some(counters).collect { case t: Trace => t }
  private var spark: SparkSession = _

  private def span[A](name: String, op: String)(body: => A): A =
    trace.fold(body)(_.span(name, op)(body))

  private def group[A](g: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty(Group.Key, g)
    try body finally spark.sparkContext.setLocalProperty(Group.Key, null)
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the three engine configs graft.Bench sets
      .config("spark.shuffle.sort.bypassMergeThreshold", 2)
      .config("spark.sql.codegen.cache.maxEntries", 10000)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // isolation: every file the run leaves stays under its work dir
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(counters)
    trace.foreach(s.listenerManager.register)
    s
  }

  /** From JVM start: session and table resolution (what a cron run pays
    * before its first op; no workload reads a landing in set-up). */
  private def setUp(): Map[String, Any] = {
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    val id = s"$workload/setup"
    span("setup", id) {
      spark = span("session.build", id)(session())
      def resolveAll(): (Double, Seq[DataFrame]) = {
        val r0 = System.nanoTime()
        val frames = tableNames.map(Tables.table(spark, corpus, _)) :+ Tables.events(spark, corpus)
        ((System.nanoTime() - r0) / 1e9, frames)
      }
      val (coldS, first) = span("Tables.resolve", id)(resolveAll())
      val (warmS, second) = span("Tables.resolve", id)(resolveAll())
      val hits = first.zip(second).count { case (x, y) => x eq y }
      Map("setup_s" -> (System.currentTimeMillis() - t0) / 1e3,
        "resolve_cold_s" -> coldS, "resolve_warm_s" -> warmS,
        "memo_hits" -> hits, "memo_lookups" -> second.size)
    }
  }

  private def artifact(name: String): (SparkSession, String) => Any =
    artifacts.find(_._1 == name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"unknown artifact $name"))

  private def query(name: String): Op = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    Op(name, id => {
      val df = span("SparkEntry.build", id)(group(s"$id#build")(fn(spark, corpus)))
      span("ops.execute", id)(group(s"$id#exec")(
        df.write.format("noop").mode("overwrite").save()))
      spark.catalog.clearCache()
    })
  }

  private def events(lo: String, hi: String): DataFrame = Tables.events(spark, corpus)
    .filter(col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp"))
    .select("event_id", "ts", "user_id", "event_type", "value")

  /** The next day's window, 2024-01-10 12:00 to 2024-01-11 12:00, split
    * by the day partitions of the dated sink it lands in. */
  private val overlap = Seq(("20240110", "2024-01-10 12:00:00", "2024-01-11 00:00:00"),
    ("20240111", "2024-01-11 00:00:00", "2024-01-11 12:00:00"))

  /** The daily landing cycle, one step per op: the date-partitioned
    * landing of 2024-01-10; the skip-if-exists append of the overlapping
    * next-day window; a TxTable commit; the verify-then-delete move; the
    * read back. The append goes to each day's partition directory, as the
    * reference checks existence under each day's `bucket/{YYYYMMDD}/`
    * prefix: `appendNew` writes flat files, and flat files in the root of
    * a partitioned directory are not read back (see `rootAppendProbe`). */
  private def cycleOps: Seq[Op] = {
    def dir = passDir
    Seq(
      layerOp("cycle.write_date_partitioned", "sinks.Sinks.writeDatePartitioned")(
        Sinks.writeDatePartitioned(events("2024-01-10 00:00:00", "2024-01-11 00:00:00"),
          s"$dir/dated")),
      layerOp("cycle.append_overlap", "sinks.Sinks.appendNew")(overlap.foreach {
        case (day, lo, hi) =>
          Sinks.appendNew(spark, events(lo, hi), "event_id", s"$dir/dated/date_part=$day")
      }),
      layerOp("cycle.tx_append", "sinks.TxTable.append")(
        TxTable.append(spark.read.parquet(s"$dir/dated"), s"$dir/tx")),
      layerOp("cycle.move_verified", "sinks.Sinks.moveVerified") {
        val (moved, deleted) = Sinks.moveVerified(spark, s"$dir/dated", s"$dir/dest")
        val committed = TxTable.read(spark, s"$dir/tx").count()
        if (!deleted || moved != committed)
          throw new IllegalStateException(s"moved $moved rows, committed $committed, deleted $deleted")
      },
      layerOp("cycle.tx_read", "sinks.TxTable.read") {
        TxTable.read(spark, s"$dir/tx").write.format("noop").mode("overwrite").save()
        TxTable.readPruned(spark, s"$dir/tx", "ts", java.sql.Timestamp.valueOf("2024-01-11 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-11 06:00:00")).write.format("noop").mode("overwrite").save()
      })
  }

  /** An op whose whole call is one span of the layer it enters. */
  private def layerOp(name: String, layer: String, sample: Boolean = true)(body: => Any): Op =
    Op(name, id => span(layer, id)(body), sample)

  private var passDir = ""

  private def ops: Seq[Op] = workload match {
    case "land" =>
      layerOp("Landing.reset", "sources.Landing.reset", sample = false)(Landing.reset(corpus)) +:
        (opNames.map(n => layerOp(s"land.$n", s"sources.land.$n")(artifact(n)(spark, corpus))) ++
          cycleOps)
    case _ => opNames.map(query)
  }

  private def runPass(pass: Int, list: Seq[Op]): Map[String, Any] = {
    passDir = s"$work/cycle/$pass"
    val p0 = System.nanoTime()
    val j0 = cpuJiffies
    val gc0 = gcMillis
    val cg0 = CodeGenerator.compileTime
    val samples = list.map { op =>
      val id = s"$workload/$pass/${op.name}"
      val start = System.currentTimeMillis()
      val cg = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val err = span("op", id) {
        try { group(id)(op.run(id)); None } catch { case e: Throwable => Some(firstLine(e)) }
      }
      Map("op" -> op.name, "id" -> id, "sample" -> op.sample, "start_ms" -> start,
        "s" -> (System.nanoTime() - t0) / 1e9, "error" -> err,
        "codegen_s" -> (CodeGenerator.compileTime - cg) / 1e9)
    }
    val wall = (System.nanoTime() - p0) / 1e9
    if (pass > 1) deleteRecursively(new File(s"$work/cycle/${pass - 1}"))
    Map("pass" -> pass, "s" -> wall, "ops" -> samples, "gc_s" -> (gcMillis - gc0) / 1e3,
      "steal_share" -> stealShare(j0, cpuJiffies),
      "codegen_compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9)
  }

  /** (steal, total) jiffies of all CPUs since boot, from /proc/stat. */
  private def cpuJiffies: Option[(Long, Long)] =
    scala.util.Using(scala.io.Source.fromFile("/proc/stat")) { src =>
      val v = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      (v(7), v.sum)
    }.toOption

  /** Share of CPU time the hypervisor gave to other guests between two
    * cpuJiffies readings, or -1 where /proc/stat is not readable. */
  private def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => -1.0
    }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Seconds each output of the check took to write, by name. */
  private val verifyTimes = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** Untimed: writes every op's output where the DuckDB check reads it. */
  private def verify(): Map[String, String] = {
    def dump(name: String, df: => DataFrame): Option[(String, String)] = {
      val t0 = System.nanoTime()
      try write(name, df) finally verifyTimes(name) = (System.nanoTime() - t0) / 1e9
    }
    def write(name: String, df: => DataFrame): Option[(String, String)] = try {
      val out = df.select(df.schema.fields.toIndexedSeq.map(f => f.dataType match {
        case IntegerType | ShortType | ByteType => col(f.name).cast("long").as(f.name)
        case FloatType => col(f.name).cast("double").as(f.name)
        case _ => col(f.name)
      }): _*)
      out.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$name")
      None
    } catch { case e: Throwable => Some(name -> firstLine(e)) }
    finally spark.catalog.clearCache()
    val queries = if (workload == "land") a("verify_ops").split(",").filter(_.nonEmpty).toSeq
      else opNames
    val errs = queries.flatMap(n => dump(n, SparkEntry.queries(n)(spark, corpus)))
    val cycle = if (workload != "land") Nil else Seq(
      dump("cycle.tx_read", TxTable.read(spark, s"$passDir/tx").orderBy("event_id")),
      dump("cycle.dest", spark.read.parquet(s"$passDir/dest").orderBy("event_id"))).flatten
    (errs ++ cycle).toMap
  }

  /** Untimed, `land` only: the cycle's first two steps with the append
    * aimed at the dated sink's root instead of its day partition. Rows
    * landed against rows the sink reads back; the two differ while
    * `appendNew`'s flat files are invisible to the partitioned read. */
  private def rootAppendProbe(): Map[String, Long] = {
    val d = s"$work/probe"
    val day = events("2024-01-10 00:00:00", "2024-01-11 00:00:00")
    Sinks.writeDatePartitioned(day, d)
    val appended = Sinks.appendNew(spark, events("2024-01-10 12:00:00", "2024-01-11 12:00:00"),
      "event_id", d)
    Map("landed" -> (day.count() + appended), "read_back" -> spark.read.parquet(d).count())
  }

  /** Files, bytes and log size of the cycle's committed table (traced). */
  private def sinkFacts(): Map[String, Any] = {
    val tx = s"$passDir/tx"
    val files = TxTable.files(spark, tx)
    def size(f: File): Long = if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
      else f.length
    Map("files" -> files.size, "data_bytes" -> files.map(f => new File(s"$tx/$f").length).sum,
      "log_bytes" -> size(new File(s"$tx/_txlog")), "rows" -> TxTable.read(spark, tx).count(),
      "commits" -> TxTable.commits(spark, tx).size)
  }

  /** Traced land only: each native function the landing pipelines use,
    * alone over corpus rows. */
  private def kernels(): Map[String, Any] = {
    graft.functions.GraftFunctions.register(spark)
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, corpus).select("text")
    val emb = Tables.embeddings(spark, corpus)
      .select(col("embedding").cast("array<double>").as("e"))
      .crossJoin(spark.range(20)).select("e")
    val li = Tables.lineitem(spark, corpus)
    val ev = Tables.events(spark, corpus)
    val cases: Seq[(String, DataFrame)] = Seq(
      "vec_dot" -> emb.selectExpr("vec_dot(e, e) AS v"),
      "word_shingles" -> docs.selectExpr("size(word_shingles(text, 3)) AS v"),
      "minhash8" -> docs.selectExpr("minhash8(text, 3) AS v"),
      "shingle_min_max_md5" -> docs.selectExpr("shingle_minmax_md5(text, 5) AS v"),
      "zorder16" -> li.selectExpr("zorder16(l_partkey, l_suppkey) AS v"),
      "topk" -> li.select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber").cast("long"))
        .as[(Long, Double, Long)].groupByKey(_._1)
        .agg(new graft.functions.TopKAggregator[(Long, Double, Long)](3, r => (r._2, r._3)).toColumn)
        .toDF(),
      "cms" -> ev.select(col("user_id")).as[Long]
        .select(new graft.functions.CmsAggregator(5, 8192, 42).toColumn).toDF())
    val inputRows = Map("vec_dot" -> emb.count(), "word_shingles" -> docs.count(),
      "minhash8" -> docs.count(), "shingle_min_max_md5" -> docs.count(),
      "zorder16" -> li.count(), "topk" -> li.count(), "cms" -> ev.count())
    cases.map { case (name, df) =>
      val runs = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        span(s"functions.$name", s"$workload/kernels/$name")(
          df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }
      name -> Map("rows" -> inputRows(name), "s" -> runs)
    }.toMap
  }

  /** Heap in use after full GCs, repeated until it settles: Spark's
    * cleaner frees blocks of collected broadcasts and shuffles only after
    * a GC has found them unreachable. */
  private def liveHeap(): java.lang.management.MemoryUsage = {
    val mem = ManagementFactory.getMemoryMXBean
    var prev = Long.MaxValue
    var cur = mem.getHeapMemoryUsage
    var i = 0
    while (i < 10 && prev - cur.getUsed > (1L << 20)) {
      prev = cur.getUsed
      System.gc()
      Thread.sleep(150)
      cur = mem.getHeapMemoryUsage
      i += 1
    }
    cur
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def execute(): Unit = {
    val setup = setUp()
    val list = ops
    val passes = ArrayBuffer(runPass(0, list))
    // passes the JIT is still warming up in; not counted as warm
    while (passes.size <= warmupPasses) passes += runPass(passes.size, list)
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    def warm = passes.size - 1 - warmupPasses
    // warm passes: at least the run length, the workload's pass count (a
    // fixed count keeps the median at the same point of JIT warm-up) and
    // enough op samples for the highest reported percentile, within a
    // hard cap on the run
    def more = warm < minPasses || elapsed < seconds || warm * list.count(_.sample) < minSamples
    while (more && elapsed < 6 * seconds) passes += runPass(passes.size, list)
    val sinks = if (traced && workload == "land") sinkFacts() else Map.empty
    val kern = if (traced && workload == "land") kernels() else Map.empty
    val v0 = System.nanoTime()
    val verifyErrors = if (verifyDir.isEmpty) Map.empty else verify()
    val verifyS = (System.nanoTime() - v0) / 1e9
    Bus.drain(spark)
    val heap = liveHeap()
    val probe = if (workload == "land") rootAppendProbe() else Map.empty
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.shuffle.") || k == "spark.master" ||
        k == "spark.local.dir" }
    val rec = Map(
      "workload" -> workload, "cores" -> cores, "ops" -> list.map(_.name),
      "warmup_passes" -> warmupPasses,
      "setup" -> setup, "passes" -> passes, "verify_errors" -> verifyErrors,
      "root_append_probe" -> probe,
      "rows" -> counters.rows.asScala.map { case (k, v) => k -> v.toSeq },
      "live_heap_mb" -> heap.getUsed / 1048576.0, "max_heap_mb" -> heap.getMax / 1048576.0,
      "verify_s" -> verifyS, "verify_times_s" -> verifyTimes,
      "conf" -> conf, "spark_version" -> spark.version,
      "sinks" -> sinks, "kernels" -> kern,
      "trace" -> trace.map(_.record))
    spark.stop()
    Files.writeString(Paths.get(a("out")), json(rec))
  }
}

/** Waits until Spark's listener bus has delivered every event, so the
  * record holds all of them. The bus is not public API; reached once at
  * the end of the run, outside every timed window. */
private object Bus {
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
