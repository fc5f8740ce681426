package graft

/** Ad-hoc plan-inspection / parity-triage harness (dev tooling, NOT
  * part of the engine surface — lives under src/test so non-test LoC
  * counts only engine code; run it via scripts/run_main.sh, whose
  * classpath includes test-classes). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // the recursive-CTE oracles (k-hop, PageRank) unroll past the
    // 1M-row default at sf0.01 — a limit, not a semantics change
    val spark = Sessions.build(cpus.toInt, "spark.sql.cteRecursionRowLimit" -> "100000000")
    spark.sparkContext.setLogLevel("ERROR")
    // plan captures must reflect the bench SF (plans/r12 evidence), so
    // the explain path honors the same env the bench reads
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if (args.headOption.exists(_.startsWith("translate"))) {
      // print the SqlTranslate output for a named oracle (debug aid
      // for the parity sweeps); "translate4" uses the len-as-length
      // reading. With a third arg "run", also executes it and diffs
      // against the DataFrame result.
      val name = args(1)
      val text = SqlTranslate(SparkEntry.oracleSql(name),
        lenIsLength = args.head == "translate4")
      println(text)
      if (args.length > 2 && args(2) == "run") {
        Tables.createViews(spark, d)
        val viaSql = spark.sql(text).collect().map(_.toString).sorted
        val viaApi = SparkEntry.queries(name)(spark, d).collect().map(_.toString).sorted
        println(s"rows sql=${viaSql.length} api=${viaApi.length}")
        viaApi.zipAll(viaSql, "<none>", "<none>").filter(p => p._1 != p._2)
          .take(10).foreach { case (a, b) => println(s"API $a\nSQL $b") }
      }
      spark.stop(); return
    }
    if (args.headOption.contains("sqlscan")) {
      // Triage for the SQL-parity sweep: which declared queries' DuckDB
      // oracle texts ALREADY run verbatim (or nearly) through spark.sql
      // over the registered views and match the DataFrame result?
      Tables.createViews(spark, d)
      val skip = args.drop(1).toSet
      SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
        if (!skip.contains(name)) {
          try {
            // each chance returns a status; the chain stops at the
            // first PASS and otherwise reports the best variant tried
            // (a DIFF at chance 1 still tries the deeper rewrites —
            // e.g. the 1-based-index class RUNS verbatim with silently
            // wrong values and only passes after element_at rewriting)
            def run(s: String, tag: String): String = {
              val viaSql = spark.sql(s)
              val viaApi = SparkEntry.queries(name)(spark, d)
              if (viaApi.columns.toSeq != viaSql.columns.toSeq) s"COLS$tag $name"
              else {
                val a = viaApi.collect().map(_.toString).sorted
                val b = viaSql.collect().map(_.toString).sorted
                if (a.sameElements(b)) s"PASS$tag $name" else s"DIFF$tag $name"
              }
            }
            val div = SqlTranslate.replaceOutside(sql, "//", " div ")
            val full = SqlTranslate(sql)
            val full2 = SqlTranslate(sql, lenIsLength = true)
            val variants = (sql, "  ") ::
              (if (div != sql) List((div, "2 ")) else Nil) ++
              (if (full != div) List((full, "3 ")) else Nil) ++
              (if (full2 != full) List((full2, "4 ")) else Nil)
            val results = new scala.collection.mutable.ListBuffer[String]
            var done = false
            for ((s, tag) <- variants if !done) {
              try {
                val r = run(s, tag)
                results += r
                if (r.startsWith("PASS")) done = true
              } catch { case e: Throwable => results += s"THREW$tag " +
                Option(e.getMessage).getOrElse("").linesIterator
                  .filter(_.trim.nonEmpty).take(1).mkString.take(200) }
            }
            println(results.find(_.startsWith("PASS"))
              .orElse(results.find(_.startsWith("DIFF")))
              .orElse(results.find(_.startsWith("COLS")))
              .getOrElse(s"ERR   $name: ${results.lastOption.getOrElse("")}"))
          } catch {
            case e: Throwable =>
              val m = Option(e.getMessage).getOrElse("").linesIterator
                .filter(_.trim.nonEmpty).take(1).mkString.take(200)
              println(s"ERR   $name: $m")
          } finally spark.catalog.clearCache()
        }
      }
    } else if (args.headOption.contains("sqlone")) {
      // sqlone <name>: run the translated oracle through spark.sql and
      // print the first few differing rows vs the DataFrame result
      Tables.createViews(spark, d)
      val name = args(1)
      val sql = SqlTranslate(SparkEntry.oracleSql(name),
        lenIsLength = args.length > 2 && args(2) == "len")
      println(s"----- translated SQL -----\n$sql\n--------------------------")
      val viaApi = SparkEntry.queries(name)(spark, d)
      val viaSql = spark.sql(sql)
      println(s"cols api=${viaApi.columns.mkString(",")} sql=${viaSql.columns.mkString(",")}")
      val a = viaApi.collect().map(_.toString).sorted
      val b = viaSql.collect().map(_.toString).sorted
      println(s"rows api=${a.length} sql=${b.length}")
      val onlyA = a.diff(b).take(5)
      val onlyB = b.diff(a).take(5)
      println(s"only-in-api:\n${onlyA.mkString("\n")}")
      println(s"only-in-sql:\n${onlyB.mkString("\n")}")
    } else if (args.headOption.contains("run")) {
      // run <sfDir> <outDir> <query...>: dump selected queries only
      // (graft.Verify always runs the full surface; targeted A/B work
      // on one rewritten operator shouldn't pay for 295)
      val sfDir = args(1)
      val outDir = args(2)
      for (name <- args.drop(3)) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        spark.catalog.clearCache()
        println(s"[scratch] wrote $outDir/$name")
      }
    } else if (args.headOption.contains("execplan")) {
      // execplan <name...>: EXECUTE the query (noop-style: collect and
      // discard), then print the FINAL adaptive plan — the only view
      // that shows AQE's runtime decisions (ReusedExchange dedup,
      // AQEShuffleRead coalescing, join-strategy rewrites), which the
      // pre-execution explain("formatted") cannot.
      for (name <- args.drop(1)) {
        println(s"===== $name (final adaptive plan) =====")
        val df = SparkEntry.queries(name)(spark, d)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
        spark.catalog.clearCache()
      }
    } else {
      for (name <- args) {
        println(s"===== $name =====")
        SparkEntry.queries(name)(spark, d).explain("formatted")
      }
    }
    spark.stop()
  }
}
