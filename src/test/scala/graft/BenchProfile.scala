package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Perf-triage harness (dev tooling, NOT part of the engine surface —
  * lives under src/test like Scratch). Runs each named query exactly
  * like graft.Bench (noop sink, clearCache between) but with a
  * listener that attributes executor-side metrics to the query:
  *
  *   wall      — driver wall-clock for the noop save (what Bench times)
  *   task_s    — sum of task run times (executor compute incl. fetch)
  *   gc_s      — sum of JVM GC time inside tasks
  *   sh_read   — shuffle bytes read   (local + remote)
  *   sh_write  — shuffle bytes written
  *   jobs/stages/tasks — scheduling footprint
  *
  * wall >> task_s/cores  => scheduling / planning / driver overhead;
  * task_s ~ wall * cores => genuinely compute-bound.
  *
  *   SPARK_GRAFT_SF_DIR=... scripts/run_main.sh graft.BenchProfile q_a q_b
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // configs and SPARK_GRAFT_CONF A/B overrides exactly as Bench
    val spark = Sessions.build(cpus.toInt, Bench.confOverrides: _*)
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTime = new AtomicLong // ms
    val gcTime = new AtomicLong // ms
    val shRead = new AtomicLong
    val shWrite = new AtomicLong
    val stageDetail = sys.env.get("SPARK_GRAFT_STAGES").contains("1")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (stageDetail) {
          val i = s.stageInfo
          val m = i.taskMetrics
          println(f"  stage ${i.stageId}%4d tasks=${i.numTasks}%4d " +
            f"run=${m.executorRunTime / 1e3}%7.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
            f"deser=${m.executorDeserializeTime / 1e3}%6.2f gc=${m.jvmGCTime / 1e3}%5.2f " +
            f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1f " +
            f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.1f  ${i.name.take(60)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskTime.addAndGet(m.executorRunTime)
          gcTime.addAndGet(m.jvmGCTime)
          shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // one untimed warmup pass (JIT + footer cache), like Bench
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      spark.catalog.clearCache()
    }
    println(f"${"query"}%-28s ${"wall"}%7s ${"task_s"}%7s ${"gc_s"}%6s " +
      f"${"jobs"}%5s ${"stgs"}%5s ${"tasks"}%6s ${"shR_MB"}%7s ${"shW_MB"}%7s")
    names.foreach { n =>
      // settle, then zero the counters (listener bus is async; a short
      // sleep after the previous action is enough at this scale)
      Thread.sleep(150)
      jobs.set(0); stages.set(0); tasks.set(0)
      taskTime.set(0); gcTime.set(0); shRead.set(0); shWrite.set(0)
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); true
        } catch { case _: Throwable => false }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(150)
      spark.catalog.clearCache()
      if (ok)
        println(f"$n%-28s $wall%7.3f ${taskTime.get / 1e3}%7.2f " +
          f"${gcTime.get / 1e3}%6.2f ${jobs.get}%5d ${stages.get}%5d " +
          f"${tasks.get}%6d ${shRead.get / 1e6}%7.1f ${shWrite.get / 1e6}%7.1f")
      else println(f"$n%-28s FAILED")
    }
    spark.stop()
  }
}
