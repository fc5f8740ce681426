package graft.perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Local property naming the op (workload/pass/op[#phase]) whose call
  * started a Spark job. Set by the harness before every call. */
object Group {
  val Key = "perfbench.op"
}

/** The listener every run registers: rows read and written per op group,
  * one map update per finished task. The traced run registers `Trace`,
  * which extends it. */
class Counters extends SparkListener {
  protected val stageGroup = new ConcurrentHashMap[Int, String]()
  val rows = new ConcurrentHashMap[String, Array[Long]]()

  protected def group(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Group.Key))).getOrElse("")

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, group(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    val acc = rows.computeIfAbsent(stageGroup.getOrDefault(e.stageId, ""), _ => new Array[Long](2))
    acc.synchronized {
      acc(0) += m.inputMetrics.recordsRead
      acc(1) += m.outputMetrics.recordsWritten
    }
  }
}

/** Traced run only: spans the harness opens around its calls into each
  * layer, plus what Spark's own listeners report (jobs, stages, tasks,
  * query planning phases and rules). Everything is kept in memory and
  * written once when the run ends. */
class Trace extends Counters with QueryExecutionListener {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private var nextId = 0L
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Times `body` as a span whose parent is the span open around it on
    * this thread (0 for a root). `op` is the workload/pass/op id. */
  def span[A](name: String, op: String)(body: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.get.headOption.getOrElse(0L)
    open.set(id :: open.get)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      open.set(open.get.tail)
      spans.add(Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
        "start_ms" -> t0, "end_ms" -> System.currentTimeMillis()))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, (group(e.properties), e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      jobs.add(Map("job" -> e.jobId, "group" -> g, "start_ms" -> t0, "end_ms" -> e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map("stage" -> s.stageId, "group" -> stageGroup.getOrDefault(s.stageId, ""),
      "start_ms" -> s.submissionTime.getOrElse(0L), "end_ms" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    super.onTaskEnd(e)
    Option(e.taskMetrics).foreach { m =>
      val sr = m.shuffleReadMetrics
      tasks.add(Map("stage" -> e.stageId, "group" -> stageGroup.getOrDefault(e.stageId, ""),
        "start_ms" -> e.taskInfo.launchTime, "end_ms" -> e.taskInfo.finishTime,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "deser_ms" -> m.executorDeserializeTime, "gc_ms" -> m.jvmGCTime,
        "in_bytes" -> m.inputMetrics.bytesRead,
        "shuffle_read" -> (sr.localBytesRead + sr.remoteBytesRead),
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> Map("start_ms" -> p.startTimeMs,
      "end_ms" -> p.endTimeMs) }
    val rules = qe.tracker.rules.filter(_._2.totalTimeNs > 0)
      .map { case (k, r) => k -> r.totalTimeNs }
    val plan = qe.executedPlan
    queries.add(Map("func" -> funcName, "end_ms" -> System.currentTimeMillis(),
      "duration_ms" -> durationNs / 1e6, "phases" -> phases, "rules_ns" -> rules,
      "exchanges" -> PlanWalk.collect(plan) { case x: ShuffleExchangeLike => x }.size,
      "codegen_stages" -> PlanWalk.collect(plan) { case w: WholeStageCodegenExec => w }.size))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def record: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq, "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
    "queries" -> queries.asScala.toSeq)
}

/** Walks adaptive plans and their query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper
