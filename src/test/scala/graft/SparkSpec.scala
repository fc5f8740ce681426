package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs; sf0.001 testdata for speed. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh temporary directory, deleted with everything under it
    * once the suite has run. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => SparkSpec.deleteRecursively(d))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh_").toFile
    sys.addShutdownHook(deleteRecursively(warehouse))
    val s = Sessions.build(4, "spark.sql.warehouse.dir" -> warehouse.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Runs `body` and returns the number of Spark jobs it started. The
    * jobs are told apart by a job group set on this thread only (Spark
    * hands it on to the threads a query starts), so suites running at
    * the same time on the shared session do not add theirs. */
  def jobsOf(body: => Any): Int = {
    val sc = session.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      // the listener bus is not public API: wait until it has
      // delivered every job start before reading the count
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      sc.removeSparkListener(counter)
    }
    n.get
  }
}
