package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs; sf0.001 testdata for speed. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.build(4, "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
