package graft

import org.apache.spark.sql.functions._

/** Dev-only profiling harness for the nearDupGate stage volumes
  * (not a declared component; lives in test tree). */
object GateProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.1"
    val spark = Sessions.build(32, "spark.sql.autoBroadcastJoinThreshold" -> "64m")
    spark.sparkContext.setLogLevel("WARN")
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$tag: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }
    val gate = graft.streaming.Streams.nearDupGate(spark, corpus, corpus)
    t("warm batch-equivalent")(gate.count())
    (1 to 3).foreach(i => t(s"batch-equivalent pass $i")(
      gate.dropDuplicates("new_doc", "index_doc").write.format("noop").mode("overwrite").save()))
    gate.explain("formatted")
    spark.stop()
  }
}
