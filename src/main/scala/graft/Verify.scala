package graft
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (scripts/check_oracle.py), and
  * failed.json (query → first error line; `{}` when every query ran). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ByteType, FloatType, IntegerType, ShortType}
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    Bench.selected.foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        // Width-normalize the dump so the DuckDB compare sees the same
        // physical types it produces itself (count/len/row_number are
        // BIGINT there, Spark's size()/row_number are INT): values are
        // unchanged, only parquet width.
        val normalized = out.select(out.schema.fields.map(f => f.dataType match {
          case IntegerType | ShortType | ByteType => col(f.name).cast("long").as(f.name)
          case FloatType => col(f.name).cast("double").as(f.name)
          case _ => col(f.name)
        }).toIndexedSeq: _*)
        normalized.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Bench.firstLine(e)
      } finally spark.catalog.clearCache() // drop per-query persisted subtrees
    }
    // Jackson escapes every control char a builder-authored SQL text
    // may hold — one bad escape would make json.load of the file fail
    // and silently zero the correctness check.
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("oracle_sql.json" -> SparkEntry.oracleSql, "failed.json" -> failed).foreach {
      case (file, m) => json.writeValue(new java.io.File(s"$outDir/$file"), m.asJava)
    }
    spark.stop()
  }
}
