package graft

import org.apache.spark.sql.functions._

import graft.plans.VecDotRewrite

/** The optimizer rule: declarative aggregate(zip_with) dot products
  * are rewritten to the native VecDot, results unchanged. */
class VecDotRewriteSpec extends SparkSpec {

  private val fold =
    "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"

  test("rule rewrites the fold idiom to vec_dot and preserves results") {
    import spark.implicits._
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ VecDotRewrite
    try {
      // parquet-backed so constant folding can't collapse the plan
      val df = Tables.embeddings(spark, sfDir)
        .select(expr("CAST(embedding AS ARRAY<DOUBLE>)").as("a"))
        .withColumn("b", col("a"))
      val q = df.select(expr(fold).as("dot"))
      assert(q.queryExecution.optimizedPlan.toString.contains("vec_dot"))
      val native = q.collect().map(_.getDouble(0))
      val lit = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
        .select(expr(fold)).collect().head.getDouble(0)
      assert(lit == 32.0) // rule or not, semantics hold on literals too
      assert(native.forall(_ >= 0.0)) // self dot products
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == VecDotRewrite)
    }
  }

  test("rule does NOT fire on non-double arrays or different lambdas") {
    import spark.implicits._
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ VecDotRewrite
    try {
      val ints = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
      val qInt = ints.select(
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0, (acc, v) -> acc + v)"))
      assert(!qInt.queryExecution.optimizedPlan.toString.contains("vec_dot"))
      val doubles = Seq((Seq(1.0), Seq(2.0))).toDF("a", "b")
      val qSum = doubles.select(
        expr("aggregate(zip_with(a, b, (x, y) -> x + y), 0.0D, (acc, v) -> acc + v)"))
      assert(!qSum.queryExecution.optimizedPlan.toString.contains("vec_dot"))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == VecDotRewrite)
    }
  }
}
