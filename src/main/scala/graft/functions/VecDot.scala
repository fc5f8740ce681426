package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two double arrays.
  *
  * The built-in composition `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0d, (acc,v) -> acc+v)` evaluates interpreted (higher-order
  * functions don't participate in whole-stage codegen) and allocates
  * an intermediate array per row — measured ~10× slower on the
  * all-pairs similarity join. This expression generates a tight
  * primitive loop inside whole-stage codegen instead, which is the
  * custom-Expression escape hatch SURVEY.md §7.4 reserves for
  * semantics Spark's built-ins can't express *efficiently*.
  *
  * Summation is a strict left fold, matching the DuckDB oracle's
  * `list_sum` over a list comprehension bit for bit.
  *
  * Callers cast float embeddings with `CAST(x AS ARRAY<DOUBLE>)`
  * before the loop — element-wise cast then double math, the same
  * order the oracle applies.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<double> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** graft's native expressions: ONE table of (name, expression class,
  * builder) that both [[register]] and `plans.GraftExtensions` read. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

  private val table: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], c => VecDot(c(0), c(1))),
    ("word_shingles", classOf[WordShingles], c => WordShingles(c(0), c(1))),
    ("minhash8", classOf[MinHash8], c => MinHash8(c(0), c(1))),
    ("shingle_minmax_md5", classOf[ShingleMinMaxMd5], c => ShingleMinMaxMd5(c(0), c(1))),
    ("zorder16", classOf[ZOrderKey], c => ZOrderKey(c(0), c(1))),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // runtime-filter rewrite but does not expose them in the public
    // registry; surface them for the engine's incremental-dedup fast
    // path (Quality.qBloomDedup). Same builder contract as built-ins.
    ("bloom_filter_agg", classOf[BloomFilterAggregate],
      c => new BloomFilterAggregate(c(0), c(1), c(2)).toAggregateExpression()),
    ("might_contain", classOf[BloomFilterMightContain],
      c => BloomFilterMightContain(c(0), c(1))))

  /** The table in `SparkSessionExtensions.injectFunction`'s shape. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    table.map { case (name, cls, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    }

  /** Registers every function `spark` lacks; a repeat call changes and
    * logs nothing (re-registering a name logs a "replaced" warning). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      descriptions.foreach { case (id, info, build) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
      }
    }
  }
}
