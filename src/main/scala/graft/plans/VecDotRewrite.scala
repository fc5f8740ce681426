package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{GraftFunctions, VecDot}

/** Optimizer rule: rewrite the declarative dot-product idiom
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v) }}}
  *
  * into the codegen'd [[graft.functions.VecDot]]. Users keep writing
  * the composable built-in form; plans silently get the tight primitive
  * loop (same strict left-fold semantics, bit-identical results — see
  * VecDot's scaladoc). This is the pattern SURVEY.md §4 reserves
  * optimizer work for: not new semantics, just a better physical form
  * for an existing declarative shape.
  *
  * Conservative by construction: only fires when both arrays are
  * `array<double>`, the zip lambda is exactly `x * y` over its own two
  * variables, the fold is exactly `acc + v` starting at literal 0.0,
  * and the finish lambda is the identity.
  */
object VecDotRewrite extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
              Seq(lx: NamedLambdaVariable, ly: NamedLambdaVariable), _)),
          Literal(0.0, DoubleType),
          LambdaFunction(Add(acc: NamedLambdaVariable, v: NamedLambdaVariable, _),
            Seq(lacc: NamedLambdaVariable, lv: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(lfin: NamedLambdaVariable), _))
        if isDoubleArray(a) && isDoubleArray(b) &&
          x.exprId == lx.exprId && y.exprId == ly.exprId &&
          acc.exprId == lacc.exprId && v.exprId == lv.exprId &&
          fin.exprId == lfin.exprId =>
      VecDot(a, b)
  }
}

/** Session extensions wiring graft's native functions (the
  * [[graft.functions.GraftFunctions]] table), optimizer rules and
  * planner strategy — production entry point:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => VecDotRewrite)
    ext.injectOptimizerRule(_ => AsOfJoinPruning)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
