package graft.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule (the engine's documented Rule seam, SURVEY.md §4.2):
  * rewrites the declarative higher-order-function dot product that
  * graft.ops.Similarity.dot emits —
  *
  *   aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
  *             0.0, (acc, v) -> acc + v)
  *
  * — into the fused native DotProductF32. Users keep writing the
  * composable built-in form; plans run the tight loop. The match is
  * deliberately conservative: float-array inputs, double-literal zero,
  * pure add merge, identity finish — anything else is left untouched.
  *
  * Injected by GraftExtensions, so it runs in the optimizer's
  * Operator Optimization batches. */
object RewriteDotProduct extends Rule[LogicalPlan] {

  /** The lambda body must be a multiply of the two lambda variables,
    * each possibly under casts (Similarity.dot casts float → double). */
  private def isMulOfVars(body: Expression, vars: Seq[NamedExpression]): Boolean =
    body match {
      case Multiply(x, y, _) =>
        val ids = vars.map(_.exprId).toSet
        Seq(x, y).forall(e => stripCasts(e) match {
          case v: NamedLambdaVariable => ids.contains(v.exprId)
          case _ => false
        }) && stripCasts(x) != stripCasts(y)
      case _ => false
    }

  private def stripCasts(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCasts(c)
    case other => other
  }

  /** The merge body must be exactly `acc + elem` (either order): two
    * bare lambda variables covering BOTH of the merge lambda's exprIds
    * distinctly — `(acc, v) -> acc + acc` must NOT match. */
  private def isAddOfVars(x: Expression, y: Expression,
      vars: Seq[NamedExpression]): Boolean =
    (x, y) match {
      case (xv: NamedLambdaVariable, yv: NamedLambdaVariable) =>
        val ids = vars.map(_.exprId).toSet
        xv.exprId != yv.exprId &&
          ids.contains(xv.exprId) && ids.contains(yv.exprId)
      case _ => false
    }

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(mulBody, zipVars, _)),
            Literal(0.0, DoubleType),
            LambdaFunction(Add(accRef, elemRef, _), mergeVars, _),
            LambdaFunction(finishBody, finishVars, _))
          if isFloatArray(a) && isFloatArray(b) &&
            isMulOfVars(mulBody, zipVars) &&
            isAddOfVars(accRef, elemRef, mergeVars) &&
            // finish is the identity lambda
            (finishBody match {
              case v: NamedLambdaVariable =>
                finishVars.map(_.exprId).contains(v.exprId)
              case _ => false
            }) =>
        DotProductF32(a, b)
    }
}
