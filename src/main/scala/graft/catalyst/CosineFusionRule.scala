package graft.catalyst

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule (SURVEY.md §4.3): rewrites the declarative
  * higher-order-function cosine pattern
  *
  * {{{ aggregate(zip_with(a,b,(x,y)->x*y),0d,(s,v)->s+v)
  *       / (sqrt(aggregate(zip_with(a,a,…)…)) * sqrt(aggregate(zip_with(b,b,…)…))) }}}
  *
  * into [[CosineSimilarityExpression]]. Users keep writing the composable
  * `VectorOps.cosine` Column form; plans automatically get the fused
  * codegen loop (HOF lambdas execute interpreted — measured 4.5x slower).
  * The rewrite is semantics-preserving bit-for-bit: the native expression
  * accumulates in the same index order (CosineExpressionSpec).
  *
  * Appended to `spark.experimental.extraOptimizations` by
  * [[GraftExtensions.register]].
  */
object CosineFusionRule extends Rule[LogicalPlan] {

  /** Both FP multiply and add are commutative bit-for-bit, so either
    * argument order of the lambda body is the same function. */
  private def isExactly(l: Expression, r: Expression, v1: Expression, v2: Expression): Boolean =
    (l.semanticEquals(v1) && r.semanticEquals(v2)) ||
      (l.semanticEquals(v2) && r.semanticEquals(v1))

  /** Matches aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (s,v) -> s+v).
    * The lambda bodies are bound to the lambdas' own variables: a body like
    * `x*x` or `v+v` (which this globally-registered rule must NOT rewrite —
    * it would silently change results) fails the [[isExactly]] check. */
  private object DotProduct {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(Multiply(mx, my, _), Seq(x, y), _)),
            Literal(zero, DoubleType),
            LambdaFunction(Add(al, ar, _), Seq(acc, el), _),
            _
          ) if zero == 0.0 && isExactly(mx, my, x, y) && isExactly(al, ar, acc, el) =>
        Some((a, b))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Divide(
            DotProduct(a, b),
            Multiply(Sqrt(DotProduct(a2, a3)), Sqrt(DotProduct(b2, b3)), _),
            _
          )
          if a2.semanticEquals(a) && a3.semanticEquals(a) &&
            b2.semanticEquals(b) && b3.semanticEquals(b) =>
        CosineSimilarityExpression(a, b)
    }
}
