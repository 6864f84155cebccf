package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.{JaroWinklerExpr, TokenJaccardExpr}

/**
 * Optimizer rule: similarity of an expression with itself is 1.0 — fold it
 * instead of computing O(n·m) string work per row (SURVEY.md §4). Arises in
 * practice when a generated/agent query joins a table to itself or a scoring
 * template is instantiated with identical columns.
 *
 * Null semantics are preserved: the custom similarity expressions are
 * null-intolerant (null in → null out), so for a nullable input the fold is
 * `if(isnull(x), null, 1.0)`, not a bare literal.
 */
object SimilaritySelfCompareFold extends Rule[LogicalPlan] {
  private def fold(a: Expression): Expression =
    if (a.nullable) If(IsNull(a), Literal(null, DoubleType), Literal(1.0))
    else Literal(1.0)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case JaroWinklerExpr(a, b) if a.deterministic && a.semanticEquals(b) => fold(a)
    case TokenJaccardExpr(a, b) if a.deterministic && a.semanticEquals(b) => fold(a)
  }
}

/** Session extension point: `SparkSession.builder.withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SimilaritySelfCompareFold)
  }
}
