package graft.plans

import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Sqrt}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: strength-reduce `sqrt(vec_sq_l2(a,b)) <op> tol` to
  * `vec_sq_l2(a,b) <op> tol*tol` for a non-negative literal tolerance.
  *
  * Sound ONLY because [[SquaredL2]] is non-negative by construction (a
  * sum of squares) — for arbitrary x the rewrite would change the
  * semantics of negative inputs (sqrt yields NaN, every comparison
  * false). Saves one sqrt per candidate pair inside broadcast
  * similarity joins, where the predicate is evaluated O(|probes| ×
  * |targets|) times.
  *
  * Float-boundary caveat: `fl(tol*tol)` is one rounding away from the
  * mathematical tol², so an input whose squared distance lands in the
  * half-ulp gap between them can classify differently than an engine
  * comparing `sqrt(d2) <= tol` directly (e.g. a DuckDB oracle's
  * `list_distance(a,b) <= tol`). Query thresholds are therefore pinned
  * away from attainable distances (oracle parity holds empirically and
  * by construction of the testdata); callers comparing against an
  * external engine at an exact boundary should square the threshold on
  * that side too.
  *
  * For SQL users only: injected by [[graft.GraftExtensions]] at
  * session build. DataFrame code writes the squared comparison itself
  * (`fastSquaredL2(a, b) <= tol * tol`), so it needs no rule.
  */
object SimplifySqrtThreshold extends Rule[LogicalPlan] {
  private def sq(tol: Double): Literal = Literal(tol * tol, DoubleType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(Sqrt(x: SquaredL2), Literal(tol: Double, DoubleType)) if tol >= 0 =>
      LessThanOrEqual(x, sq(tol))
    case LessThan(Sqrt(x: SquaredL2), Literal(tol: Double, DoubleType)) if tol >= 0 =>
      LessThan(x, sq(tol))
    case GreaterThanOrEqual(Literal(tol: Double, DoubleType), Sqrt(x: SquaredL2)) if tol >= 0 =>
      GreaterThanOrEqual(sq(tol), x)
    case GreaterThan(Literal(tol: Double, DoubleType), Sqrt(x: SquaredL2)) if tol >= 0 =>
      GreaterThan(sq(tol), x)
  }
}
