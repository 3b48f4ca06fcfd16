package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: strength-reduce thresholded edit-distance filters.
  *
  * `levenshtein(a, b) <= k` costs O(|a|·|b|) per row (the DP matrix),
  * but unit-cost edit distance is bounded below by the length
  * difference: `levenshtein(a, b) >= abs(length(a) - length(b))`. The
  * rule conjoins that O(length) guard in front of the kernel, so rows
  * whose lengths already rule them out never pay the quadratic DP —
  * exactly the prefilter a fuzzy-join author writes by hand (t24's
  * length band), applied automatically to any plan that reaches the
  * optimizer with a raw thresholded levenshtein. At 100 TB the win is
  * the blocking-join case: candidate pairs inside a block are
  * length-skewed, and the guard turns most of them into a subtraction.
  *
  * Soundness: for null inputs both guard and kernel evaluate null, and
  * `And(null, null)` filters the row exactly like the original null
  * condition. The guard never admits a row the kernel rejects (lower
  * bound) and never rejects one it admits (only conjoined).
  *
  * Idempotence: the rule runs inside the operator-optimization
  * FIXED-POINT batch, so it must not grow the condition on every pass —
  * rewritten predicates are detected structurally (an equivalent guard
  * conjunct already present) and skipped.
  *
  * Installed by [[graft.Graft.install]].
  */
object LevenshteinGuardRule extends Rule[LogicalPlan] {

  private def guardFor(a: Expression, b: Expression, k: Expression): Expression =
    LessThanOrEqual(Abs(Subtract(Length(a), Length(b))), k)

  private def hasGuard(cond: Expression, a: Expression, b: Expression,
      k: Expression): Boolean = {
    val g = guardFor(a, b, k)
    cond.exists(_.semanticEquals(g))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val newCond = cond.transformUp {
        case cmp @ LessThanOrEqual(Levenshtein(a, b, None), k @ Literal(_, IntegerType))
            if !hasGuard(cond, a, b, k) =>
          And(guardFor(a, b, k), cmp)
        case cmp @ LessThan(Levenshtein(a, b, None), k @ Literal(_, IntegerType))
            if !hasGuard(cond, a, b, k) =>
          And(guardFor(a, b, k), cmp)
      }
      if (newCond fastEquals cond) f else Filter(newCond, child)
  }
}
