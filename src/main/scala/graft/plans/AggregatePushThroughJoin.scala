package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, AttributeSet, EqualTo, Expression, NamedExpression,
  PlanExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Eager aggregation (Yan & Larson, VLDB 1995), the narrow provably-
  * lossless case: an Aggregate directly over an inner equi-join pushes
  * WHOLE below the join when the non-aggregated side cannot change
  * group shapes —
  *
  * {{{ SELECT l.k, r.x, sum(l.v) FROM fact l JOIN dim r ON l.k = r.k
  *     GROUP BY l.k, r.x }}}
  *
  * becomes `Aggregate(fact by k) JOIN dim` — the join input shrinks
  * from |fact| rows to |groups| BEFORE the exchange, which is exactly
  * the hand-rewrite that took the q58 gate from 17s to 1.3s
  * (`TpchQueries.scala` q58: pair-level pre-aggregation under the
  * orders join), now available to any query with no API change.
  *
  * Soundness conditions (all required, else untouched):
  *  - INNER join, batch, deterministic, no subqueries in the moved
  *    aggregate; join condition is PURE equi conjuncts `l.a = r.b`.
  *  - The far side is PROVABLY UNIQUE on its join keys
  *    ([[PartitionUniqueness]]) — each aggregated-side row matches at
  *    most one far row, so the join multiplies no group and `count`/
  *    `sum` need no fan-out correction (the unsound general case).
  *  - Every join key on the aggregated side appears among the GROUPING
  *    expressions — matching is then decided per-GROUP, not per-row,
  *    so rows the join would have dropped form groups the join still
  *    drops (null keys included: a null-key group finds no match).
  *  - Every aggregate function reads only aggregated-side columns;
  *    grouping expressions are either aggregated-side expressions or
  *    BARE far-side attributes (each functionally determined by the
  *    far side's unique key, so grouping by them cannot split groups).
  *
  * The far-side grouping attributes ride through the join unchanged
  * (same exprIds); a restoring Project re-aliases any `r.x AS g`
  * grouping aliases to their original exprIds and puts the output back
  * in the Aggregate's column order, so parents resolve unchanged.
  *
  * Conf-gated by `spark.graft.eagerAggregation` (default true where
  * installed by [[graft.Graft.install]]).
  */
object AggregatePushThroughJoin extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  private def impure(exprs: Seq[Expression]): Boolean =
    exprs.exists(e => !e.deterministic ||
      e.exists(_.isInstanceOf[PlanExpression[_]]))

  /** Try one orientation: `agg` sits on `aggSide`, `far` is the unique
    * side. Returns the rewritten subtree or None. */
  private def tryPush(a: Aggregate, j: Join, aggSide: LogicalPlan,
      far: LogicalPlan, cond: Expression): Option[LogicalPlan] = {
    val aggSet = aggSide.outputSet
    val farSet = far.outputSet
    // pure equi condition, keys classified per side
    val pairs = conjuncts(cond).map {
      case EqualTo(x: AttributeReference, y: AttributeReference)
          if aggSet.contains(x) && farSet.contains(y) => Some((x, y))
      case EqualTo(y: AttributeReference, x: AttributeReference)
          if aggSet.contains(x) && farSet.contains(y) => Some((x, y))
      case _ => None
    }
    if (pairs.exists(_.isEmpty) || pairs.isEmpty) return None
    val (aggKeys, farKeys) = pairs.flatten.unzip
    // far side unique on ALL its join keys
    if (!PartitionUniqueness.provablyUnique(AttributeSet(farKeys), far))
      return None
    if (impure(a.aggregateExpressions) || impure(Seq(cond))) return None
    // classify grouping expressions: aggregated-side (move below) vs
    // bare far-side attributes (determined by the far key; stay above)
    val (gAgg, gFar) = a.groupingExpressions.partition(
      _.references.subsetOf(aggSet))
    if (!gFar.forall(_.isInstanceOf[AttributeReference])) return None
    // the aggregated-side grouping keys must equal the join keys, both
    // directions. ⊇ is soundness (matching decides per-group, so the
    // join drops whole groups exactly as it dropped their rows);
    // ⊆ is the COST guarantee: grouping exactly by the join keys makes
    // the pushed aggregate's exchange reusable by the join, so the
    // rewrite is one partial-agg-reduced shuffle vs one full-fact
    // shuffle — never worse. A strict-superset grouping could need a
    // second exchange and regress; it stays on the plain plan.
    if (!aggKeys.forall(k => gAgg.exists(_.semanticEquals(k)))) return None
    if (!gAgg.forall(g => aggKeys.exists(_.semanticEquals(g)))) return None
    // split the output list: far-side grouping items ride through the
    // join (bare attrs) or re-alias above; everything else (agg-side
    // groupings + aggregate functions) moves below and must only read
    // the aggregated side
    val (outFar, outAgg) = a.aggregateExpressions.partition {
      case att: AttributeReference => farSet.contains(att)
      case al: Alias => al.child match {
        case att: AttributeReference => farSet.contains(att)
        case _ => false
      }
      case _ => false
    }
    if (!outAgg.forall(_.references.subsetOf(aggSet))) return None
    // the pushed aggregate must still expose the join keys as BARE
    // attributes — the join condition references their exprIds, and an
    // `l.k AS key` alias exposes the alias's id, not k's
    val extraKeys: Seq[NamedExpression] =
      aggKeys.filterNot(k => outAgg.exists {
        case att: Attribute => att.exprId == k.exprId
        case _ => false
      }).distinct
    val pushed = Aggregate(gAgg, outAgg ++ extraKeys, aggSide)
    val newJoin = j.withNewChildren(
      if (j.left eq aggSide) Seq(pushed, far) else Seq(far, pushed))
        .asInstanceOf[Join].copy(condition = Some(cond))
    // restore the original output order / exprIds (far-side aliases)
    val restored: Seq[NamedExpression] = a.aggregateExpressions.map { ne =>
      outFar.find(_.exprId == ne.exprId) match {
        case Some(al: Alias) => al // far alias: recompute above the join
        case _ => ne.toAttribute   // rode through (same exprId)
      }
    }
    Some(Project(restored, newJoin))
  }

  /** Column pruning typically leaves a bare-attribute Project between
    * the Aggregate and the Join; it only narrows columns, so the match
    * sees through it (every Aggregate reference is still a join output
    * attribute). Aliasing Projects are NOT stripped — they rename
    * exprIds and the bail is the safe answer. */
  private def stripAttrProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(list, child)
        if list.forall(_.isInstanceOf[AttributeReference]) =>
      stripAttrProjects(child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(
        "spark.graft.eagerAggregation", "true") != "true") return plan
    plan.transform {
      case a: Aggregate => stripAttrProjects(a.child) match {
        case j @ Join(left, right, Inner, Some(cond), _)
            if !left.isStreaming && !right.isStreaming =>
          tryPush(a, j, left, right, cond)
            .orElse(tryPush(a, j, right, left, cond))
            .getOrElse(a)
        case _ => a
      }
    }
  }
}
