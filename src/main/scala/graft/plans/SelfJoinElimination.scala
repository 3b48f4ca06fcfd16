package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeMap, AttributeReference, AttributeSet, EqualTo, Expression,
  IsNotNull, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Eliminates redundant self-joins: an inner join whose two inputs are
  * THE SAME relation (canonically — `sameResult`, possibly under
  * different attribute-only projections) joined on a key that provably
  * identifies at most one row per side collapses to a single copy of
  * the relation. The classic shape is a view joined to itself —
  * generated BI / ORM SQL, or a grouped metric table read twice:
  *
  * {{{ WITH m AS (SELECT k, COUNT(*) n FROM t GROUP BY k)
  *     SELECT a.k, a.n, b.n FROM m a JOIN m b ON a.k = b.k }}}
  *
  * Spark plans this as two full Aggregates plus an exchange-and-join;
  * the rewrite returns ONE Aggregate with `b.n` re-derived from `a.n`
  * — at scale it removes an entire scan, aggregation, and shuffle, the
  * largest single plan win this engine can make without touching data.
  *
  * Soundness: if both inputs are the same bag of rows and the equi-key
  * is unique on that bag ([[PartitionUniqueness]] — aggregate grouping
  * keys, `Deduplicate` keys, `monotonically_increasing_id`, traced
  * through row-preserving operators), then each left row's ONLY match
  * is itself, so every right-side column equals the corresponding
  * left-side column. The join's null semantics are preserved exactly:
  * a null key compares UNKNOWN and drops the row, so the rewrite
  * filters `IsNotNull` on each nullable key; any non-key conjunct
  * (`a.x = b.y`, `a.x < b.y + 1`, …) is substituted onto the single
  * copy and kept as a Filter — on the matched pair those reference the
  * same row, so the substitution is the identity the join would have
  * evaluated.
  *
  * Match conditions (all required, else the Join is untouched):
  * INNER join, batch only; both inputs peel (through attribute-only
  * Projects — column pruning typically specializes the two sides to
  * different column subsets, so raw `sameResult` on the join inputs
  * would almost never fire) to cores with `lcore.sameResult(rcore)`;
  * the core is fully deterministic with no subquery expressions (two
  * executions of the same NONDETERMINISTIC plan produce different
  * rows — e.g. an inlined CTE with `rand()` keeps its seed but not its
  * row order, so "same plan" does not mean "same values"); the core
  * contains no execution-order-dependent node (unordered LIMIT /
  * Offset / Tail / Sample — deterministic EXPRESSIONS over a row set
  * that differs between executions, which the expression-purity guard
  * cannot see); at least
  * one `l.a = r.b` equi conjunct where `a` and `b` map to the SAME
  * core attribute; and that key set is provably unique on the core.
  *
  * Conf-gated by `spark.graft.selfJoin.eliminate` (default true where
  * the rule is installed by [[graft.Graft.install]]).
  */
object SelfJoinElimination extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Peel attribute-only Projects off `p`: returns the core plan plus
    * the map from each of `p`'s output attributes to the core output
    * attribute it passes through. Column pruning rewrites the two
    * sides of a self-join to different column subsets; the cores are
    * what still compare equal. */
  private def peel(p: LogicalPlan): (LogicalPlan, AttributeMap[Attribute]) =
    p match {
      case Project(list, child) if list.forall {
            case _: AttributeReference => true
            case Alias(_: AttributeReference, _) => true
            case _ => false
          } =>
        val (core, m) = peel(child)
        val pairs = list.flatMap {
          case a: AttributeReference =>
            m.get(a).map(a.toAttribute -> _)
          case al @ Alias(u: AttributeReference, _) =>
            m.get(u).map(al.toAttribute -> _)
          case _ => None
        }
        // every project reference resolves against the child by
        // analysis; a miss means an attribute this peel cannot trace —
        // degrade to "no peel" rather than guess
        if (pairs.length == list.length) (core, AttributeMap(pairs))
        else (p, AttributeMap(p.output.map(a => a -> a)))
      case other => (other, AttributeMap(other.output.map(a => a -> a)))
    }

  /** True when any node computes a nondeterministic expression or a
    * subquery — either makes "canonically equal" weaker than "same
    * values on re-execution", which the elimination relies on. */
  private def impure(p: LogicalPlan): Boolean =
    p.exists(n => n.expressions.exists(e =>
      !e.deterministic || e.exists(_.isInstanceOf[PlanExpression[_]])))

  /** True when any node's OUTPUT ROW SET is execution-order dependent
    * even though every expression in it is deterministic: an unordered
    * LIMIT picks whichever rows arrive first, Sample draws per-
    * partition-ordered. Two executions of the same canonical plan can
    * then return DIFFERENT bags, so collapsing the self-join to one
    * copy would pick one possible world where the unrewritten join
    * could legitimately produce another (exchange/subquery reuse does
    * not guarantee the two sides share one execution). Expression
    * purity ([[impure]]) cannot see this — it must be a node check. */
  private def orderDependent(p: LogicalPlan): Boolean =
    p.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Offset => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Tail => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
      case _ => false
    }

  private def eliminate(j: Join): Option[LogicalPlan] = {
    val cond = j.condition.get
    val (lcore, lmap) = peel(j.left)
    val (rcore, rmap) = peel(j.right)
    if (!lcore.sameResult(rcore)) return None
    if (lcore.output.length != rcore.output.length) return None
    if (impure(lcore)) return None
    if (orderDependent(lcore)) return None
    // canonical equality normalizes attributes positionally, so the
    // cores' outputs correspond index-by-index (the same contract
    // ReuseExchange / the cache manager build their output maps on)
    val r2l = AttributeMap(rcore.output.zip(lcore.output))
    val leftSet = j.left.outputSet
    val rightSet = j.right.outputSet
    def toCore(a: Attribute): Option[Attribute] =
      if (leftSet.contains(a)) lmap.get(a)
      else if (rightSet.contains(a)) rmap.get(a).flatMap(r2l.get)
      else None
    // classify: same-core-attribute equi pairs are the join key; all
    // other conjuncts survive as a substituted residual Filter
    var keys = Seq.empty[Attribute]
    var residual = Seq.empty[Expression]
    conjuncts(cond).foreach {
      case eq @ EqualTo(a: AttributeReference, b: AttributeReference)
          if (leftSet.contains(a) && rightSet.contains(b)) ||
            (leftSet.contains(b) && rightSet.contains(a)) =>
        (toCore(a), toCore(b)) match {
          case (Some(ca), Some(cb)) if ca.exprId == cb.exprId => keys :+= ca
          case _ => residual :+= eq
        }
      case other => residual :+= other
    }
    if (keys.isEmpty) return None
    if (!PartitionUniqueness.provablyUnique(AttributeSet(keys), lcore))
      return None
    // substitute the residual onto the single copy; bail if any
    // reference fails to trace (never expected — join conditions only
    // reference join inputs — but unproven means untouched)
    val substituted = residual.map { e =>
      var ok = true
      val s = e.transform { case a: Attribute =>
        toCore(a) match {
          case Some(c) => c
          case None => ok = false; a
        }
      }
      if (!ok) return None
      s
    }
    val notNulls = keys.distinct.filter(_.nullable).map(IsNotNull)
    val filters = notNulls ++ substituted
    val base = filters.reduceOption(And).map(Filter(_, lcore)).getOrElse(lcore)
    // restore the join's output under the ORIGINAL exprIds: left
    // attributes pass through (or re-alias to their core attribute),
    // right attributes re-derive from the positionally matching left
    // core attribute — equal on the single surviving (row, row) pair
    val outList: Seq[NamedExpression] = j.output.map { o =>
      val c = toCore(o).get
      if (c.exprId == o.exprId) c
      else Alias(c, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }
    Some(Project(outList, base))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(
        "spark.graft.selfJoin.eliminate", "true") != "true") return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(_), _)
          if !left.isStreaming && !right.isStreaming =>
        eliminate(j).getOrElse(j)
    }
  }
}
