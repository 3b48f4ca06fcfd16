package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, If, LessThan, LessThanOrEqual, Literal, NamedExpression, Subtract}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Rewrites plain SQL point-in-interval joins to the native
  * [[IntervalJoin]] operator — the zero-API-change path: a user writing
  *
  * {{{ SELECT ... FROM points p JOIN spans s
  *     ON p.k = s.k AND p.t BETWEEN s.lo AND s.hi }}}
  *
  * gets the O(n + m + matches) active-set sweep instead of Spark's
  * SortMergeJoin-on-key with the range as a post-join residual filter,
  * which materializes every (point, interval) pair of a key through
  * the join buffer before filtering (p·r per key — the quadratic
  * blowup the native operator exists to avoid; see [[IntervalJoin]]).
  *
  * Match conditions (all required, else the Join is left untouched):
  * INNER join; at least one `l.attr = r.attr` equi conjunct (EqualTo
  * only — null-safe `<=>` treats NULL=NULL as a match, which the
  * null-dropping exec must not claim); exactly one lower and one upper
  * bound conjunct on the SAME point-side expression against
  * interval-side expressions (`t >= lo` / `t <= hi` in either written
  * order — BETWEEN parses to exactly this; the POINT side may be
  * either join input, since inner joins commute). Point and bound
  * sides are DETERMINISTIC EXPRESSIONS whose references fall entirely
  * on one input — bare columns are the common case, but computed
  * bounds match too, so the plain-SQL BAND join
  * `c.t BETWEEN p.t - 30m AND p.t + 30m` re-plans onto the sweep
  * (the logical node and both execs already evaluate arbitrary bound
  * expressions; only this classifier ever required bare columns).
  * Every bound expression must be micros-backed (LONG / TIMESTAMP /
  * TIMESTAMP_NTZ — what the exec sweeps as longs); mixed types mean
  * no match, no rewrite. Ambiguity (two lower or two upper
  * candidates) falls back to the plain join — always correct.
  *
  * STRICT bounds normalize whenever both sides are micros-backed:
  * `t > lo` ⇔ `t ≥ lo + 1` on the integer view, so the conjunct
  * rewrites with a successor bound — guarded so `lo = Long.MaxValue`
  * maps to NULL (an unsatisfiable `t > MAX` must never wrap to
  * match-everything; a NULL bound is exactly "never matches" in the
  * exec). On LONG columns the ±1 is direct; on TIMESTAMP /
  * TIMESTAMP_NTZ the bound is first reinterpreted as its internal
  * epoch-micros long via the zero-cost [[MicrosView]] — micros are
  * the type's FULL precision, so succession on that view is exact
  * (surface-level `timestamp + 1` would be interval arithmetic, which
  * is why the raw type is never incremented).
  * Remaining conjuncts stay as a Filter above (inner-join residuals
  * commute), where [[IntervalJoinFilterPushdown]] — same fixed-point
  * batch — pushes the single-sided ones back below the new node.
  *
  * Schema restoration: [[IntervalJoin]] elides right key columns (the
  * USING convention), but the SQL join emits them, so the rewrite tops
  * the node with a Project re-deriving each right key from its left
  * counterpart (equal by the join predicate) under the ORIGINAL exprId
  * — parent operators resolve unchanged.
  *
  * Null semantics are exact: the exec drops null-keyed and
  * null-bounded rows on both sides, which is precisely the rows the
  * SQL predicate evaluates to UNKNOWN for.
  *
  * Conf-gated by `spark.graft.intervalJoin.autoRewrite` (default true
  * where the rule is installed by [[graft.Graft.install]]).
  */
object IntervalJoinAutoRewrite extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  private def microsBacked(t: DataType): Boolean =
    t == LongType || t == TimestampNTZType || t.isInstanceOf[TimestampType]

  /** Strict bounds normalize when BOTH sides are micros-backed: on
    * LONG the ±1 is direct; on TIMESTAMP it goes through the
    * [[MicrosView]] reinterpret (see [[strictMicros]]). */
  private def strictOk(a: Expression, b: Expression): Boolean =
    microsBacked(a.dataType) && microsBacked(b.dataType)

  private def allLong(es: Expression*): Boolean =
    es.forall(_.dataType == LongType)

  /** The bound side of a STRICT conjunct, as epoch-micros LONG: a LONG
    * column passes through (plans stay byte-identical to the pre-r8
    * rewrite); a TIMESTAMP/TIMESTAMP_NTZ column is reinterpreted via
    * the zero-cost [[MicrosView]] so the ±1 normalization is integer
    * succession on the type's FULL precision — the exec sweeps the
    * internal long either way. */
  private def strictMicros(e: Expression): Expression =
    if (e.dataType == LongType) e else MicrosView(e)

  /** `bound + 1`, with the unsatisfiable edge mapped to NULL: `t >
    * Long.MaxValue` admits nothing, and a NULL bound is exactly the
    * exec's never-matches row — a raw `+ 1` would wrap to MinValue and
    * match everything. */
  private def succ(e: Expression): Expression =
    If(EqualTo(e, Literal(Long.MaxValue)),
      Literal(null, LongType), Add(e, Literal(1L)))

  private def pred(e: Expression): Expression =
    If(EqualTo(e, Literal(Long.MinValue)),
      Literal(null, LongType), Subtract(e, Literal(1L)))

  /** One conjunct's role in the interval pattern. */
  private sealed trait Role
  private case class Equi(l: AttributeReference, r: AttributeReference) extends Role
  private case class Lower(t: Expression, lo: Expression) extends Role
  private case class Upper(t: Expression, hi: Expression) extends Role
  private case class Rest(e: Expression) extends Role

  /** Classify `cond`'s conjuncts with `points` as the point side and
    * `intervals` as the interval side, and build the rewritten subtree
    * if the pattern matches in THIS orientation: the node (points
    * always the node's left — its sweep side), a Project restoring the
    * ORIGINAL join output (elided interval-side keys come back as
    * aliases of their point-side counterparts under the original
    * exprIds — Project reorders freely, so either orientation restores
    * both column sets), and the residual Filter on top. */
  private def tryRewrite(j: Join, points: LogicalPlan,
      intervals: LogicalPlan, cond: Expression): Option[LogicalPlan] = {
    def pa(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if points.outputSet.contains(a) => Some(a)
      case _ => None
    }
    def ia(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if intervals.outputSet.contains(a) => Some(a)
      case _ => None
    }
    // a bound-role side: deterministic, references exactly one input
    // (reference-free means a constant — that is a pushable FILTER the
    // main optimizer already moved below the join, not a bound)
    def onSide(e: Expression, side: LogicalPlan): Option[Expression] =
      if (e.deterministic && e.references.nonEmpty &&
        e.references.subsetOf(side.outputSet)) Some(e) else None
    def pe(e: Expression): Option[Expression] = onSide(e, points)
    def ie(e: Expression): Option[Expression] = onSide(e, intervals)
    val roles: Seq[Role] = conjuncts(cond).map {
      case p @ EqualTo(a, b) =>
        pa(a).zip(ia(b)).orElse(pa(b).zip(ia(a)))
          .map { case (pk, ik) => Equi(pk, ik) }.getOrElse(Rest(p))
      case p @ GreaterThanOrEqual(a, b) => // t >= lo | hi >= t
        pe(a).zip(ie(b)).map { case (t, lo) => Lower(t, lo): Role }
          .orElse(pe(b).zip(ie(a)).map { case (t, hi) => Upper(t, hi) })
          .getOrElse(Rest(p))
      case p @ LessThanOrEqual(a, b) => // t <= hi | lo <= t
        pe(a).zip(ie(b)).map { case (t, hi) => Upper(t, hi): Role }
          .orElse(pe(b).zip(ie(a)).map { case (t, lo) => Lower(t, lo) })
          .getOrElse(Rest(p))
      case p @ GreaterThan(a, b) => // t > lo (≥ lo+1) | hi > t (≤ hi−1)
        pe(a).zip(ie(b)).filter(e => strictOk(e._1, e._2))
          .map { case (t, lo) => Lower(t, succ(strictMicros(lo))): Role }
          .orElse(pe(b).zip(ie(a)).filter(e => strictOk(e._1, e._2))
            .map { case (t, hi) => Upper(t, pred(strictMicros(hi))) })
          .getOrElse(Rest(p))
      case p @ LessThan(a, b) => // t < hi (≤ hi−1) | lo < t (≥ lo+1)
        pe(a).zip(ie(b)).filter(e => strictOk(e._1, e._2))
          .map { case (t, hi) => Upper(t, pred(strictMicros(hi))): Role }
          .orElse(pe(b).zip(ie(a)).filter(e => strictOk(e._1, e._2))
            .map { case (t, lo) => Lower(t, succ(strictMicros(lo))) })
          .getOrElse(Rest(p))
      case p => Rest(p)
    }
    val equi = roles.collect { case e: Equi => e }
    val lowers = roles.collect { case l: Lower => l }
    val uppers = roles.collect { case u: Upper => u }
    val rest = roles.collect { case Rest(e) => e }
    (lowers, uppers) match {
      case (Seq(Lower(t1, lo)), Seq(Upper(t2, hi)))
          if t1.semanticEquals(t2) && equi.nonEmpty &&
            Seq(t1, lo, hi).forall(a => microsBacked(a.dataType)) =>
        val node = IntervalJoin(points, intervals,
          equi.map(_.l), equi.map(_.r), t1, lo, hi)
        val elided = equi.map(e => e.r.exprId -> e.l).toMap
        val restored: Seq[NamedExpression] = j.output.map { a =>
          elided.get(a.exprId) match {
            case Some(pointKey) =>
              Alias(pointKey, a.name)(
                exprId = a.exprId, qualifier = a.qualifier,
                explicitMetadata = Some(a.metadata))
            case None => a
          }
        }
        val projected = Project(restored, node)
        Some(rest.reduceOption(And).map(Filter(_, projected))
          .getOrElse(projected))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(
        "spark.graft.intervalJoin.autoRewrite", "true") != "true") return plan
    plan.transform {
      // the batch sweep must never replace a streaming join: a
      // stream-static BETWEEN enrichment matches the syntactic pattern
      // but belongs to the micro-batch planner
      case j @ Join(left, right, Inner, Some(cond), _)
          if !left.isStreaming && !right.isStreaming =>
        // either written orientation: points-left (`p JOIN s ON p.t
        // BETWEEN s.lo AND s.hi`) or intervals-left (`s JOIN p ON ...`)
        // — inner joins commute, and the restoring Project puts the
        // output back in the original column order
        tryRewrite(j, left, right, cond)
          .orElse(tryRewrite(j, right, left, cond))
          .getOrElse(j)
    }
  }
}
