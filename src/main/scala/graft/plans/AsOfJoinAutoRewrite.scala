package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute,
  AttributeReference, AttributeSet, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, If, IsNotNull, LessThan, LessThanOrEqual, Literal,
  MonotonicallyIncreasingID, NamedExpression, RowNumber, Subtract,
  WindowExpression, WindowSpecDefinition, Ascending, Descending}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate,
  Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Project,
  RepartitionOperation, Sample, Sort, Window, WindowGroupLimit, Range => LRange}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  TimestampNTZType, TimestampType}

/** Rewrites the standard SQL as-of idiom onto the native [[AsOfJoin]]
  * operator — the interval family's [[IntervalJoinAutoRewrite]] twin,
  * closing the one remaining API gap: `AsOf.join` users already get the
  * O(1)-state merge, but a `spark.sql` user writing the textbook form
  *
  * {{{ SELECT ... FROM (
  *       SELECT l.*, r.v,
  *         row_number() OVER (PARTITION BY l.id ORDER BY r.t DESC) rn
  *       FROM l JOIN r ON l.k = r.k AND r.t <= l.t) WHERE rn = 1 }}}
  *
  * executes it as SortMergeJoin-on-key with the inequality as a
  * post-join residual: EVERY (left, right) pair of a key materializes
  * through the join buffer, then a window buffers each left row's
  * matches again to keep one — quadratic per key in both time and
  * shuffle width. The native operator's merge is one pass with one
  * candidate row of state.
  *
  * Match conditions (all required, else untouched — fallback is always
  * the correct plain plan):
  *
  *  - `Filter` whose conjuncts include exactly one rank-1 pick on the
  *    window attribute (`rn = 1`, `1 = rn`, `rn <= 1`, `rn < 2`);
  *    other conjuncts stay as a residual filter above (they see rows
  *    where `rn` is constant 1, restored as a literal).
  *  - a `Window` computing ONLY that `row_number()` with a one-column
  *    ORDER BY on the right-side time attribute — DESC for a backward
  *    bound, ASC for forward (any other pairing isn't an as-of: e.g.
  *    `r.t <= l.t ... ORDER BY r.t ASC` picks the EARLIEST preceding
  *    row, which the operator cannot express). A `WindowGroupLimit`
  *    the InferWindowGroupLimit batch may already have inserted below
  *    the Window is skipped iff it carries the same partition/order
  *    spec with limit >= 1 (it only pre-prunes rank > limit rows, so
  *    the rank-1 survivors are identical).
  *  - under it an INNER or LEFT OUTER non-streaming `Join` whose
  *    condition is exactly `equi-keys AND one time bound`: EqualTo
  *    attr pairs (no null-safe `<=>` — the exec's null-dropping must
  *    not claim NULL=NULL matches) plus ONE of `r.t <= l.t` /
  *    `r.t >= l.t` (backward / forward; either written order). The
  *    left time may be any deterministic single-sided expression; the
  *    right time must be a bare column (the window orders by it and
  *    the inner-join restoration tests it for NULL). STRICT bounds
  *    normalize on ANY micros-backed type — `r.t < l.t` is
  *    `r.t <= l.t - 1` on the epoch-micros LONG view, TIMESTAMP /
  *    TIMESTAMP_NTZ reinterpreted via the zero-cost [[MicrosView]]
  *    (r8, mirroring the interval rewrite; ±1 is integer succession
  *    on the internal representation, not interval arithmetic), with
  *    the `l.t = Long.MinValue` edge mapped to NULL (never-matches)
  *    rather than wrapping. When a strict bound normalizes, the node
  *    compares BOTH times on the LONG view. A SECOND, opposite bound
  *    on the same right time whose left side is the primary bound
  *    offset by a non-negative LONG constant (`r.t <= l.t AND
  *    r.t >= l.t - c`) is the BOUNDED as-of — it maps to the node's
  *    native inclusive `toleranceMicros` instead of disabling the
  *    rewrite. Any
  *    other conjunct disables the rewrite: a residual join predicate
  *    changes WHICH candidate wins (the idiom picks the best row
  *    satisfying all conjuncts; as-of picks the best time match and a
  *    post-filter could only delete it, not fall back to the next).
  *  - the window PARTITION BY columns are left-side attributes that
  *    provably identify one left row — [[PartitionUniqueness]] proves
  *    it structurally (an Aggregate's grouping keys, a Deduplicate's
  *    keys, `Range`'s id, a `monotonically_increasing_id()` column,
  *    traced through row-preserving operators). Without the proof the
  *    idiom and the operator genuinely differ: duplicate left rows
  *    share a partition, so `rn = 1` keeps ONE combined row where the
  *    as-of join keeps each. Sessions whose partition key is unique
  *    by out-of-band contract (a primary key Catalyst can't see) opt
  *    in via `spark.graft.asOfJoin.autoRewrite.assumeUniquePartition`.
  *
  * Join-type mapping: LEFT OUTER is the operator's own semantics
  * (unmatched left rows null-extend, the single null-extended row is
  * the partition's rank 1). INNER adds `IsNotNull(r.t)` above the
  * node — matched rows always carry a non-null right time (a null
  * time never matches), so the filter drops exactly the rows the
  * inner join would not have emitted.
  *
  * Schema restoration mirrors the interval rewrite: [[AsOfJoin]]
  * elides right key columns, so a Project re-derives each under its
  * ORIGINAL exprId as `IF(r.t IS NOT NULL, left key, NULL)` — equal to
  * the left key on match, NULL on the null-extended row, exactly the
  * join's output. The window's `rn` column is restored as literal 1.
  *
  * Conf-gated by `spark.graft.asOfJoin.autoRewrite` (default true
  * where installed by [[graft.Graft.install]]).
  */
object AsOfJoinAutoRewrite extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  private def microsBacked(t: DataType): Boolean =
    t == LongType || t == TimestampNTZType || t.isInstanceOf[TimestampType]

  /** `rn = 1` in any of its spellings. */
  private def isRankOne(e: Expression, rn: Attribute): Boolean = e match {
    case EqualTo(a: Attribute, Literal(1, IntegerType)) => a.exprId == rn.exprId
    case EqualTo(Literal(1, IntegerType), a: Attribute) => a.exprId == rn.exprId
    case LessThanOrEqual(a: Attribute, Literal(1, IntegerType)) => a.exprId == rn.exprId
    case LessThan(a: Attribute, Literal(2, IntegerType)) => a.exprId == rn.exprId
    case _ => false
  }

  /** `lt - 1` with the unsatisfiable edge mapped to NULL: `r.t < MIN`
    * admits nothing, and a NULL left time is exactly the exec's
    * null-extend row — a raw `- 1` would wrap to MaxValue and match
    * everything. */
  private def predE(e: Expression): Expression =
    If(EqualTo(e, Literal(Long.MinValue)),
      Literal(null, LongType), Subtract(e, Literal(1L)))

  private def succE(e: Expression): Expression =
    If(EqualTo(e, Literal(Long.MaxValue)),
      Literal(null, LongType), Add(e, Literal(1L)))

  private sealed trait Role
  private case class Equi(l: AttributeReference, r: AttributeReference) extends Role
  /** One time bound: adjusted left-time expression + direction.
    * `normalized` marks a strict bound rewritten through the micros
    * view — the node must then compare BOTH times on the LONG view. */
  private case class TimeBound(lt: Expression, rt: AttributeReference,
      direction: AsOfDirection, normalized: Boolean = false) extends Role
  private case class Rest(e: Expression) extends Role

  /** A join condition classified as as-of-join-shaped: equi key pairs
    * plus exactly ONE time bound (strict bounds already normalized to
    * inclusive on the LONG view), nothing else. Shared by this rule
    * and [[AsOfAggregateRewrite]] — the two SQL idioms differ only in
    * what sits ABOVE the join. `rt` is the right time ATTRIBUTE (for
    * ORDER BY / key / restoration checks); `rtExpr` is what the node
    * compares — `rt` itself, or `MicrosView(rt)` when a strict bound
    * normalized the left side onto the LONG view (both sides must
    * then live on the same view). */
  private[plans] final case class AsOfShape(
      equi: Seq[(AttributeReference, AttributeReference)],
      lt: Expression, rt: AttributeReference, rtExpr: Expression,
      dir: AsOfDirection, toleranceMicros: Option[Long] = None)

  /** Classify `cond` against the chosen as-of sides. None unless the
    * condition is EXACTLY equi-keys AND one time bound, both micros-
    * backed, with the right time not an equi key (it must survive into
    * the node's output — the restoration projects test it for NULL). */
  private[plans] def classifyCondition(cond: Expression,
      asofL: LogicalPlan, asofR: LogicalPlan): Option[AsOfShape] = {
    def la(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if asofL.outputSet.contains(a) => Some(a)
      case _ => None
    }
    def ra(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if asofR.outputSet.contains(a) => Some(a)
      case _ => None
    }
    def le(e: Expression): Option[Expression] =
      if (e.deterministic && e.references.nonEmpty &&
        e.references.subsetOf(asofL.outputSet)) Some(e) else None
    def bound(lt: Expression, rt: AttributeReference,
        dir: AsOfDirection): Role =
      TimeBound(lt, rt, dir)
    // strict bounds: ±1 is integer succession, legal on the micros
    // view of any micros-backed type ([[MicrosView]] — the interval
    // rewrite's r8 normalization, mirrored here). A TIMESTAMP left
    // time reinterprets as its internal epoch-micros long first;
    // `Add(timestamp, 1)` would be interval arithmetic, which is why
    // the pre-r8 rule required LONG on both sides.
    def strictOk(lt: Expression, rt: AttributeReference): Boolean =
      microsBacked(lt.dataType) && microsBacked(rt.dataType)
    def micros(e: Expression): Expression =
      if (e.dataType == LongType) e else MicrosView(e)
    def strictBound(lt: Expression, rt: AttributeReference,
        dir: AsOfDirection, adjust: Expression => Expression): Role =
      TimeBound(adjust(micros(lt)), rt, dir, normalized = true)

    val roles: Seq[Role] = conjuncts(cond).map {
      case p @ EqualTo(a, b) =>
        la(a).zip(ra(b)).orElse(la(b).zip(ra(a)))
          .map { case (lk, rk) => Equi(lk, rk) }.getOrElse(Rest(p))
      case p @ LessThanOrEqual(a, b) => // r.t <= l.t | l.t <= r.t
        ra(a).flatMap(rt => le(b).map(lt => bound(lt, rt, AsOfBackward)))
          .orElse(ra(b).flatMap(rt => le(a).map(lt => bound(lt, rt, AsOfForward))))
          .getOrElse(Rest(p))
      case p @ GreaterThanOrEqual(a, b) => // r.t >= l.t | l.t >= r.t
        ra(a).flatMap(rt => le(b).map(lt => bound(lt, rt, AsOfForward)))
          .orElse(ra(b).flatMap(rt => le(a).map(lt => bound(lt, rt, AsOfBackward))))
          .getOrElse(Rest(p))
      case p @ LessThan(a, b) => // r.t < l.t (≤ lt−1) | l.t < r.t (≥ lt+1)
        ra(a).flatMap(rt => le(b).filter(strictOk(_, rt))
            .map(lt => strictBound(lt, rt, AsOfBackward, predE)))
          .orElse(ra(b).flatMap(rt => le(a).filter(strictOk(_, rt))
            .map(lt => strictBound(lt, rt, AsOfForward, succE))))
          .getOrElse(Rest(p))
      case p @ GreaterThan(a, b) => // r.t > l.t (≥ lt+1) | l.t > r.t (≤ lt−1)
        ra(a).flatMap(rt => le(b).filter(strictOk(_, rt))
            .map(lt => strictBound(lt, rt, AsOfForward, succE)))
          .orElse(ra(b).flatMap(rt => le(a).filter(strictOk(_, rt))
            .map(lt => strictBound(lt, rt, AsOfBackward, predE))))
          .getOrElse(Rest(p))
      case p => Rest(p)
    }
    val equi = roles.collect { case e: Equi => e }
    val bounds = roles.collect { case t: TimeBound => t }
    if (equi.isEmpty || roles.exists(_.isInstanceOf[Rest])) return None
    // ONE bound = plain as-of. TWO opposite bounds on the same right
    // time where the secondary is the primary's left time offset by a
    // non-negative LONG constant = BOUNDED as-of (pandas merge_asof's
    // `tolerance`, the node's native toleranceMicros — its comparison
    // `|lt − rt| <= tol` is inclusive, exactly the SQL `>=`/`<=`
    // secondary bound). The constant is already folded by the time
    // this rule runs (user rules follow the optimizer batches).
    // Strict-normalized bounds don't participate: their ±1 has
    // already moved the left time, so offset matching would be
    // off-by-one in disguise. Non-constant offsets (a per-row
    // tolerance column) are not expressible on the node — bail.
    val (lt, rt, dir, normalized, tol) = bounds match {
      case Seq(TimeBound(lt1, rt1, d1, n1)) => (lt1, rt1, d1, n1, None)
      case Seq(b1, b2)
          if b1.rt.exprId == b2.rt.exprId && b1.direction != b2.direction &&
            !b1.normalized && !b2.normalized =>
        val (bk, fw) = if (b1.direction == AsOfBackward) (b1, b2) else (b2, b1)
        fw.lt match {
          // r.t <= L AND r.t >= L − c  ⇒  backward within c
          case Subtract(base, Literal(c: Long, LongType), _)
              if c >= 0 && base.semanticEquals(bk.lt) =>
            (bk.lt, bk.rt, AsOfBackward, false, Some(c))
          case _ => bk.lt match {
            // r.t >= L AND r.t <= L + c  ⇒  forward within c
            case Add(base, Literal(c: Long, LongType), _)
                if c >= 0 && base.semanticEquals(fw.lt) =>
              (fw.lt, fw.rt, AsOfForward, false, Some(c))
            case _ => return None
          }
        }
      case _ => return None
    }
    if (!microsBacked(lt.dataType) || !microsBacked(rt.dataType)) return None
    if (equi.exists(_.r.exprId == rt.exprId)) return None
    val rtExpr = if (normalized && rt.dataType != LongType) MicrosView(rt) else rt
    Some(AsOfShape(equi.map(e => (e.l, e.r)), lt, rt, rtExpr, dir, tol))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(
        "spark.graft.asOfJoin.autoRewrite", "true") != "true") return plan
    plan.transform {
      case f @ Filter(fc, w: Window) if !w.isStreaming =>
        tryRewrite(fc, w).getOrElse(f)
    }
  }

  private def tryRewrite(fc: Expression, w: Window): Option[LogicalPlan] = {
    // -- window shape: exactly one row_number(), one ORDER BY column
    val (rnAttr, ps, so) = w.windowExpressions match {
      case Seq(al @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(ps, Seq(so), _)), _)) =>
        (al.toAttribute, ps, so)
      case _ => return None
    }
    // -- filter picks rank 1; everything else is residual (it sees
    //    rn ≡ 1, restored below as a literal under the same exprId)
    val (rankSel, residual) = conjuncts(fc).partition(isRankOne(_, rnAttr))
    if (rankSel.size != 1) return None
    // -- skip a same-spec WindowGroupLimit (rank-1 rows unaffected)
    val below = w.child match {
      case WindowGroupLimit(p2, o2, _, limit, c)
          if limit >= 1 && p2.length == ps.length && o2.length == 1 &&
            p2.zip(ps).forall { case (a, b) => a.semanticEquals(b) } &&
            o2.head.semanticEquals(so) => c
      case c => c
    }
    // -- see through the attribute-level Project that column pruning /
    //    subquery select lists leave between the window and the join
    //    (narrowing, reordering, renaming — but no computation);
    //    `belowList` is what the rewrite must restore
    def attrLevel(ne: NamedExpression): Boolean = ne match {
      case _: Attribute => true
      case al: Alias => al.child.isInstanceOf[Attribute]
      case _ => false
    }
    val (j, belowList: Seq[NamedExpression]) = below match {
      case j @ Join(_, _, Inner | LeftOuter, Some(_), _) if !j.isStreaming =>
        (j, j.output)
      case p @ Project(pl, j @ Join(_, _, Inner | LeftOuter, Some(_), _))
          if !j.isStreaming && pl.forall(attrLevel) =>
        (j, pl)
      case _ => return None
    }
    val cond = j.condition.get
    // -- partition columns: bare attrs on the row-preserving side
    val psAttrs = ps.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val psSet = AttributeSet(psAttrs)
    // the as-of LEFT is the side the partition columns come from; a
    // LEFT OUTER join pins it (only its left is row-preserving)
    val (asofL, asofR) =
      if (psSet.subsetOf(j.left.outputSet)) (j.left, j.right)
      else if (j.joinType == Inner && psSet.subsetOf(j.right.outputSet))
        (j.right, j.left)
      else return None
    if (j.joinType == LeftOuter && (asofL ne j.left)) return None

    val AsOfShape(equi, lt, rt, rtExpr, dir, tol) =
      classifyCondition(cond, asofL, asofR).getOrElse(return None)
    // window ORDER BY must be the right time, directed so rank 1 IS
    // the as-of pick: max preceding (DESC) / min following (ASC)
    if (!so.child.semanticEquals(rt)) return None
    val dirOk = (dir, so.direction) match {
      case (AsOfBackward, Descending) => true
      case (AsOfForward, Ascending) => true
      case _ => false
    }
    if (!dirOk) return None
    // partition columns must identify ONE left row (see scaladoc)
    val assume = conf.getConfString(
      "spark.graft.asOfJoin.autoRewrite.assumeUniquePartition",
      "false") == "true"
    if (!assume && !PartitionUniqueness.provablyUnique(psSet, asofL))
      return None

    val node = AsOfJoin(asofL, asofR,
      equi.map(_._1), equi.map(_._2), lt, rtExpr, dir, tol)
    val rtOut = node.output.find(_.exprId == rt.exprId).getOrElse(return None)
    val elided = equi.map(e => e._2.exprId -> e._1).toMap
    // original output = the window child's output ++ rn, in that order;
    // elided right keys re-derive from their left counterpart, whether
    // referenced bare or through a rename
    val restored: Seq[NamedExpression] = belowList.map { ne =>
      val u: Attribute = ne match {
        case a: Attribute => a
        case al: Alias => al.child.asInstanceOf[Attribute]
      }
      elided.get(u.exprId) match {
        case Some(leftKey) =>
          Alias(If(IsNotNull(rtOut), leftKey, Literal(null, u.dataType)),
            ne.name)(exprId = ne.exprId,
            qualifier = ne.toAttribute.qualifier,
            explicitMetadata = Some(ne.toAttribute.metadata))
        case None => ne
      }
    } :+ Alias(Literal(1, IntegerType), rnAttr.name)(
      exprId = rnAttr.exprId, qualifier = rnAttr.qualifier,
      explicitMetadata = Some(rnAttr.metadata))
    // INNER drops the null-extended rows — below the restore Project,
    // against the node's own right-time attribute (a matched row always
    // carries a non-null right time; see scaladoc); residual conjuncts
    // keep their original post-window placement above
    val base: LogicalPlan =
      if (j.joinType == Inner) Filter(IsNotNull(rtOut), node) else node
    val projected = Project(restored, base)
    Some(residual.reduceOption(And)
      .map(Filter(_, projected)).getOrElse(projected))
  }
}

/** Structural uniqueness proof: do the attribute values of `keys`
  * identify at most one row of `plan`? Conservative — `false` means
  * "unproven", and the caller falls back to the always-correct plain
  * plan. The proof traces through row-preserving / row-filtering
  * operators and bottoms out at operators that are distinct-by-
  * construction on a known column set. */
object PartitionUniqueness {
  def provablyUnique(keys: AttributeSet, plan: LogicalPlan): Boolean = {
    if (keys.isEmpty) return plan.maxRows.exists(_ <= 1)
    plan match {
      // grouping keys are unique per output row; every grouping
      // expression must be represented among `keys` (a subset of the
      // grouping tuple does not determine it)
      case Aggregate(ge, ae, _, _) =>
        ge.isEmpty || ge.forall { g =>
          ae.exists {
            case a: Attribute => keys.contains(a) && g.semanticEquals(a)
            case al: Alias => keys.contains(al.toAttribute) &&
              al.child.semanticEquals(g)
            case _ => false
          }
        }
      case Deduplicate(dk, _) => dk.forall(keys.contains)
      // Range's output column enumerates distinct longs
      case r: LRange => r.output.exists(keys.contains)
      case p @ Project(pl, child) =>
        // a monotonically_increasing_id() column is unique per row
        val mid = pl.exists {
          case al @ Alias(_: MonotonicallyIncreasingID, _) =>
            keys.contains(al.toAttribute)
          case _ => false
        }
        mid || {
          // map keys back through the projection; dropping unmapped
          // keys is sound (uniqueness by a subset implies by the set)
          val mapped = keys.toSeq.flatMap { k =>
            pl.collectFirst {
              case a: Attribute if a.exprId == k.exprId => a
              case al: Alias if al.exprId == k.exprId &&
                al.child.isInstanceOf[Attribute] =>
                al.child.asInstanceOf[Attribute]
            }
          }
          mapped.nonEmpty && provablyUnique(AttributeSet(mapped), child)
        }
      // row subsets / reorders preserve uniqueness
      case Filter(_, child) => provablyUnique(keys, child)
      case Sort(_, _, child, _) => provablyUnique(keys, child)
      case GlobalLimit(_, child) => provablyUnique(keys, child)
      case LocalLimit(_, child) => provablyUnique(keys, child)
      case s: Sample => provablyUnique(keys, s.child)
      case r: RepartitionOperation => provablyUnique(keys, r.child)
      // 1:1 row extension: prove on the pre-window columns
      case w: Window =>
        provablyUnique(keys -- w.windowOutputSet, w.child)
      // the native as-of join is ROW-PRESERVING (exactly one output row
      // per left row — see AsOfJoin.maxRows), so it transports the left
      // side's uniqueness: restrict the keys to left-side attributes
      // (dropping right-side keys is sound — uniqueness by a subset
      // implies uniqueness by the set) and prove on the left child.
      // This is what lets DistinctElimination see through the custom
      // node where vanilla distinctKeys propagation cannot.
      case aj: AsOfJoin =>
        val lk = keys.filter(aj.left.outputSet.contains)
        lk.nonEmpty && provablyUnique(AttributeSet(lk.toSeq), aj.left)
      case _ => false
    }
  }
}

/** The AGGREGATE spelling of the SQL as-of idiom — the other textbook
  * form (`max_by` / `min_by` instead of `row_number() = 1`):
  *
  * {{{ SELECT l.id, max_by(r.v, r.t) AS v
  *     FROM l [LEFT] JOIN r ON l.k = r.k AND r.t <= l.t
  *     GROUP BY l.id }}}
  *
  * Same quadratic execution as the window spelling (every candidate
  * pair materializes through the join, then a hash aggregate buffers
  * per group), same native target: when the grouping keys provably
  * identify one left row, each group IS one left row and
  * `max_by(v, r.t)` is exactly the backward as-of payload (`min_by`
  * with `r.t >= l.t` is the forward pair). Match conditions, reusing
  * [[AsOfJoinAutoRewrite.classifyCondition]] for the join condition:
  *
  *  - grouping expressions are bare left-side attributes, proved
  *    unique on the left input ([[PartitionUniqueness]], same opt-in
  *    conf as the window rule);
  *  - every aggregate-list entry is a grouping attribute (bare or
  *    renamed) or `max_by`/`min_by` (no DISTINCT, no FILTER clause)
  *    whose ordering is EXACTLY the join's right-time column and
  *    whose value is a deterministic right-side expression not
  *    touching the elided right equi keys — at least one such entry,
  *    else there is nothing as-of about the query;
  *  - the agg direction must pair with the bound's direction
  *    (backward↔max_by, forward↔min_by): the opposite pairing picks
  *    the OLDEST match, which the operator cannot express.
  *
  * Tie behavior matches by construction: on equal right times both
  * `max_by` and the as-of merge keep an unspecified single row — the
  * idiom never promised an order among ties.
  *
  * Join-type mapping mirrors the window rule: INNER loses matchless
  * left rows (no group forms), restored as `IsNotNull(r.t)` above the
  * node; LEFT OUTER's all-null group (`max_by` ignores null-ordering
  * rows) is the node's null-extended row. Payload restoration guards
  * with the same `IF(r.t IS NOT NULL, v, NULL)` — a payload expression
  * could otherwise evaluate non-null over the null-extended row
  * (e.g. `coalesce(r.v, 0)`), which the aggregate would never emit. */
object AsOfAggregateRewrite extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{
    AggregateExpression, MaxBy, MinBy}
  import AsOfJoinAutoRewrite.{AsOfShape, classifyCondition}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(
        "spark.graft.asOfJoin.autoRewrite", "true") != "true") return plan
    plan.transform {
      case a: Aggregate if !a.isStreaming =>
        tryRewrite(a).getOrElse(a)
    }
  }

  private def tryRewrite(a: Aggregate): Option[LogicalPlan] = {
    // the join, seen through attribute-only Projects (column pruning
    // leaves them; aliasing projects would re-map exprIds — bail)
    val j = a.child match {
      case j @ Join(_, _, Inner | LeftOuter, Some(_), _) if !j.isStreaming => j
      case Project(pl, j @ Join(_, _, Inner | LeftOuter, Some(_), _))
          if !j.isStreaming && pl.forall(_.isInstanceOf[Attribute]) => j
      case _ => return None
    }
    val ge = a.groupingExpressions.map {
      case at: AttributeReference => at
      case _ => return None
    }
    val geSet = AttributeSet(ge)
    if (geSet.isEmpty) return None
    val (asofL, asofR) =
      if (geSet.subsetOf(j.left.outputSet)) (j.left, j.right)
      else if (j.joinType == Inner && geSet.subsetOf(j.right.outputSet))
        (j.right, j.left)
      else return None
    if (j.joinType == LeftOuter && (asofL ne j.left)) return None
    val AsOfShape(equi, lt, rt, rtExpr, dir, tol) =
      classifyCondition(j.condition.get, asofL, asofR).getOrElse(return None)
    val elidedKeys = AttributeSet(equi.map(_._2))

    def payloadOk(v: Expression): Boolean =
      v.deterministic && v.references.subsetOf(asofR.outputSet) &&
        v.references.intersect(elidedKeys).isEmpty

    // an aggregate call is restorable iff it is max_by/min_by (no
    // DISTINCT, no FILTER) whose ordering is EXACTLY the join's right
    // time, paired with the bound's direction, over a restorable
    // payload; its per-group value is then the payload of the as-of
    // pick, null for matchless groups (max_by ignores null-ordering
    // rows, so the LEFT OUTER all-null group agrees)
    def restorable(ag: AggregateExpression): Option[Expression] = ag match {
      case AggregateExpression(
          MaxBy(v, ord: AttributeReference), _, false, None, _)
          if dir == AsOfBackward && ord.exprId == rt.exprId && payloadOk(v) =>
        Some(v)
      case AggregateExpression(
          MinBy(v, ord: AttributeReference), _, false, None, _)
          if dir == AsOfForward && ord.exprId == rt.exprId && payloadOk(v) =>
        Some(v)
      case _ => None
    }
    // every aggregate call in every output entry must be restorable
    // (output entries are otherwise arbitrary expressions — the
    // optimizer collapses downstream CASE/arithmetic INTO the
    // aggregate list, so matching only bare `Alias(max_by(...))`
    // would miss every real query); at least one call overall, else
    // there is nothing as-of about the aggregate
    val allAggs = a.aggregateExpressions.flatMap(_.collect {
      case ag: AggregateExpression => ag
    })
    if (allAggs.isEmpty || !allAggs.forall(restorable(_).isDefined))
      return None

    val assume = conf.getConfString(
      "spark.graft.asOfJoin.autoRewrite.assumeUniquePartition",
      "false") == "true"
    if (!assume && !PartitionUniqueness.provablyUnique(geSet, asofL))
      return None

    val node = AsOfJoin(asofL, asofR,
      equi.map(_._1), equi.map(_._2), lt, rtExpr, dir, tol)
    val rtOut = node.output.find(_.exprId == rt.exprId).getOrElse(return None)
    val base: LogicalPlan =
      if (j.joinType == Inner) Filter(IsNotNull(rtOut), node) else node
    // substitute each aggregate call with its guarded payload; the
    // group has exactly one as-of row, so every surrounding expression
    // (restored verbatim, exprIds intact) evaluates to the same value
    // it had over the one-row group
    val restored: Seq[NamedExpression] = a.aggregateExpressions.map { ne =>
      val sub = ne.transform {
        case ag: AggregateExpression =>
          If(IsNotNull(rtOut), restorable(ag).get,
            Literal(null, ag.dataType))
      }
      sub match {
        case n: NamedExpression => n
        case other => Alias(other, ne.name)(exprId = ne.exprId,
          qualifier = ne.toAttribute.qualifier,
          explicitMetadata = Some(ne.toAttribute.metadata))
      }
    }
    // post-substitution sanity: everything the project needs must come
    // out of the node (group attrs + right payload columns)
    if (!restored.forall(_.references.subsetOf(node.outputSet)))
      return None
    Some(Project(restored, base))
  }
}
