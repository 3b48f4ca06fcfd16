package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, BinaryNode => LogicalBinaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Native keyed point-in-interval join — the second whole-operator
  * extension (the as-of join's sibling): for every left row (key, t),
  * emit one joined row per right row (key, lo, hi) with the same key
  * and lo ≤ t ≤ hi (both bounds inclusive — the BETWEEN convention).
  *
  * Why an operator instead of a composed plan: Spark plans the
  * `l.key = r.key AND t BETWEEN lo AND hi` join as a SortMergeJoin on
  * the key with the range residual as a post-join FILTER — every
  * (point, interval) pair of a key materializes through the join
  * buffer before the filter drops it, so a key with p points and r
  * intervals costs p·r regardless of how few actually overlap. The
  * binned-equi-key rewrite ([[graft.joins.RangeJoin.pointInRange]])
  * fixes that but pays an explode of interval-length/binWidth
  * duplicate rows through the exchange and needs a width tuned to the
  * interval distribution. This operator is the IEJoin-family
  * sort-merge sweep: both sides hash-cluster on the key (the equi-join
  * lower bound — EXACTLY two exchanges) and sort in-partition by
  * (key, t) / (key, lo); the per-partition merge keeps an ACTIVE SET
  * of open intervals — admitted when lo ≤ t, evicted when hi < t —
  * so the cost is O(n + m + matches) with state bounded by the maximum
  * concurrent interval overlap of one key, never p·r and never an
  * explode factor.
  */
case class IntervalJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightLo: Expression,
    rightHi: Expression) extends LogicalBinaryNode {
  // right KEY columns are excluded: this is an inner join, they always
  // equal the left keys (the `USING` convention, same as AsOfJoin)
  override def output: Seq[Attribute] =
    left.output ++ right.output
      .filterNot(a => rightKeys.exists(_.semanticEquals(a)))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[IntervalJoin]] physically — the same size-based choice
  * Spark's own JoinSelection makes between broadcast-hash and
  * sort-merge: an interval side whose estimated size fits under the
  * broadcast threshold plans as [[BroadcastIntervalJoinExec]] (ZERO
  * shuffles — the point side streams through untouched, the interval
  * side ships once per executor), everything else as the sort-merge
  * [[IntervalJoinExec]] (two hash exchanges, the equi-join lower
  * bound). Threshold: `spark.graft.intervalJoin.broadcastThreshold`
  * when set, else `spark.sql.autoBroadcastJoinThreshold`; ≤ 0 disables
  * the broadcast path (the same contract as Spark's threshold).
  * Installed by [[graft.Graft.install]]. */
object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoin(l, r, lk, rk, lt, lo, hi) =>
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val threshold = conf
        .getConfString("spark.graft.intervalJoin.broadcastThreshold", "")
        match {
          case "" => conf.autoBroadcastJoinThreshold
          case s => s.toLong
        }
      if (threshold > 0 && r.stats.sizeInBytes <= threshold)
        BroadcastIntervalJoinExec(
          planLater(l), planLater(r), lk, rk, lt, lo, hi) :: Nil
      else
        IntervalJoinExec(planLater(l), planLater(r), lk, rk, lt, lo, hi) :: Nil
    case _ => Nil
  }
}

/** Sort-merge point-in-interval join (see [[IntervalJoin]] for the
  * operator design). Children arrive hash-clustered on the key and
  * sorted by (key, time) / (key, lo) via `requiredChildDistribution` /
  * `requiredChildOrdering`, so EnsureRequirements plans the minimal
  * exchanges exactly as for SortMergeJoin. The per-partition sweep:
  * as left times ascend within a key, right rows with lo ≤ t are
  * admitted to the active set once (each right row is consumed from
  * the buffered iterator exactly once) and rows with hi < t are
  * evicted permanently — correct because t never decreases within the
  * key, so an expired interval can never match a later point. */
case class IntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightLo: Expression,
    rightHi: Expression) extends BinaryExecNode {

  require(Seq(leftTime.dataType, rightLo.dataType, rightHi.dataType).forall(t =>
    t == LongType || t == TimestampNTZType || t.isInstanceOf[TimestampType]),
    s"interval-join bound columns must be LONG or TIMESTAMP (micros-backed), " +
      s"got ${leftTime.dataType.sql} / ${rightLo.dataType.sql} / " +
      s"${rightHi.dataType.sql}")

  override def output: Seq[Attribute] =
    left.output ++ right.output
      .filterNot(a => rightKeys.exists(_.semanticEquals(a)))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightLo).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  // rows emit grouped per left row, so the left's (key, time) order
  // survives the join
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)

  // observability for the sweep's central claim — state is the ACTIVE
  // SET, admitted once and evicted for good: admissions ≈ evictions
  // (+ whatever is open at end-of-key) in a healthy run, and
  // admissions ≫ output means low-selectivity intervals
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numAdmitted" -> SQLMetrics.createMetric(sparkContext, "intervals admitted to the active set"),
    "numEvicted" -> SQLMetrics.createMetric(sparkContext, "intervals evicted from the active set"))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val lo = rightLo; val hi = rightHi
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val numAdmitted = longMetric("numAdmitted")
    val numEvicted = longMetric("numEvicted")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rLoProj = UnsafeProjection.create(Seq(lo), rOut)
      val rHiProj = UnsafeProjection.create(Seq(hi), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lk.map(_.dataType))
      val outProj = UnsafeProjection.create(outAttrs, lOut ++ rOut)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // open intervals of the CURRENT key: (row copy, hi); bounded by
      // the key's maximum concurrent overlap, the operator's one buffer
      val active = new ArrayBuffer[(InternalRow, Long)]
      var activeKey: UnsafeRow = null
      // SQL inner-join null semantics: a NULL key or NULL bound makes
      // `l.key = r.key AND t BETWEEN lo AND hi` UNKNOWN, never a match —
      // but the sweep's natural ordering groups null keys together and
      // UnsafeRow.getLong reads a null field as 0, so null rows must be
      // dropped EXPLICITLY on both sides (left: skipped; right: consumed
      // off the buffered iterator — null keys/los sort first within
      // their run, so consumption preserves the merge order).
      lIter.flatMap { l =>
        val lKey = lKeyProj(l)
        val lTimeRow = lTimeProj(l)
        if (lKey.anyNull || lTimeRow.isNullAt(0)) Iterator.empty
        else {
          val lTm = lTimeRow.getLong(0)
          if (activeKey == null || keyOrd.compare(activeKey, lKey) != 0) {
            numEvicted += active.length // key change closes every open interval
            active.clear()
            activeKey = lKey.copy()
          }
          var scanning = true
          while (scanning && rBuf.hasNext) {
            val head = rBuf.head
            if (rKeyProj(head).anyNull) rBuf.next() // null key: no match ever
            else {
              val cmp = keyOrd.compare(rKeyProj(head), lKey)
              if (cmp < 0) rBuf.next() // right key behind every remaining left
              else if (cmp > 0) scanning = false
              else {
                val loRow = rLoProj(head)
                if (loRow.isNullAt(0)) rBuf.next() // null lo: no match ever
                else if (loRow.getLong(0) <= lTm) {
                  val r = rBuf.next().copy()
                  val hiRow = rHiProj(r)
                  // a null hi never matches; an interval already closed
                  // before this point can never match a later one either
                  // (times ascend) — drop, not admit
                  if (!hiRow.isNullAt(0) && hiRow.getLong(0) >= lTm) {
                    active += ((r, hiRow.getLong(0)))
                    numAdmitted += 1
                  }
                } else scanning = false
              }
            }
          }
          val before = active.length
          active.filterInPlace(_._2 >= lTm)
          numEvicted += before - active.length
          active.iterator.map { case (r, _) =>
            numOutputRows += 1
            outProj(joined(l, r))
          }
        }
      }
    }
  }
}

/** Broadcast point-in-interval join — the zero-shuffle strategy for a
  * small interval side (see [[IntervalJoinStrategy]] for the choice):
  * the interval rows broadcast once per executor (IdentityBroadcastMode
  * — plain rows, no hashed relation), each task builds a per-key
  * STABBING INDEX over them, and the point side streams through with
  * NO exchange and NO sort — `outputPartitioning`/`outputOrdering`
  * pass the left child's through untouched.
  *
  * The index is the classic sorted-by-lo array + max-hi segment tree:
  * a probe at time t binary-searches the count `c` of intervals with
  * lo ≤ t, then walks only the tree segments of [0, c) whose subtree
  * max-hi reaches t — O(log m + matches) per probe, never O(m).
  * Build cost is O(m log m) once per task, sized for a side that fit
  * under the broadcast threshold by definition.
  *
  * Null semantics match [[IntervalJoinExec]] exactly (and therefore
  * the composed SQL join): null-keyed/bounded interval rows are
  * dropped at build, null-keyed/timed point rows emit nothing.
  */
case class BroadcastIntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightLo: Expression,
    rightHi: Expression) extends BinaryExecNode {

  require(Seq(leftTime.dataType, rightLo.dataType, rightHi.dataType).forall(t =>
    t == LongType || t == TimestampNTZType || t.isInstanceOf[TimestampType]),
    s"interval-join bound columns must be LONG or TIMESTAMP (micros-backed), " +
      s"got ${leftTime.dataType.sql} / ${rightLo.dataType.sql} / " +
      s"${rightHi.dataType.sql}")

  override def output: Seq[Attribute] =
    left.output ++ right.output
      .filterNot(a => rightKeys.exists(_.semanticEquals(a)))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution ::
      BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastIntervalJoinExec =
    copy(left = newLeft, right = newRight)

  /** Per-key stabbing index: intervals sorted by lo; maxHi is a
    * power-of-two segment tree over the hi values (padding leaves =
    * Long.MinValue so they never match). */
  private final class KeyIndex(
      val los: Array[Long], val rows: Array[InternalRow],
      val sz: Int, val maxHi: Array[Long]) {
    /** rows with lo <= t <= hi, appended to `out`. */
    def probe(t: Long, out: scala.collection.mutable.ArrayBuffer[InternalRow]): Unit = {
      // c = count of intervals with lo <= t (upper bound on sorted los)
      var a = 0; var b = los.length
      while (a < b) {
        val mid = (a + b) >>> 1
        if (los(mid) <= t) a = mid + 1 else b = mid
      }
      val c = a
      if (c > 0) collect(1, 0, sz, c, t, out)
    }
    private def collect(node: Int, lo: Int, hi: Int, c: Int, t: Long,
        out: scala.collection.mutable.ArrayBuffer[InternalRow]): Unit = {
      if (lo >= c || maxHi(node) < t) return
      if (hi - lo == 1) { out += rows(lo); return }
      val mid = (lo + hi) >>> 1
      collect(2 * node, lo, mid, c, t, out)
      collect(2 * node + 1, mid, hi, c, t, out)
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val lo = rightLo; val hi = rightHi
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions({ lIter =>
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val rLoProj = UnsafeProjection.create(Seq(lo), rOut)
      val rHiProj = UnsafeProjection.create(Seq(hi), rOut)
      // group broadcast rows per key, drop null keys/bounds (SQL: never
      // match), sort each key's intervals by lo, build the segment tree
      val byKey = new java.util.HashMap[UnsafeRow, java.util.ArrayList[(Long, Long, InternalRow)]]()
      broadcastRows.value.foreach { r =>
        val key = rKeyProj(r)
        val loRow = rLoProj(r)
        val hiRow = rHiProj(r)
        if (!key.anyNull && !loRow.isNullAt(0) && !hiRow.isNullAt(0)) {
          var lst = byKey.get(key)
          if (lst == null) {
            lst = new java.util.ArrayList[(Long, Long, InternalRow)]()
            byKey.put(key.copy(), lst)
          }
          lst.add((loRow.getLong(0), hiRow.getLong(0), r))
        }
      }
      val index = new java.util.HashMap[UnsafeRow, KeyIndex](byKey.size * 2)
      byKey.forEach { (key, lst) =>
        val sorted = lst.toArray(new Array[(Long, Long, InternalRow)](lst.size))
          .sortBy(_._1)
        val n = sorted.length
        var sz = 1
        while (sz < n) sz <<= 1
        val maxHi = Array.fill(2 * sz)(Long.MinValue)
        var i = 0
        while (i < n) { maxHi(sz + i) = sorted(i)._2; i += 1 }
        var node = sz - 1
        while (node >= 1) {
          maxHi(node) = math.max(maxHi(2 * node), maxHi(2 * node + 1))
          node -= 1
        }
        index.put(key, new KeyIndex(
          sorted.map(_._1), sorted.map(_._3), sz, maxHi))
      }
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val outProj = UnsafeProjection.create(outAttrs, lOut ++ rOut)
      val joined = new JoinedRow
      val hits = new scala.collection.mutable.ArrayBuffer[InternalRow](16)
      lIter.flatMap { l =>
        val lKey = lKeyProj(l)
        val lTimeRow = lTimeProj(l)
        if (lKey.anyNull || lTimeRow.isNullAt(0)) Iterator.empty
        else {
          val idx = index.get(lKey)
          if (idx == null) Iterator.empty
          else {
            hits.clear()
            idx.probe(lTimeRow.getLong(0), hits)
            numOutputRows += hits.length
            hits.iterator.map(r => outProj(joined(l, r)))
          }
        }
      }
    }, preservesPartitioning = true)
  }
}
