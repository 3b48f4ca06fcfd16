package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, BinaryNode => LogicalBinaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Native backward AS-OF join — the whole-operator extension path the
  * composed form (x5's union + window trick) can't match on shuffle
  * count: a custom logical node, planner strategy, and sort-merge
  * physical operator registered through the session's extension points.
  *
  * Semantics (kdb/Pandas/DuckDB `ASOF LEFT JOIN`): for every left row,
  * attach the right row with the greatest rightTime ≤ leftTime among
  * rows sharing the join key, or nulls when none precedes it.
  *
  * Scale shape: EXACTLY two hash exchanges (one per side, on the key —
  * the same lower bound a plain equi-join pays) plus in-partition
  * sorts; the merge walks each partition ONCE with O(1) state (the
  * current candidate row), so skewed keys cost their row count, never
  * a per-key buffer. The composed alternative union-sorts BOTH tables
  * into one window pass — a wider exchange carrying a tag column, and
  * a window buffer per key. The reference's pipelines do this match in
  * pandas after collecting (`/root/reference/src/pa/pa_etl_script.py`
  * merges frames driver-side); here it stays distributed at any scale.
  */
/** Match direction: Backward = greatest rightTime <= leftTime (the
  * default everywhere: kdb aj, pandas merge_asof, DuckDB >=); Forward =
  * smallest rightTime >= leftTime. */
sealed trait AsOfDirection
case object AsOfBackward extends AsOfDirection
case object AsOfForward extends AsOfDirection

case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    direction: AsOfDirection = AsOfBackward,
    toleranceMicros: Option[Long] = None) extends LogicalBinaryNode {
  // right KEY columns are excluded: they equal the left keys on match
  // and are null otherwise — emitting them would only shadow the left
  // names (the same reason `USING` joins emit one key column)
  override def output: Seq[Attribute] =
    left.output ++ right.output
      .filterNot(a => rightKeys.exists(_.semanticEquals(a)))
      .map(_.withNullability(true))
  // the as-of join is ROW-PRESERVING: exactly one output row per left
  // row (backward/forward pick at most one match; misses null-extend),
  // so left's row bound is exact. Output bytes = left rows × the FULL
  // output width, i.e. left.sizeInBytes scaled by the output/left
  // row-width ratio (the UnaryNode sizing convention) — NOT
  // left+right: a narrow left against a wide right carries the right's
  // payload on every output row, and summing input sizes would
  // underestimate it and let a parent join wrongly broadcast the as-of
  // result. (Without any override the stats visitor falls to its
  // default — the PRODUCT of child sizes — and a parent join above an
  // as-of could never broadcast-plan it.)
  override def maxRows: Option[Long] = left.maxRows
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics = {
    val leftWidth = math.max(1L,
      left.output.map(_.dataType.defaultSize.toLong).sum)
    val outWidth = math.max(leftWidth,
      output.map(_.dataType.defaultSize.toLong).sum)
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes =
        (left.stats.sizeInBytes * outWidth / leftWidth).max(BigInt(1)),
      rowCount = left.stats.rowCount)
  }
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] physically — the size-based dual-strategy choice
  * (the interval join's twin, see [[IntervalJoinStrategy]]): a right
  * side under the broadcast threshold plans as
  * [[BroadcastAsOfJoinExec]] (zero shuffles, binary-search probes),
  * everything else as the sort-merge [[AsOfJoinExec]]. Threshold:
  * `spark.graft.asOfJoin.broadcastThreshold` when set, else
  * `spark.sql.autoBroadcastJoinThreshold`; ≤ 0 disables broadcast.
  * Installed by [[graft.Graft.install]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, dir, tol) =>
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val threshold = conf
        .getConfString("spark.graft.asOfJoin.broadcastThreshold", "")
        match {
          case "" => conf.autoBroadcastJoinThreshold
          case s => s.toLong
        }
      if (threshold > 0 && r.stats.sizeInBytes <= threshold)
        BroadcastAsOfJoinExec(
          planLater(l), planLater(r), lk, rk, lt, rt, dir, tol) :: Nil
      else
        AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, dir, tol) :: Nil
    case _ => Nil
  }
}

/** Sort-merge backward as-of join. Children arrive hash-clustered on
  * the key and sorted by (key, time) — declared through
  * `requiredChildDistribution`/`requiredChildOrdering`, so
  * EnsureRequirements plans the minimal exchanges exactly as it does
  * for SortMergeJoin. The per-partition merge keeps one candidate (the
  * latest right row not after the current left time); candidates carry
  * across left rows of the same key because both inputs are
  * time-sorted within the key. */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    direction: AsOfDirection = AsOfBackward,
    toleranceMicros: Option[Long] = None) extends BinaryExecNode {

  require(Seq(leftTime.dataType, rightTime.dataType).forall(t =>
    t == LongType || t == TimestampNTZType || t.isInstanceOf[TimestampType]),
    s"as-of time columns must be LONG or TIMESTAMP (micros-backed), got " +
      s"${leftTime.dataType.sql} / ${rightTime.dataType.sql}")

  override def output: Seq[Attribute] =
    left.output ++ right.output
      .filterNot(a => rightKeys.exists(_.semanticEquals(a)))
      .map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  // UI/observability parity with the built-in joins: row volume plus
  // the as-of-specific match rate (unmatched left rows null-extend
  // silently — the metric is how a mis-keyed join gets NOTICED)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "left rows with an as-of match"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
  // forward-mode candidates are the UN-CONSUMED buffered head, valid
  // only for the current left row's scan; backward candidates are
  // copies and persist across left rows of the key

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val rt = rightTime
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lk.map(_.dataType))
      // bind the key-pruned output against the FULL joined schema
      val outProj = UnsafeProjection.create(outAttrs,
        lOut ++ rOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      val tol = toleranceMicros.getOrElse(Long.MaxValue)
      val forward = direction == AsOfForward
      var cand: InternalRow = null
      var candTm = 0L
      var candKey: UnsafeRow = null
      // Null semantics match the SQL-equivalent argmax left join (and
      // DuckDB's ASOF LEFT JOIN): a null key or null time on either
      // side never matches — the left row null-extends, the right row
      // is skipped. Without the explicit checks, null keys compare
      // equal under the natural ordering and a null time reads as 0
      // through UnsafeRow.getLong (the IntervalJoinExec defect, fixed
      // in both operators the same round). Null-keyed / null-timed
      // right rows sort FIRST within their run, so consuming them off
      // the buffered iterator preserves the merge order.
      lIter.map { l =>
        numOutputRows += 1
        val lKey = lKeyProj(l)
        val lTimeRow = lTimeProj(l)
        if (lKey.anyNull || lTimeRow.isNullAt(0)) {
          outProj(joined(l, nullRight))
        } else {
          val lTm = lTimeRow.getLong(0)
          // forward candidates are re-derived per left row: the previous
          // row's candidate may since have been consumed (its buffer
          // recycled) when this row's time moved past it
          if (forward) cand = null
          var scanning = true
          while (scanning && rBuf.hasNext) {
            val head = rBuf.head
            if (rKeyProj(head).anyNull || rTimeProj(head).isNullAt(0)) {
              rBuf.next() // null key/time: can never match any left row
            } else {
              val cmp = keyOrd.compare(rKeyProj(head), lKey)
              if (cmp < 0) rBuf.next() // right key behind every remaining left
              else if (cmp > 0) scanning = false
              else if (forward) {
                // consume right rows strictly before lTm: no later left
                // (times ascend) can need them either; the match is the
                // un-consumed head, shared by every left row it covers
                if (rTimeProj(head).getLong(0) < lTm) rBuf.next()
                else {
                  cand = head
                  candTm = rTimeProj(head).getLong(0)
                  candKey = lKey.copy()
                  scanning = false
                }
              } else if (rTimeProj(head).getLong(0) <= lTm) {
                cand = rBuf.next().copy()
                candTm = rTimeProj(cand).getLong(0)
                candKey = lKey.copy()
              } else scanning = false
            }
          }
          val gapOk =
            if (forward) cand != null && candTm - lTm <= tol && candTm >= lTm
            else cand != null && lTm - candTm <= tol
          val matched = gapOk && keyOrd.compare(candKey, lKey) == 0
          if (matched) numMatched += 1
          outProj(joined(l, if (matched) cand else nullRight))
        }
      }
    }
  }
}

/** Broadcast as-of join — the zero-shuffle strategy for a small right
  * side (see [[AsOfJoinStrategy]] for the size-based choice, the same
  * one Spark's JoinSelection makes): the right rows broadcast once per
  * executor, each task groups them per key into a TIME-SORTED array,
  * and every left row resolves its match with one binary search —
  * backward (greatest rightTime ≤ leftTime) or forward (smallest ≥),
  * tolerance applied identically to the sort-merge exec. The left side
  * streams through with NO exchange and NO sort; partitioning and
  * ordering pass through.
  *
  * Null semantics match [[AsOfJoinExec]] (and the SQL-equivalent
  * argmax left join): null-keyed/timed right rows never become
  * candidates; null-keyed/timed left rows null-extend.
  */
case class BroadcastAsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    direction: AsOfDirection = AsOfBackward,
    toleranceMicros: Option[Long] = None) extends BinaryExecNode {

  require(Seq(leftTime.dataType, rightTime.dataType).forall(t =>
    t == LongType || t == TimestampNTZType || t.isInstanceOf[TimestampType]),
    s"as-of time columns must be LONG or TIMESTAMP (micros-backed), got " +
      s"${leftTime.dataType.sql} / ${rightTime.dataType.sql}")

  override def output: Seq[Attribute] =
    left.output ++ right.output
      .filterNot(a => rightKeys.exists(_.semanticEquals(a)))
      .map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution ::
      org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
        org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode) ::
      Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "left rows with an as-of match"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val rt = rightTime
    val outAttrs = output
    val tol = toleranceMicros.getOrElse(Long.MaxValue)
    val forward = direction == AsOfForward
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions({ lIter =>
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      // per-key rows sorted by time; ties keep ALL rows and the binary
      // search resolves to the same row the merge would (first/last of
      // the tied run — deterministic because the sort is stable on the
      // broadcast order and only the time value is compared)
      val byKey = new java.util.HashMap[UnsafeRow, java.util.ArrayList[(Long, InternalRow)]]()
      broadcastRows.value.foreach { r =>
        val key = rKeyProj(r)
        val tRow = rTimeProj(r)
        if (!key.anyNull && !tRow.isNullAt(0)) {
          var lst = byKey.get(key)
          if (lst == null) {
            lst = new java.util.ArrayList[(Long, InternalRow)]()
            byKey.put(key.copy(), lst)
          }
          lst.add((tRow.getLong(0), r))
        }
      }
      val index = new java.util.HashMap[UnsafeRow, (Array[Long], Array[InternalRow])](byKey.size * 2)
      byKey.forEach { (key, lst) =>
        val sorted = lst.toArray(new Array[(Long, InternalRow)](lst.size))
          .sortBy(_._1)
        index.put(key, (sorted.map(_._1), sorted.map(_._2)))
      }
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val outProj = UnsafeProjection.create(outAttrs,
        lOut ++ rOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      lIter.map { l =>
        val lKey = lKeyProj(l)
        val lTimeRow = lTimeProj(l)
        var matched: InternalRow = null
        if (!lKey.anyNull && !lTimeRow.isNullAt(0)) {
          val entry = index.get(lKey)
          if (entry != null) {
            val (times, rows) = entry
            val lTm = lTimeRow.getLong(0)
            if (forward) {
              // least index with times(i) >= lTm
              var a = 0; var b = times.length
              while (a < b) {
                val mid = (a + b) >>> 1
                if (times(mid) >= lTm) b = mid else a = mid + 1
              }
              if (a < times.length && times(a) - lTm <= tol)
                matched = rows(a)
            } else {
              // greatest index with times(i) <= lTm
              var a = 0; var b = times.length
              while (a < b) {
                val mid = (a + b) >>> 1
                if (times(mid) <= lTm) a = mid + 1 else b = mid
              }
              if (a > 0 && lTm - times(a - 1) <= tol)
                matched = rows(a - 1)
            }
          }
        }
        numOutputRows += 1
        if (matched != null) numMatched += 1
        outProj(joined(l, if (matched != null) matched else nullRight))
      }
    }, preservesPartitioning = true)
  }
}
