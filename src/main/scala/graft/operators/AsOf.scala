package graft.operators

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import graft.plans.{AsOfBackward, AsOfDirection, AsOfForward, AsOfJoin}

/** Public entry for the native backward as-of join (see
  * [[graft.plans.AsOfJoin]] for the operator design). Resolves columns
  * by name against the analyzed children, re-aliases the right side
  * with fresh expression ids (the two sides usually scan the same
  * table, and a bypassed analyzer never runs Join's dedupRight), and
  * runs [[graft.Graft.install]] so the operator plans on ANY
  * SparkSession. The same install puts the SQL auto-rewrite on the
  * session: the standard as-of idiom (equi + time-bound join topped by
  * `row_number() = 1` per left row, or its max_by/min_by aggregate
  * spelling) plans as the native node with no API change (see
  * [[graft.plans.AsOfJoinAutoRewrite]]; disable per-session with
  * `spark.graft.asOfJoin.autoRewrite=false`).
  */
object AsOf {

  /** Backward as-of join: every `left` row gains the `right` row with
    * the greatest `rightTime` ≤ `leftTime` for equal `keys`, or nulls.
    * Right columns keep their names; callers project/rename as usual.
    * `toleranceMicros` bounds the match gap (pandas merge_asof's
    * `tolerance`): matches farther back than the bound become nulls.
    */
  def joinBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      toleranceMicros: Option[Long] = None): DataFrame =
    join(left, right, keys, leftTime, rightTime, AsOfBackward, toleranceMicros)

  /** Forward as-of join: the SMALLEST `rightTime` ≥ `leftTime` per key
    * (pandas merge_asof direction='forward'; DuckDB `ON l.t <= r.t`). */
  def joinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      toleranceMicros: Option[Long] = None): DataFrame =
    join(left, right, keys, leftTime, rightTime, AsOfForward, toleranceMicros)

  private def join(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, direction: AsOfDirection,
      toleranceMicros: Option[Long]): DataFrame = {
    val spark = left.sparkSession
    graft.Graft.install(spark)
    val lPlan = left.queryExecution.analyzed
    val rAnalyzed = right.queryExecution.analyzed
    // fresh ids so self-as-of (same scan on both sides) stays unambiguous
    val rPlan = Project(
      rAnalyzed.output.map(a => Alias(a, a.name)()), rAnalyzed)
    def attr(out: Seq[Attribute], name: String, side: String): Attribute =
      out.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"as-of $side column '$name' not in [${out.map(_.name).mkString(", ")}]"))
    val rOut = rPlan.output
    GraftPlanBridge.ofRows(spark, AsOfJoin(
      lPlan, rPlan,
      keys.map(attr(lPlan.output, _, "left key")),
      keys.map(attr(rOut, _, "right key")),
      attr(lPlan.output, leftTime, "left time"),
      attr(rOut, rightTime, "right time"),
      direction, toleranceMicros))
  }
}
