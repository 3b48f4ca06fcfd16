package graft.operators

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import graft.plans.IntervalJoin

/** Public entry for the native keyed point-in-interval join (see
  * [[graft.plans.IntervalJoin]] for the operator design). Resolves
  * columns by name against the analyzed children, re-aliases the right
  * side with fresh expression ids (both sides often derive from the
  * same scan, and a bypassed analyzer never runs Join's dedupRight),
  * and runs [[graft.Graft.install]] so the operator plans on ANY
  * SparkSession. The same install puts the SQL auto-rewrite on the
  * session: a plain inner join of the shape
  * `l.k = r.k AND t BETWEEN lo AND hi` plans as the native sweep with
  * no API change (see [[graft.plans.IntervalJoinAutoRewrite]]; disable
  * per-session with `spark.graft.intervalJoin.autoRewrite=false`).
  */
object Interval {

  /** Inner point-in-interval join: every `left` row (keys, `leftTime`)
    * is joined with each `right` row (keys, `rightLo`, `rightHi`)
    * satisfying `rightLo <= leftTime <= rightHi` (BETWEEN bounds).
    * Right key columns are elided (they equal the left's); other right
    * columns keep their names — callers project/rename as usual.
    * Null semantics match the composed SQL join: a row with a null
    * key, null `leftTime`, or null `rightLo`/`rightHi` never matches
    * (the exec drops such rows before the sweep). */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightLo: String, rightHi: String): DataFrame = {
    val spark = left.sparkSession
    graft.Graft.install(spark)
    val lPlan = left.queryExecution.analyzed
    val rAnalyzed = right.queryExecution.analyzed
    // fresh ids so self-joins (same scan on both sides) stay unambiguous
    val rPlan = Project(
      rAnalyzed.output.map(a => Alias(a, a.name)()), rAnalyzed)
    def attr(out: Seq[Attribute], name: String, side: String): Attribute =
      out.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"interval-join $side column '$name' not in " +
          s"[${out.map(_.name).mkString(", ")}]"))
    val rOut = rPlan.output
    GraftPlanBridge.ofRows(spark, IntervalJoin(
      lPlan, rPlan,
      keys.map(attr(lPlan.output, _, "left key")),
      keys.map(attr(rOut, _, "right key")),
      attr(lPlan.output, leftTime, "left time"),
      attr(rOut, rightLo, "right lo"),
      attr(rOut, rightHi, "right hi")))
  }
}
