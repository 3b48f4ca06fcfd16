package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-run validation report (SURVEY.md §2.10 O4): the counts the
  * reference pushes to its metadata lambda
  * (`/root/reference/src/price_zone/transform_spark_job.py:86-92`), all
  * derived from ONE aggregation pass instead of three extra scans.
  */
final case class ValidationReport(
    received: Long,
    valid: Long,
    failedGroups: Seq[Option[String]],
    violationsByRule: Map[String, Long]) {
  def invalid: Long = received - valid
  /** Failed groups as the reference renders them (null attribution keys
    * are legal — `test_data_validator.py:358-400`). */
  def failedGroupKeys: Seq[String] = failedGroups.map(_.orNull)
}

/** Group-attribution validation: one flag projection and one per-group
  * aggregate; `run` removes the failed groups with a filter over their
  * collected keys, `validRows` with a broadcast anti-join.
  *
  * Semantics (SURVEY.md §2.3): error attribution is group-level — one bad
  * row poisons its whole group (`get_opco_list`,
  * `/root/reference/src/price_zone/validator.py:24-25`; removal
  * `validator.py:28-32`).
  *
  * Scale design: the flagged projection is a single map-side pass fused
  * by whole-stage codegen; the failed-group set is produced by a partial
  * (map-side combined) aggregate on the group key and is at most
  * |groups| rows, so the removal join broadcasts. Nothing here collects
  * data rows to the driver; `run` collects only the per-group summary
  * (bounded by group cardinality, dimension-sized by contract).
  * Unlike the reference's `~isin(failed_list)` — which silently drops
  * ALL rows when a NULL key is in the list (SQL NOT IN semantics) — both
  * removals are null-safe.
  */
object Validator {

  /** Input plus one boolean `_viol_*` column per rule. */
  def flagged(df: DataFrame, rules: Seq[ValidationRule]): DataFrame =
    df.select(df.columns.map(col).toIndexedSeq ++ rules.map(_.flag): _*)

  private def anyViolation(rules: Seq[ValidationRule]): Column =
    rules.map(r => col(r.flagName)).reduce(_ || _)

  /** Distinct group keys owning at least one violating row (F9).
    *
    * Shaped as projection → per-group max-aggregate rather than
    * filter+distinct: a pushed-down Filter would inline every rule's
    * expression tree into one giant OR that codegen cannot
    * common-subexpression-eliminate (measured ~10× slower per row); a
    * Project computes each flag once, and the aggregate ships one
    * boolean per group partition map-side. */
  def failedGroups(flaggedDf: DataFrame, rules: Seq[ValidationRule], groupCol: String): DataFrame =
    flaggedDf
      .select(col(groupCol), anyViolation(rules).cast("int").as("_viol_any"))
      .groupBy(col(groupCol))
      .agg(max(col("_viol_any")).as("_bad"))
      .filter(col("_bad") === 1)
      .select(col(groupCol))

  /** Per-group summary in one aggregation: row count + one any-violation
    * flag per rule. Everything in `report()` derives from this. */
  def groupSummary(flaggedDf: DataFrame, rules: Seq[ValidationRule], groupCol: String): DataFrame =
    flaggedDf.groupBy(col(groupCol)).agg(
      count(lit(1)).as("_rows"),
      rules.map(r => sum(col(r.flagName).cast("long")).as(r.flagName)): _*)

  /** Rows whose group has no violating row anywhere (F8 + F9 fused).
    * Null-safe on the group key. */
  def validRows(
      df: DataFrame,
      rules: Seq[ValidationRule],
      groupCol: String): DataFrame = {
    val f = flagged(df, rules)
    val failed = failedGroups(f, rules, groupCol)
      .withColumnRenamed(groupCol, "_failed_group")
    f.join(broadcast(failed), col(groupCol) <=> col("_failed_group"), "left_anti")
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Full run: valid rows + a one-pass report. One job, the summary
    * collect, scans the input; the valid frame is left lazy for the
    * caller's sink, a null-safe filter over the failed keys already
    * collected, so writing it is one more scan and no aggregate
    * (`ScanCountSpec`). Same rows as [[validRows]].
    */
  def run(df: DataFrame, rules: Seq[ValidationRule], groupCol: String): (DataFrame, ValidationReport) = {
    val f = flagged(df, rules)
    val summaryRows = groupSummary(f, rules, groupCol).collect()
    val received = summaryRows.map(_.getLong(1)).sum
    val byRule = rules.zipWithIndex.map { case (r, i) =>
      r.name -> summaryRows.map(row => if (row.isNullAt(i + 2)) 0L else row.getLong(i + 2)).sum
    }.toMap
    val failed = summaryRows.filter(row =>
      rules.indices.exists(i => !row.isNullAt(i + 2) && row.getLong(i + 2) > 0L))
    // deterministic report order: null key first, then lexicographic
    val failedKeys = failed.map(row => Option(row.get(0)).map(_.toString)).toSeq
      .sortBy(k => (k.isDefined, k.getOrElse("")))
    val validCount = received - failed.map(_.getLong(1)).sum
    val report = ValidationReport(received, validCount, failedKeys, byRule)
    val (nullKey, keys) = failed.map(_.get(0)).partition(_ == null)
    val inFailed = if (keys.isEmpty) lit(false) else col(groupCol).isin(keys.toIndexedSeq: _*)
    (df.filter(when(col(groupCol).isNull, lit(nullKey.isEmpty)).otherwise(!inFailed)), report)
  }
}
