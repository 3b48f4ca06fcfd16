package graft.validate

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{HashMap => JHashMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column => bridged, expression => exprOf, normalizedKey}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, In, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

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

/** Group-attribution validation: one flag projection, then the failed
  * groups. `run` finds them with one map-only job (each partition folds
  * its rows into per-group counts, the driver merges them) and removes
  * them with a filter over their collected keys; `failedGroups` and
  * `validRows`, the plan-only forms the gates use, aggregate per group
  * and remove with a broadcast anti-join.
  *
  * Semantics (SURVEY.md §2.3): error attribution is group-level — one bad
  * row poisons its whole group (`get_opco_list`,
  * `/root/reference/src/price_zone/validator.py:24-25`; removal
  * `validator.py:28-32`).
  *
  * Scale design: the flagged projection is a single map-side pass fused
  * by whole-stage codegen. The group set is at most |groups| rows
  * (dimension-sized by contract): `run` brings one count array per group
  * and partition back to the driver, with no exchange and no second job,
  * and `validRows`' failed-group set is small enough to broadcast.
  * Nothing here collects data rows to the driver.
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

  /** Per-group summary as one aggregation: row count, then the number
    * of violating rows per rule. `run` computes the same counts without
    * an exchange; this plan form is the reference its tests check it
    * against (`ValidatorSpec`). */
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

  /** Full run: valid rows + a one-pass report. One map-only job scans
    * the input: each partition folds its rows into one count array per
    * group key (rows, then violations per rule) and the driver merges
    * the partitions' arrays ([[summarize]]); there is no exchange. The
    * valid frame is left lazy for the caller's sink, a null-safe filter
    * over the failed keys already collected, so writing it is one more
    * scan and no aggregate (`ScanCountSpec`). Same rows as
    * [[validRows]], same report as one built from [[groupSummary]]
    * (`ValidatorSpec`). A failed key renders as its Scala value's
    * `toString`, a binary key as its bytes decoded as UTF-8.
    */
  def run(df: DataFrame, rules: Seq[ValidationRule], groupCol: String): (DataFrame, ValidationReport) = {
    val (keyType, groups) = summarize(flagged(df, rules), rules, groupCol)
    val received = groups.map(_._2(0)).sum
    val byRule = rules.zipWithIndex.map { case (r, i) => r.name -> groups.map(_._2(i + 1)).sum }.toMap
    val failed = groups.filter(_._2.iterator.drop(1).exists(_ > 0L))
    val toScala = CatalystTypeConverters.createToScalaConverter(keyType)
    // deterministic report order: null key first, then lexicographic
    val failedKeys = failed.map(g => Option(toScala(g._1)).map {
      case b: Array[Byte] => new String(b, UTF_8)
      case k => k.toString
    }).sortBy(k => (k.isDefined, k.getOrElse("")))
    val report = ValidationReport(received, received - failed.map(_._2(0)).sum, failedKeys, byRule)
    val (nullKey, keys) = failed.map(_._1).partition(_ == null)
    val inFailed =
      if (keys.isEmpty) lit(false)
      else bridged(In(exprOf(col(groupCol)), keys.map(Literal(_, keyType))))
    (df.filter(when(col(groupCol).isNull, lit(nullKey.isEmpty)).otherwise(!inFailed)), report)
  }

  /** The group key's type and, per group, its key (Catalyst's internal
    * value, null for the null group) with (rows, violations of each rule).
    * One tracked SQL execution, so query listeners see its scan; its
    * one job returns one partial per partition through the result stage,
    * so a retried task cannot count a row twice. */
  private def summarize(flaggedDf: DataFrame, rules: Seq[ValidationRule], groupCol: String)
      : (DataType, Seq[(Any, Array[Long])]) = {
    val projected = flaggedDf.select(col(groupCol) +: rules.map(r => col(r.flagName)): _*)
    val keyType = projected.schema.head.dataType
    val width = rules.size + 1
    val qe = projected.queryExecution
    val partials = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.toRdd.mapPartitions(rows => Iterator.single(fold(rows, keyType, width))).collect()
    }
    val merged = new JHashMap[UnsafeRow, Array[Long]]()
    partials.foreach(_.forEach((k, counts) =>
      merged.merge(k, counts, (a, b) => { a.indices.foreach(i => a(i) += b(i)); a })))
    (keyType, merged.asScala.toSeq.map { case (k, counts) =>
      (if (k.isNullAt(0)) null else k.get(0, keyType), counts)
    })
  }

  /** One partition's groups. The key is projected into a reused
    * one-column `UnsafeRow`, floats normalized as grouping does (-0.0 is
    * 0.0, every NaN one key), so keys of any type compare by content,
    * binary included, null is its own group, and a row allocates nothing:
    * the key is copied only when first seen. */
  private def fold(rows: Iterator[InternalRow], keyType: DataType, width: Int)
      : JHashMap[UnsafeRow, Array[Long]] = {
    val keyOf = UnsafeProjection.create(
      normalizedKey(BoundReference(0, keyType, nullable = true)))
    val groups = new JHashMap[UnsafeRow, Array[Long]]()
    while (rows.hasNext) {
      val row = rows.next()
      val key = keyOf(row)
      var counts = groups.get(key)
      if (counts == null) {
        counts = new Array[Long](width)
        groups.put(key.copy(), counts)
      }
      counts(0) += 1
      var i = 1
      while (i < width) {
        if (row.getBoolean(i)) counts(i) += 1
        i += 1
      }
    }
    groups
  }
}
