package graft.transform

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.validate.{Rules, ValidationReport, ValidationRule, Validator}

/** The Price Zone pipeline data plane
  * (`/root/reference/src/price_zone/transform_spark_job.py`), rebuilt as
  * one declarative Spark plan:
  *
  *   scan → ApplyMapping select → single-pass validation (all 9 rules of
  *   `transform_spark_job.py:66-82` in one projection) → group-level
  *   removal → derive typed columns → partitioned write.
  *
  * The reference runs ≥14 Spark jobs for validation plus 3 count scans;
  * this plan reads the file twice, in two jobs and with no exchange: the
  * report's map-only per-group summary, then the write, which removes
  * failed groups with a filter over the keys the summary already
  * collected. A file with no valid row stops after the first job
  * (`ScanCountSpec`).
  */
object PriceZoneTransform {

  /** P1 — ApplyMapping: rename/project the 5 contract columns
    * (`transform_spark_job.py:54-59`). */
  def applyMapping(raw: DataFrame): DataFrame =
    raw.select(
      col("co_nbr").as("opco_id"),
      col("supc"),
      col("prc_zone").as("price_zone"),
      col("cust_nbr").as("customer_id"),
      col("eff_from_dttm"))

  /** The nine rules of `transform_spark_job.py:66-82`, in reference
    * order (order only affects report layout — evaluation is one pass).
    */
  def rules(activeOpcos: Seq[String]): Seq[ValidationRule] = Seq(
    Rules.nonNullNumeric("customer_id"),
    Rules.nonNullNumeric("supc"),
    Rules.nonNullNumeric("price_zone"),
    Rules.dateFormat("eff_from_dttm"),
    Rules.maxLength("customer_id", Rules.CustNbrLength),
    Rules.maxLength("supc", Rules.SupcLength),
    Rules.memberOf("opco_id", activeOpcos),
    Rules.intRange("price_zone", Rules.PriceZoneMin, Rules.PriceZoneMax),
    Rules.parseableTimestamp("eff_from_dttm"))

  /** Typed derivations applied to validated rows: price_zone → int
    * (`transform_spark_job.py:78`), effective_date ← eff_from_dttm
    * (`transform_spark_job.py:81,100-104` — derived, source dropped,
    * rendered back to string for the CSV contract). */
  def finalize(validated: DataFrame): DataFrame =
    validated
      .withColumn("price_zone", col("price_zone").cast(IntegerType))
      .withColumn("effective_date",
        date_format(Rules.parsedTimestamp("eff_from_dttm"), "yyyy-MM-dd HH:mm:ss"))
      .drop("eff_from_dttm")

  /** Full transform on a pre-mapped frame; returns the output frame and
    * the run report (received/valid counts + failed opcos — the payload
    * of `transform_spark_job.py:86-92`). Throws when zero valid records
    * remain, matching `transform_spark_job.py:94-95`. */
  def run(mapped: DataFrame, activeOpcos: Seq[String]): (DataFrame, ValidationReport) = {
    val (valid, report) = Validator.run(mapped, rules(activeOpcos), "opco_id")
    if (report.valid == 0L)
      throw new IllegalStateException("There are no valid records to process")
    (finalize(valid), report)
  }

  /** End-to-end: CSV in, partitioned CSV out
    * (`transform_spark_job.py:44-48,107-111`). */
  def runFile(
      spark: SparkSession,
      inputPath: String,
      outputPath: String,
      activeOpcos: Seq[String]): ValidationReport = {
    val raw = graft.sources.CsvSources.commaAllString(spark, inputPath)
    val (out, report) = run(applyMapping(raw), activeOpcos)
    graft.sinks.PartitionedCsvSink.write(out, outputPath, Seq("opco_id"))
    report
  }
}
