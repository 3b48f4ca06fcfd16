package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.ValidationQueries
import graft.transform.PriceZoneTransform
import graft.validate.Validator

/** Head-to-head: the reference's validation execution pattern vs this
  * engine's single-pass design, on identical data and rules.
  *
  * Reference pattern (`/root/reference/src/price_zone/transform_spark_job.py:66-95`
  * + `validator.py:8-25`): per rule, one `head(1)` probe job + one
  * `distinct().collect()` job; then three whole-input `count()`s —
  * ~17 scans, no caching. Ours: one flag projection feeding one
  * per-group aggregate (report) + one anti-join pass at sink time.
  *
  * `runMain graft.tools.RefComparison [sfDir]` prints both wall times
  * and the scan counts. This quantifies the SURVEY §4.1 anti-pattern
  * rather than guessing at it.
  */
object RefComparison {

  def referenceStyle(df: DataFrame, activeOpcos: Seq[String]): (Long, Seq[String]) = {
    var invalid = List.empty[String]
    var jobs = 0L
    // one probe + one distinct-collect per rule, exactly like validator.py
    PriceZoneTransform.rules(activeOpcos).foreach { rule =>
      val bad = df.filter(coalesce(rule.invalid, lit(false)))
      if (bad.head(1).nonEmpty) { jobs += 1 } // the show() probe
      jobs += 1
      invalid = invalid ++ bad.select(col("opco_id")).distinct()
        .collect().map(r => Option(r.getString(0)).orNull)
    }
    val survivors = df.filter(!col("opco_id").isin(invalid: _*))
    // the reference's three uncached counts (:90-91,:94)
    jobs += 3
    df.count(); survivors.count(); survivors.count()
    (jobs, invalid.distinct)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.BenchSupport.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")

    val df = ValidationQueries.synth(spark, sfDir)
    val active = ValidationQueries.activeOpcos
    df.count() // warm file index

    val t0 = System.nanoTime()
    val (jobs, refFailed) = referenceStyle(df, active)
    val t1 = System.nanoTime()
    val (valid, report) = Validator.run(df, PriceZoneTransform.rules(active), "opco_id")
    valid.count() // the sink-side pass
    val t2 = System.nanoTime()

    require(refFailed.toSet == report.failedGroupKeys.toSet,
      s"disagreement: ref=${refFailed.sorted} ours=${report.failedGroupKeys}")
    val refS = (t1 - t0) / 1e9
    val oursS = (t2 - t1) / 1e9
    println(f"""{"reference_pattern_sec":$refS%.3f,"single_pass_sec":$oursS%.3f,""" +
      f""""speedup":${refS / oursS}%.2f,"reference_jobs":$jobs,"failed_groups":${report.failedGroupKeys.size}}""")
    spark.stop()
  }
}
