package graft.transform

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.SparkSpec

/** Pins how many times each pipeline reads its input file: the count of
  * CSV file-source scans in the executed plans of every query a call
  * runs, broadcasts and subqueries included; how many Spark jobs the
  * call starts; and that no plan moves data between tasks for the
  * dimension-sized work (the report's per-group summary, PA's cluster
  * routing). Resolving the CSV's columns reads its header line on the
  * driver (`CsvSources`), so it adds neither a scan nor a job. */
class ScanCountSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** (executed plans, Spark jobs) of `body`. */
  private def plansAndJobs(body: => Unit): (Seq[SparkPlan], Int) = {
    val ((_, jobs), plans) = executedPlansDuring(jobsDuring(body))
    (plans, jobs)
  }

  private def csvScans(plans: Seq[SparkPlan]): Int = plans.map(p => collectWithSubqueries(p) {
    case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => s
  }.size).sum

  private def exchanges(plans: Seq[SparkPlan]): Seq[Exchange] =
    plans.flatMap(p => collectWithSubqueries(p) { case e: Exchange => e })

  private def writePz(dir: String, rows: String*): String = {
    val path = Paths.get(dir, "pz.csv")
    Files.writeString(path, ("co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm" +: rows).mkString("", "\n", "\n"))
    path.toString
  }

  test("PaTransform.runFile scans its input once") { withTempDir("scan_pa") { root =>
    val in = mkdir(root, "in")
    val out = mkdir(root, "out")
    Files.writeString(Paths.get(in, "pa.csv"),
      """ITEM_ID|LOCAL_REFERENCE_PRICE|CURRENT_PRICE|REASON|NEW_PRICE|ITEM_ATTR_5_NM|EFFECTIVE_DATE|EXPORT_DATE|PRICE_ZONE_ID
        |9002908|22.68|1|r|2|N|2020-08-06 00:00:00|2020-08-05 12:30:45|018-5
        |9002909|-1.5|1|r|2|Y|2020-08-07 10:00:00|2020-08-05 12:30:45|019-3
        |9002910|10.00|1|r|2|N|2020-08-07 10:00:00|2020-08-05 12:30:45|022-2
        |""".stripMargin)
    val mapping = spark.createDataFrame(Seq(Row("018", "01"), Row("019", "02")).asJava,
      StructType(Seq(StructField("opco_id", StringType), StructField("cluster_id", StringType))))
    var counts = (0L, 0L)
    val (plans, jobs) = plansAndJobs {
      counts = PaTransform.runFile(spark, s"$in/pa.csv", c => s"$out/cluster_$c", mapping, Seq("018", "019"))
    }
    assert(counts === ((3L, 1L)))
    assert(csvScans(plans) === 1)
    // the write is the only job: routing looks the mapping up on the
    // driver instead of broadcasting it
    assert(jobs === 1)
    assert(exchanges(plans).collect { case b: BroadcastExchangeExec => b } === Nil)
  } }

  test("PriceZoneTransform.runFile scans its input twice: report, then write") { withTempDir("scan_pz") { root =>
    val in = mkdir(root, "in")
    val out = mkdir(root, "out")
    val input = writePz(in,
      "019,1234567,5,104612,2020-08-06 00:00:00",
      "020,1234567,9,104612,2020-08-06 00:00:00")
    var received = 0L
    val (plans, jobs) = plansAndJobs {
      received = PriceZoneTransform.runFile(spark, input, out, Seq("019", "020")).received
    }
    assert(received === 2)
    assert(csvScans(plans) === 2)
    // the report's per-group summary is one map-only job, the write another
    assert(jobs === 2)
    assert(csvScans(plans.take(1)) === 1)
    assert(exchanges(plans) === Nil)
  } }

  test("PriceZoneTransform.runFile rejects a file whose every opco fails after one job") {
    withTempDir("scan_pz_rejected") { root =>
      val input = writePz(mkdir(root, "in"),
        "019,1234567,9,104612,2020-08-06 00:00:00",
        "020,abc,5,104612,2020-08-06 00:00:00",
        "021,1234567,5,104612,2020-08-06 00:00:00")
      val (plans, jobs) = plansAndJobs {
        val e = intercept[IllegalStateException] {
          PriceZoneTransform.runFile(spark, input, s"$root/out", Seq("019", "020"))
        }
        assert(e.getMessage === "There are no valid records to process")
      }
      assert(jobs === 1)
      assert(csvScans(plans) === 1)
      assert(exchanges(plans) === Nil)
      assert(!Files.exists(Paths.get(root, "out")))
    }
  }
}
