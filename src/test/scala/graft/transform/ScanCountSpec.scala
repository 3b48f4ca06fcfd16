package graft.transform

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{GraftListenerBridge, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec

/** Pins how many times each pipeline reads its input file: the count of
  * CSV file-source scans in the executed plans of every query a call
  * runs, broadcasts and subqueries included; and how many Spark jobs the
  * call starts. Resolving the CSV's columns reads its header line on the
  * driver (`CsvSources`), so it adds neither a scan nor a job. */
class ScanCountSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** (CSV scans, Spark jobs) of `body`. */
  private def csvScansAndJobs(body: => Unit): (Int, Int) = {
    val scans = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        scans.addAndGet(collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => s
        }.size)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    GraftListenerBridge.drain(spark)
    spark.listenerManager.register(listener)
    val jobs = try jobsDuring(body)._2
    finally spark.listenerManager.unregister(listener)
    (scans.get, jobs)
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
    val (scans, jobs) = csvScansAndJobs {
      counts = PaTransform.runFile(spark, s"$in/pa.csv", c => s"$out/cluster_$c", mapping, Seq("018", "019"))
    }
    assert(counts === ((3L, 1L)))
    assert(scans === 1)
    assert(jobs === 2)
  } }

  test("PriceZoneTransform.runFile scans its input twice: report, then write") { withTempDir("scan_pz") { root =>
    val in = mkdir(root, "in")
    val out = mkdir(root, "out")
    Files.writeString(Paths.get(in, "pz.csv"),
      """co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm
        |019,1234567,5,104612,2020-08-06 00:00:00
        |020,1234567,9,104612,2020-08-06 00:00:00
        |""".stripMargin)
    var received = 0L
    val (scans, jobs) = csvScansAndJobs {
      received = PriceZoneTransform.runFile(spark, s"$in/pz.csv", out, Seq("019", "020")).received
    }
    assert(received === 2)
    assert(scans === 2)
    assert(jobs === 3)
  } }
}
