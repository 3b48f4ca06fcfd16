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
  * runs, broadcasts and subqueries included. The header read that
  * resolves a CSV's columns scans it as text and is not counted. */
class ScanCountSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def csvScans(body: => Unit): Int = {
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
    try { body; GraftListenerBridge.drain(spark) }
    finally spark.listenerManager.unregister(listener)
    scans.get
  }

  test("PaTransform.runFile scans its input once") {
    val in = Files.createTempDirectory("scan_pa_in").toString
    val out = Files.createTempDirectory("scan_pa_out").toString
    Files.writeString(Paths.get(in, "pa.csv"),
      """ITEM_ID|LOCAL_REFERENCE_PRICE|CURRENT_PRICE|REASON|NEW_PRICE|ITEM_ATTR_5_NM|EFFECTIVE_DATE|EXPORT_DATE|PRICE_ZONE_ID
        |9002908|22.68|1|r|2|N|2020-08-06 00:00:00|2020-08-05 12:30:45|018-5
        |9002909|-1.5|1|r|2|Y|2020-08-07 10:00:00|2020-08-05 12:30:45|019-3
        |9002910|10.00|1|r|2|N|2020-08-07 10:00:00|2020-08-05 12:30:45|022-2
        |""".stripMargin)
    val mapping = spark.createDataFrame(Seq(Row("018", "01"), Row("019", "02")).asJava,
      StructType(Seq(StructField("opco_id", StringType), StructField("cluster_id", StringType))))
    var counts = (0L, 0L)
    val scans = csvScans {
      counts = PaTransform.runFile(spark, s"$in/pa.csv", c => s"$out/cluster_$c", mapping, Seq("018", "019"))
    }
    assert(counts === ((3L, 1L)))
    assert(scans === 1)
  }

  test("PriceZoneTransform.runFile scans its input twice: report, then write") {
    val in = Files.createTempDirectory("scan_pz_in").toString
    val out = Files.createTempDirectory("scan_pz_out").toString
    Files.writeString(Paths.get(in, "pz.csv"),
      """co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm
        |019,1234567,5,104612,2020-08-06 00:00:00
        |020,1234567,9,104612,2020-08-06 00:00:00
        |""".stripMargin)
    var received = 0L
    val scans = csvScans {
      received = PriceZoneTransform.runFile(spark, s"$in/pz.csv", out, Seq("019", "020")).received
    }
    assert(received === 2)
    assert(scans === 2)
  }
}
