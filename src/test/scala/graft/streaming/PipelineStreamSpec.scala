package graft.streaming

import java.nio.file.{Files, Paths}
import graft.SparkSpec

class PipelineStreamSpec extends SparkSpec {

  private def write(dir: String, name: String, body: String): Unit =
    Files.writeString(Paths.get(dir, name), body)

  test("arriving csv files stream through validate -> partitioned layout") { withTempDir("pzs") { root =>
    val in = mkdir(root, "pzs_in")
    val out = mkdir(root, "pzs_out")
    val ckpt = mkdir(root, "pzs_ckpt")

    write(in, "f1.csv",
      """co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm
        |019,1234567,5,104612,2020-08-06 00:00:00
        |020,7654321,9,104613,2020-08-06 00:00:00
        |""".stripMargin)
    write(in, "f2.csv",
      """co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm
        |020,1111111,3,104614,2020-08-07 00:00:00
        |""".stripMargin)

    val reports = PipelineStream.runPriceZoneStream(
      spark, in, out, ckpt, activeOpcos = Seq("019", "020"))

    assert(reports.nonEmpty)
    val total = reports.map(_.report.received).sum
    assert(total === 3)
    // opco 020 poisoned in f1 (zone 9) but batch boundaries matter:
    // f2's 020 row is valid if processed in a separate batch
    // idempotent sink: each batch lands under batch_id=<id>/opco_id=<o>
    val batchDirs = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(batchDirs.nonEmpty && batchDirs.forall(_.getName.startsWith("batch_id=")))
    val opcoDirs = batchDirs.flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName).toSet
    assert(opcoDirs.contains("opco_id=019"))

    // second run with same checkpoint: nothing new to process
    val again = PipelineStream.runPriceZoneStream(
      spark, in, out, ckpt, activeOpcos = Seq("019", "020"))
    assert(again.map(_.report.received).sum === 0)

    // late-arriving file picked up incrementally with exactly-once offsets
    write(in, "f3.csv",
      """co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm
        |019,2222222,2,104615,2020-08-08 00:00:00
        |""".stripMargin)
    val third = PipelineStream.runPriceZoneStream(
      spark, in, out, ckpt, activeOpcos = Seq("019", "020"))
    assert(third.map(_.report.received).sum === 1)
    val back = spark.read.option("header", "true").csv(s"$out/batch_id=*/opco_id=019")
    assert(back.count() >= 2) // f1's 019 row + f3's row
  } }

  test("PA stream: one batch per file lands only its non-empty cluster, batch-scoped") { withTempDir("pas") { root =>
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val in = mkdir(root, "pas_in")
    val out = mkdir(root, "pas_out")
    val ckpt = mkdir(root, "pas_ckpt")
    // file columns in the contract header order (Schemas.paRaw)
    val header = "ITEM_ID|PRICE_ZONE_ID|EFFECTIVE_DATE|LOCAL_REFERENCE_PRICE|EXPORT_DATE|ITEM_ATTR_5_NM|CURRENT_PRICE|REASON|NEW_PRICE"
    write(in, "pa_1.csv", s"""$header
      |9002908|018-5|2020-08-06 00:00:00|22.68|2020-08-05 12:30:45|N|1|r|2
      |9002909|018-3|2020-08-07 10:00:00|-1.5|2020-08-05 12:30:45|Y|1|r|2
      |""".stripMargin)
    write(in, "pa_2.csv", s"""$header
      |9002910|019-2|2020-08-07 10:00:00|10.00|2020-08-05 12:30:45|N|1|r|2
      |""".stripMargin)
    val mapping = spark.createDataFrame(Seq(Row("018", "01"), Row("019", "02")).asJava,
      StructType(Seq(StructField("opco_id", StringType), StructField("cluster_id", StringType))))

    val reports = PipelineStream.runPaStream(
      spark, in, out, ckpt, mapping, Seq("018", "019"), maxFilesPerTrigger = Some(1))

    assert(reports.map(r => (r.records, r.badPrice)).toSet === Set((2L, 1L), (1L, 0L)))
    def batches(cluster: String) = Option(new java.io.File(s"$out/cluster=$cluster").list())
      .toSeq.flatten.filter(_.startsWith("batch_id=")).sorted
    // each batch routes to one cluster; the other cluster gets no dir
    assert(batches("01").size === 1 && batches("02").size === 1)
    assert(batches("01") != batches("02"))
    assert(new java.io.File(out).list().sorted.toSeq === Seq("cluster=01", "cluster=02"))
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSet.contains("batch_id") && back.count() === 3)
    assert(new java.io.File(s"$out/cluster=01/${batches("01").head}/_SUCCESS").isFile)
  } }

  test("PA stream: a file whose header is out of contract order fails, not loads garbled") { withTempDir("pas_hdr") { root =>
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val in = mkdir(root, "pas_hdr_in")
    val out = mkdir(root, "pas_hdr_out")
    val ckpt = mkdir(root, "pas_hdr_ckpt")
    // the row's price is negative: bound by name it is 1 bad price, bound
    // by position PRICE_ZONE_ID would read "-1.5" and the price "2020-…"
    write(in, "pa_1.csv",
      """ITEM_ID|LOCAL_REFERENCE_PRICE|EFFECTIVE_DATE|EXPORT_DATE|ITEM_ATTR_5_NM|CURRENT_PRICE|REASON|NEW_PRICE|PRICE_ZONE_ID
        |9002909|-1.5|2020-08-07 10:00:00|2020-08-05 12:30:45|Y|1|r|2|018-3
        |""".stripMargin)
    val mapping = spark.createDataFrame(Seq(Row("018", "01")).asJava,
      StructType(Seq(StructField("opco_id", StringType), StructField("cluster_id", StringType))))

    val e = intercept[Exception](PipelineStream.runPaStream(
      spark, in, out, ckpt, mapping, Seq("018"), maxFilesPerTrigger = Some(1)))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.contains("CSV header does not conform to the schema"), msgs)
    assert(Option(new java.io.File(out).list()).forall(_.isEmpty))
  } }
}
