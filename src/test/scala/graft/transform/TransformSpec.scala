package graft.transform

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.SparkSpec

/** End-to-end pipeline specs — the layer the reference never tested
  * (SURVEY.md §5): run the whole transform on a fixture file, assert
  * partition layout + contents + report.
  */
class TransformSpec extends SparkSpec {

  test("price zone end-to-end: csv → validate → partitioned csv + report") { withTempDir("pz") { root =>
    val in = mkdir(root, "pz_in")
    val out = mkdir(root, "pz_out")
    val csv =
      """co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm
        |019,1234567,5,104612,2020-08-06 00:00:00.000000
        |019,7654321,4,104613,2020-08-06 00:00:00
        |020,1234567,9,104612,2020-08-06 00:00:00
        |021,1234567,5,104612,2020-08-06 00:00:00
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(in, "input.csv"), csv)

    val report = PriceZoneTransform.runFile(spark, s"$in/input.csv", out, Seq("019", "020"))

    // opco 020 fails range(9), opco 021 fails membership → only 019 remains
    assert(report.received === 4 && report.valid === 2)
    assert(report.failedGroupKeys === Seq("020", "021"))

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs === Array("opco_id=019"))

    val back = spark.read.option("header", "true").csv(s"$out/opco_id=019")
    assert(back.count() === 2)
    assert(back.columns.toSeq === Seq("supc", "price_zone", "customer_id", "effective_date"))
    val dates = back.select("effective_date").collect().map(_.getString(0)).toSet
    assert(dates === Set("2020-08-06 00:00:00")) // fraction stripped, seconds precision
  } }

  test("price zone: zero valid records throws (transform_spark_job.py:94-95)") {
    val schema = StructType(Seq(
      StructField("opco_id", StringType, true), StructField("customer_id", StringType, true),
      StructField("supc", StringType, true), StructField("price_zone", StringType, true),
      StructField("eff_from_dttm", StringType, true)))
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("099", "x", "1", "5", "2020-08-06 00:00:00"))), schema)
    assertThrows[IllegalStateException] {
      PriceZoneTransform.run(bad, Seq("019"))
    }
  }

  test("pa transform: renames, date parse, epoch, composite key split, column order") { withTempDir("pa") { root =>
    val in = mkdir(root, "pa_in")
    val csv =
      """ITEM_ID|LOCAL_REFERENCE_PRICE|CURRENT_PRICE|REASON|NEW_PRICE|ITEM_ATTR_5_NM|EFFECTIVE_DATE|EXPORT_DATE|PRICE_ZONE_ID
        |9002908|22.68|1|r|2|N|2020-08-06 00:00:00|2020-08-05 12:30:45|018-5
        |9002909|-1.5|1|r|2|Y|2020-08-07 10:00:00|2020-08-05 12:30:45|019-3
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(in, "pa.csv"), csv)

    val df = PaTransform.transform(graft.sources.CsvSources.pipe(spark, s"$in/pa.csv"))
    assert(df.columns.toSeq === Seq("supc", "effective_date", "price", "export_date",
      "catch_weight_indicator", "price_zone_id", "opco_id"))
    val rows = df.orderBy("supc").collect()
    assert(rows(0).getString(0) === "9002908")
    assert(rows(0).getString(1) === "2020-08-06")            // date part only (X7)
    assert(rows(0).getString(2) === "22.68")                 // price kept as string dtype (S3)
    assert(rows(0).getLong(3) === 1596630645L)               // 2020-08-05 12:30:45 UTC (X8)
    assert(rows(0).getString(5) === "5" && rows(0).getString(6) === "018") // X9 split

    assert(PaTransform.invalidPriceCount(df) === 1L)         // F10: -1.5
  } }

  test("pa end-to-end: pipe csv → route → per-cluster partitioned csv + counts") { withTempDir("pa_e2e") { root =>
    import scala.jdk.CollectionConverters._
    val in = mkdir(root, "pa_e2e_in")
    val outBase = mkdir(root, "pa_e2e_out")
    val csv =
      """ITEM_ID|LOCAL_REFERENCE_PRICE|CURRENT_PRICE|REASON|NEW_PRICE|ITEM_ATTR_5_NM|EFFECTIVE_DATE|EXPORT_DATE|PRICE_ZONE_ID
        |9002908|22.68|1|r|2|N|2020-08-06 00:00:00|2020-08-05 12:30:45|018-5
        |9002909|-1.5|1|r|2|Y|2020-08-07 10:00:00|2020-08-05 12:30:45|019-3
        |9002910|10.00|1|r|2|N|2020-08-07 10:00:00|2020-08-05 12:30:45|022-2
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(in, "pa.csv"), csv)
    val mapping = spark.createDataFrame(
      Seq(Row("018", "01"), Row("019", "02")).asJava,
      StructType(Seq(StructField("opco_id", StringType, true), StructField("cluster_id", StringType, true))))

    val (total, badPrice) = PaTransform.runFile(
      spark, s"$in/pa.csv", cid => s"$outBase/cluster_$cid",
      mapping, activeOpcos = Seq("018", "019"))

    assert(total === 3 && badPrice === 1)
    val c1 = new java.io.File(s"$outBase/cluster_01").listFiles().filter(_.isDirectory).map(_.getName)
    assert(c1.toSeq === Seq("opco_id=018"))
    val back = spark.read.option("header", "true").csv(s"$outBase/cluster_01/opco_id=018")
    // fixed column order minus the elided partition column (P6/S5)
    assert(back.columns.toSeq ===
      Seq("supc", "effective_date", "price", "export_date", "catch_weight_indicator", "price_zone_id"))
    assert(back.count() === 1)
  } }

  private val paCsv =
    """ITEM_ID|LOCAL_REFERENCE_PRICE|CURRENT_PRICE|REASON|NEW_PRICE|ITEM_ATTR_5_NM|EFFECTIVE_DATE|EXPORT_DATE|PRICE_ZONE_ID
      |9002908|22.68|1|r|2|N|2020-08-06 00:00:00|2020-08-05 12:30:45|018-5
      |9002909|-1.5|1|r|2|Y|2020-08-07 10:00:00|2020-08-05 12:30:45|019-3
      |9002910|0|1|r|2|N|2020-08-07 10:00:00|2020-08-05 12:30:45|022-2
      |9002911|abc|1|r|2|N|2020-08-07 10:00:00|2020-08-05 12:30:45|018-1
      |9002912|1.00|1|r|2|N|2020-08-07 10:00:00|2020-08-05 12:30:45|023
      |""".stripMargin

  private def mappingOf(rows: (String, String)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case (o, c) => Row(o, c) }.asJava,
      StructType(Seq(StructField("opco_id", StringType, true), StructField("cluster_id", StringType, true))))
  }

  /** Runs `runFile` on [[paCsv]] over stale cluster directories; every
    * row is routed nowhere, so both clusters must come back empty. */
  private def assertNothingRoutes(mapping: org.apache.spark.sql.DataFrame, active: Seq[String]): Unit = withTempDir("pa_none") { root =>
    val in = mkdir(root, "pa_none_in")
    val outBase = mkdir(root, "pa_none_out")
    Files.writeString(java.nio.file.Paths.get(in, "pa.csv"), paCsv)
    Files.createDirectories(java.nio.file.Paths.get(outBase, "cluster_01", "opco_id=999"))
    val (total, badPrice) = PaTransform.runFile(
      spark, s"$in/pa.csv", cid => s"$outBase/cluster_$cid", mapping, active)
    assert(total === 5 && badPrice === 2)
    for (cid <- Seq("01", "02")) {
      val dir = new java.io.File(s"$outBase/cluster_$cid")
      assert(dir.isDirectory, s"cluster_$cid missing")
      assert(!dir.listFiles().exists(_.getName.startsWith("opco_id=")), s"cluster_$cid not empty")
      assert(new java.io.File(dir, "_SUCCESS").isFile, s"cluster_$cid has no _SUCCESS")
    }
    assert(new java.io.File(outBase).list().sorted.toSeq === Seq("cluster_01", "cluster_02"))
  }

  test("pa end-to-end, nothing routes: empty active set keeps exact counts") {
    assertNothingRoutes(mappingOf("018" -> "01", "019" -> "02"), active = Seq.empty)
  }

  test("pa end-to-end, nothing routes: mapping without cluster 01/02 rows") {
    assertNothingRoutes(mappingOf("018" -> "03", "019" -> "04"), active = Seq("018", "019"))
  }

  test("pa end-to-end, nothing routes: every row unmapped") {
    assertNothingRoutes(mappingOf("030" -> "01", "031" -> "02"), active = Seq("018", "019", "022"))
  }

  test("pa end-to-end: one write job lands both clusters and replaces stale output") { withTempDir("pa_both") { root =>
    val in = mkdir(root, "pa_both_in")
    val outBase = mkdir(root, "pa_both_out")
    Files.writeString(java.nio.file.Paths.get(in, "pa.csv"), paCsv)
    Files.createDirectories(java.nio.file.Paths.get(outBase, "cluster_02", "opco_id=999"))
    val (total, badPrice) = PaTransform.runFile(
      spark, s"$in/pa.csv", cid => s"$outBase/cluster_$cid",
      mappingOf("018" -> "01", "019" -> "02"), activeOpcos = Seq("018", "019"))
    assert(total === 5 && badPrice === 2)
    def opcos(cid: String) = new java.io.File(s"$outBase/cluster_$cid").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(opcos("01") === Seq("opco_id=018") && opcos("02") === Seq("opco_id=019"))
    assert(new java.io.File(s"$outBase/cluster_02/_SUCCESS").isFile)
    assert(spark.read.option("header", "true").csv(s"$outBase/cluster_01").count() === 2)
    // the staging directory is gone once the clusters are in place
    assert(new java.io.File(outBase).list().sorted.toSeq === Seq("cluster_01", "cluster_02"))
  } }

  test("pa routing: cluster split + invalid-or-inactive bucket (J1)") {
    import scala.jdk.CollectionConverters._
    val mapping = spark.createDataFrame(
      Seq(Row("018", "01"), Row("019", "02"), Row("022", "03")).asJava,
      StructType(Seq(StructField("opco_id", StringType, true), StructField("cluster_id", StringType, true))))
    val data = spark.createDataFrame(
      Seq(Row("a", "018"), Row("b", "019"), Row("c", "020"), Row("d", "022"), Row("e", "019")).asJava,
      StructType(Seq(StructField("supc", StringType, true), StructField("opco_id", StringType, true))))

    val routed = PaTransform.route(data, mapping, activeOpcos = Seq("018", "019", "020"))
    assert(routed.byCluster("01").select("supc").collect().map(_.getString(0)).sorted.toSeq === Seq("a"))
    assert(routed.byCluster("02").select("supc").collect().map(_.getString(0)).sorted.toSeq === Seq("b", "e"))
    // 020 unmapped, 022 mapped to unknown cluster → both invalid
    assert(routed.invalidOrInactive.collect().map(_.getString(0)).sorted.toSeq === Seq("020", "022"))
  }

  // ---- routing by driver-side lookup against the join it replaced ------

  /** An opco mapped twice to different clusters (018), one mapped twice
    * to the same cluster (019), a null opco and a null cluster (022). */
  private lazy val awkwardMapping = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(Row("018", "01"), Row("018", "02"), Row("019", "02"), Row("019", "02"),
      Row(null, "01"), Row("022", null), Row("023", "01")).asJava,
      StructType(Seq(StructField("opco_id", StringType, true), StructField("cluster_id", StringType, true))))
  }

  private val awkwardActive = Seq("018", "019", "022", "024")

  /** The routing `PaTransform` used before its lookup: a left join with
    * the broadcast mapping, then the same route filters. */
  private def joinRouted(df: DataFrame, mapping: DataFrame, active: Seq[String])
      : (Map[String, DataFrame], DataFrame) = {
    val joined = df.join(
      broadcast(mapping.select(col("opco_id").as("_m_opco"), col("cluster_id").as("_cluster"))),
      col("opco_id") === col("_m_opco"), "left").drop("_m_opco")
    def routes(cs: Seq[String]) = col("_cluster").isin(cs: _*) && col("opco_id").isin(active: _*)
    (Seq("01", "02").map(c => c -> joined.filter(routes(Seq(c))).drop("_cluster")).toMap,
      joined.filter(!coalesce(routes(Seq("01", "02")), lit(false))).select("opco_id").distinct())
  }

  /** Rows as strings, empty as null (a CSV round trip cannot tell them
    * apart), sorted: a multiset. */
  private def multiset(rows: Seq[Row]): Seq[Seq[String]] =
    rows.map(_.toSeq.map(v => Option(v).map(_.toString).filter(_.nonEmpty).orNull))
      .sortBy(_.map(String.valueOf).mkString("|"))

  test("pa routing: route gives the broadcast join's rows for an awkward mapping") {
    import scala.jdk.CollectionConverters._
    val data = spark.createDataFrame(
      Seq(Row("a", "018"), Row("b", "019"), Row("c", "020"), Row("d", "022"), Row("e", null),
        Row("f", "023"), Row("g", "024"), Row("h", "018")).asJava,
      StructType(Seq(StructField("supc", StringType, true), StructField("opco_id", StringType, true))))
    val routed = PaTransform.route(data, awkwardMapping, awkwardActive)
    val (byCluster, invalid) = joinRouted(data, awkwardMapping, awkwardActive)
    for (c <- Seq("01", "02"))
      assert(multiset(routed.byCluster(c).collect().toSeq) === multiset(byCluster(c).collect().toSeq), c)
    assert(multiset(routed.byCluster("02").collect().toSeq).map(_.head) === Seq("a", "b", "b", "h"))
    assert(multiset(routed.invalidOrInactive.collect().toSeq) === multiset(invalid.collect().toSeq))
    assert(multiset(routed.invalidOrInactive.collect().toSeq).map(_.head) ===
      Seq("020", "022", "023", "024", null))
  }

  test("pa end-to-end: runFile lands the broadcast join's rows for an awkward mapping") {
    withTempDir("pa_awkward") { root =>
      val in = mkdir(root, "in")
      val outBase = mkdir(root, "out")
      Files.writeString(java.nio.file.Paths.get(in, "pa.csv"), paCsv +
        "9002913|5.00|1|r|2|N|2020-08-07 10:00:00|2020-08-05 12:30:45|019-4\n" +
        "9002914|6.00|1|r|2|N|2020-08-07 10:00:00|2020-08-05 12:30:45|022-1\n")
      val (total, badPrice) = PaTransform.runFile(
        spark, s"$in/pa.csv", cid => s"$outBase/cluster_$cid", awkwardMapping, awkwardActive)
      assert(total === 7 && badPrice === 2)
      val transformed = PaTransform.transform(graft.sources.CsvSources.pipe(spark, s"$in/pa.csv"))
      val (byCluster, _) = joinRouted(transformed, awkwardMapping, awkwardActive)
      for (c <- Seq("01", "02")) {
        // each landed row, with its opco taken back from the partition directory
        val landed = new java.io.File(s"$outBase/cluster_$c").listFiles().toSeq
          .filter(d => d.isDirectory && d.getName.startsWith("opco_id="))
          .flatMap { d =>
            val opco = d.getName.stripPrefix("opco_id=")
            spark.read.option("header", "true").csv(d.getPath).collect().toSeq
              .map(r => Row.fromSeq(r.toSeq :+ opco))
          }
        assert(multiset(landed) === multiset(byCluster(c).collect().toSeq), c)
      }
      // 018 lands in both clusters; 019's two mapping rows land its rows twice
      assert(multiset(spark.read.option("header", "true").csv(s"$outBase/cluster_02").collect().toSeq)
        .map(_.head).sorted === Seq("9002908", "9002909", "9002909", "9002911", "9002913", "9002913"))
    }
  }

  test("pa routing: a mapping whose opco_id is not a string is refused, naming the type") {
    import scala.jdk.CollectionConverters._
    val mapping = spark.createDataFrame(Seq(Row(18, "01")).asJava,
      StructType(Seq(StructField("opco_id", IntegerType, true), StructField("cluster_id", StringType, true))))
    val data = spark.createDataFrame(Seq(Row("a", "018")).asJava,
      StructType(Seq(StructField("supc", StringType, true), StructField("opco_id", StringType, true))))
    val e = intercept[IllegalArgumentException](PaTransform.route(data, mapping, Seq("018")))
    assert(e.getMessage.contains("opco_id must be a string, not INT"))
  }
}
