package graft.validate

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.Row
import graft.SparkSpec

/** Golden cases ported from the reference's validator suite
  * (`/root/reference/test/price_zone/test_data_validator.py`,
  * `test_data_validator_opco.py`, `test_date_format_regex.py`) — same
  * literals, same expected invalid-opco attributions.
  */
class ValidatorSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("opco_id", StringType, nullable = true),
    StructField("customer_id", StringType, nullable = true),
    StructField("supc", StringType, nullable = true),
    StructField("price_zone", StringType, nullable = true),
    StructField("eff_from_dttm", StringType, nullable = true)))

  /** Canonical valid row (`test_data_validator.py:20`). */
  private val validRow = Seq("019", "104612", "1234567", "5", "2020-08-06 00:00:00.000000")
  private val activeOpcos = Seq("019", "020")

  private def df(rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 2), schema)

  private def failedOpcos(rows: Seq[Seq[String]], rules: Seq[ValidationRule]): Seq[String] = {
    val f = Validator.flagged(df(rows), rules)
    Validator.failedGroups(f, rules, "opco_id")
      .collect().map(r => Option(r.getString(0))).toSeq
      .sortBy(k => (k.isDefined, k.getOrElse(""))).map(_.orNull)
  }

  private val allRules = graft.transform.PriceZoneTransform.rules(activeOpcos)

  test("canonical valid row passes every rule") {
    assert(failedOpcos(Seq(validRow), allRules) === Seq.empty)
  }

  test("F1 null / empty / non-numeric customer_id attributes its opco") {
    val r = Seq(Rules.nonNullNumeric("customer_id"))
    assert(failedOpcos(Seq(Seq("019", null, "1234567", "5", "2020-08-06 00:00:00")), r) === Seq("019"))
    assert(failedOpcos(Seq(Seq("019", "", "1234567", "5", "2020-08-06 00:00:00")), r) === Seq("019"))
    assert(failedOpcos(Seq(Seq("019", "12a45", "1234567", "5", "2020-08-06 00:00:00")), r) === Seq("019"))
  }

  test("F1 non-numeric supc and price_zone attribute their opcos") {
    assert(failedOpcos(Seq(Seq("019", "104612", "abc1234", "5", "2020-08-06 00:00:00")),
      Seq(Rules.nonNullNumeric("supc"))) === Seq("019"))
    assert(failedOpcos(Seq(Seq("020", "104612", "1234567", "x", "2020-08-06 00:00:00")),
      Seq(Rules.nonNullNumeric("price_zone"))) === Seq("020"))
  }

  test("F3 over-length: customer_id 15 chars, supc 10 chars (constants.py:1,3)") {
    assert(failedOpcos(Seq(Seq("019", "123456789012345", "1234567", "5", "2020-08-06 00:00:00")),
      Seq(Rules.maxLength("customer_id", Rules.CustNbrLength))) === Seq("019"))
    assert(failedOpcos(Seq(Seq("019", "104612", "1234567890", "5", "2020-08-06 00:00:00")),
      Seq(Rules.maxLength("supc", Rules.SupcLength))) === Seq("019"))
    // boundary: exactly at the limit passes
    assert(failedOpcos(Seq(Seq("019", "12345678901234", "123456789", "5", "2020-08-06 00:00:00")),
      Seq(Rules.maxLength("customer_id", 14), Rules.maxLength("supc", 9))) === Seq.empty)
  }

  test("F5 price_zone 0 and 6 out of [1,5] (constants.py:4-5)") {
    val r = Seq(Rules.intRange("price_zone", 1, 5))
    assert(failedOpcos(Seq(Seq("019", "104612", "1234567", "0", "2020-08-06 00:00:00")), r) === Seq("019"))
    assert(failedOpcos(Seq(Seq("019", "104612", "1234567", "6", "2020-08-06 00:00:00")), r) === Seq("019"))
    assert(failedOpcos(Seq(Seq("019", "104612", "1234567", "1", "2020-08-06 00:00:00")), r) === Seq.empty)
    assert(failedOpcos(Seq(Seq("019", "104612", "1234567", "5", "2020-08-06 00:00:00")), r) === Seq.empty)
  }

  test("F2 inactive opco flagged; null opco is a legal attribution key") {
    val r = Seq(Rules.memberOf("opco_id", activeOpcos))
    assert(failedOpcos(Seq(Seq("021", "104612", "1234567", "5", "2020-08-06 00:00:00")), r) === Seq("021"))
    assert(failedOpcos(Seq(
      Seq(null, "104612", "1234567", "5", "2020-08-06 00:00:00")), r) === Seq(null.asInstanceOf[String]))
  }

  test("F6 date-format regex oracle (test_date_format_regex.py:20-265)") {
    val valid = Seq("2020-08-06 00:00:00.000000", "2020-08-06 00:00:00")
    val invalid = Seq(
      "2020-08-06", "2020/08/06 00:00:00", "20200806 00:00:00",
      "202-08-06 00:00:00", "2020-8-06 00:00:00", "2020-13-06 00:00:00",
      "2020-08-6 00:00:00", "2020-08-32 00:00:00", "2020-08-0600:00:00",
      "2020-08-06 00 00 00", "2020-08-06 00:00", "2020-08-32 25:00:00",
      "2020-08-32 08:66:00", "2020-08-32 08:00:90",
      "2020-08-06 00:00:00.", "2020-08-06 00:00:00.ddd")
    val r = Seq(Rules.dateFormat("eff_from_dttm"))
    for (v <- valid)
      assert(failedOpcos(Seq(Seq("011", "104612", "1234567", "5", v)), r) === Seq.empty, s"'$v' should be valid")
    for (v <- invalid)
      assert(failedOpcos(Seq(Seq("011", "104612", "1234567", "5", v)), r) === Seq("011"), s"'$v' should be invalid")
  }

  test("F7 calendar-invalid date passes regex but fails parse (test_data_validator.py:643-661)") {
    val row = Seq("019", "104612", "1234567", "5", "2020-02-30 10:00:00")
    assert(failedOpcos(Seq(row), Seq(Rules.dateFormat("eff_from_dttm"))) === Seq.empty)
    assert(failedOpcos(Seq(row), Seq(Rules.parseableTimestamp("eff_from_dttm"))) === Seq("019"))
  }

  test("group attribution: one bad row poisons only its own opco (test_data_validator.py:279-356)") {
    val rows = Seq(
      validRow,
      Seq("019", "104613", "7654321", "4", "2020-08-06 00:00:00"),
      Seq("020", "abc", "1234567", "5", "2020-08-06 00:00:00"))
    val (valid, report) = Validator.run(df(rows), allRules, "opco_id")
    assert(report.failedGroupKeys === Seq("020"))
    assert(report.received === 3 && report.valid === 2)
    assert(valid.select("opco_id").distinct().collect().map(_.getString(0)).toSeq === Seq("019"))
  }

  test("all-empty and all-NULL rows attribute keys '' and NULL (test_data_validator.py:358-400)") {
    val rows = Seq(
      Seq("", "", "", "", ""),
      Seq(null, null, null, null, null))
    val got = failedOpcos(rows, allRules)
    assert(got === Seq(null.asInstanceOf[String], ""))
  }

  test("run's valid rows equal validRows with a null group on either side") {
    def rowsOf(d: DataFrame) = d.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    val r = Seq(Rules.nonNullNumeric("customer_id"))
    val nullFails = Seq(
      Seq(null, "bad", "1234567", "5", "2020-08-06 00:00:00"),
      Seq(null, "104612", "1234567", "5", "2020-08-06 00:00:00"),
      Seq("", "104612", "1234567", "5", "2020-08-06 00:00:00"),
      validRow)
    val nullPasses = Seq(
      Seq(null, "104612", "1234567", "5", "2020-08-06 00:00:00"),
      Seq("", "104612", "1234567", "5", "2020-08-06 00:00:00"),
      Seq("020", "abc", "1234567", "5", "2020-08-06 00:00:00"),
      validRow)
    for ((rows, failed, kept) <- Seq(
        (nullFails, Seq(null.asInstanceOf[String]), 2),
        (nullPasses, Seq("020"), 3))) {
      val (valid, report) = Validator.run(df(rows), r, "opco_id")
      assert(report.failedGroupKeys === failed)
      assert(rowsOf(valid) === rowsOf(Validator.validRows(df(rows), r, "opco_id")))
      assert(valid.count() === kept)
    }
  }

  test("F8 removal is a no-op on empty failed list (test_data_validator_opco.py)") {
    val rows = Seq(validRow, Seq("020", "104613", "7654321", "4", "2020-08-06 00:00:00"))
    val (valid, report) = Validator.run(df(rows), allRules, "opco_id")
    assert(report.failedGroups === Seq.empty)
    assert(valid.count() === 2)
  }

  test("F4 lengthEquals strict rule flags any deviation") {
    assert(failedOpcos(Seq(Seq("0190", "104612", "1234567", "5", "2020-08-06 00:00:00")),
      Seq(Rules.lengthEquals("opco_id", Rules.CoNbrLength))) === Seq("0190"))
  }

  test("report counts violations per rule in one pass") {
    val rows = Seq(
      validRow,
      Seq("019", "bad", "1234567", "9", "2020-08-06 00:00:00"),
      Seq("021", "104612", "1234567", "5", "2020-08-06 00:00:00"))
    val (_, report) = Validator.run(df(rows), allRules, "opco_id")
    assert(report.violationsByRule("customer_id_nonnull_numeric") === 1L)
    assert(report.violationsByRule("price_zone_range_1_5") === 1L)
    assert(report.violationsByRule("opco_id_membership") === 1L)
    assert(report.failedGroupKeys === Seq("019", "021"))
    // group-level attribution: the valid row of opco 019 is removed too
    assert(report.invalid === 3L && report.valid === 0L)
  }

  // ---- run's one-job summary against the groupBy it replaced ----------

  /** The report as `run` built it from [[Validator.groupSummary]]'s rows
    * before its summary became a map-only fold: the parity reference. */
  private def summaryReport(d: DataFrame, rules: Seq[ValidationRule]): ValidationReport = {
    val rows = Validator.groupSummary(Validator.flagged(d, rules), rules, "k").collect().toSeq
    val received = rows.map(_.getLong(1)).sum
    val failed = rows.filter(r => rules.indices.exists(i => r.getLong(i + 2) > 0L))
    val keys = failed.map(r => Option(r.get(0)).map {
      case b: Array[Byte] => new String(b, UTF_8)
      case k => k.toString
    }).sortBy(k => (k.isDefined, k.getOrElse("")))
    ValidationReport(received, received - failed.map(_.getLong(1)).sum, keys,
      rules.zipWithIndex.map { case (r, i) => r.name -> rows.map(_.getLong(i + 2)).sum }.toMap)
  }

  /** Rows as comparable values: binary by content, order-free. */
  private def contents(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).sortBy(_.mkString("|"))

  /** Key `k` of `keyType`, value `v`; violations are a negative or a
    * null value. */
  private def keyed(keyType: DataType, partitions: Int, rows: Seq[(Any, Integer)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, v) => Row(k, v) }, partitions),
      StructType(Seq(StructField("k", keyType), StructField("v", IntegerType))))

  private val parityRules = Seq(
    ValidationRule("negative", col("v") < 0),
    ValidationRule("missing", col("v").isNull))

  /** `run` gives `summaryReport`'s report and `validRows`' rows; returns
    * the report for case-specific checks. */
  private def assertParity(d: DataFrame): ValidationReport = {
    val (valid, report) = Validator.run(d, parityRules, "k")
    assert(report === summaryReport(d, parityRules))
    assert(contents(valid) === contents(Validator.validRows(d, parityRules, "k")))
    report
  }

  test("run's report equals groupSummary's: string keys with a null group") {
    val report = assertParity(keyed(StringType, 3, Seq(
      "a" -> 1, (null, 2), "b" -> -1, "a" -> 3, (null, null), "c" -> 4, "b" -> 5, "" -> 6)))
    assert(report.failedGroupKeys === Seq(null, "b"))
    assert(report.received === 8 && report.valid === 4)
    assert(report.violationsByRule === Map("negative" -> 1L, "missing" -> 1L))
  }

  test("run's report equals groupSummary's: integer and double keys") {
    val ints = assertParity(keyed(IntegerType, 2, Seq(
      1 -> 1, 2 -> -2, (null, 3), 10 -> 4, 2 -> 5, 1 -> -6)))
    assert(ints.failedGroupKeys === Seq("1", "2"))
    // grouping normalizes floats: -0.0 joins 0.0, every NaN is one group
    val doubles = assertParity(keyed(DoubleType, 3, Seq(
      0.0 -> 1, -0.0 -> -1, Double.NaN -> 2, Double.NaN -> null, 1.5 -> 3)))
    assert(doubles.failedGroupKeys === Seq("0.0", "NaN"))
    assert(doubles.valid === 1)
  }

  test("run's report equals groupSummary's: binary keys group by content") {
    def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)
    // equal contents in distinct arrays are one group
    val report = assertParity(keyed(BinaryType, 2, Seq(
      bytes("ab") -> 1, bytes("ab") -> -1, bytes("cd") -> 2, (null, 3), bytes("") -> null, bytes("cd") -> 4)))
    assert(report.failedGroupKeys === Seq("", "ab"))
    assert(report.valid === 3)
  }

  test("run's report equals groupSummary's: an empty frame") {
    val report = assertParity(keyed(StringType, 2, Seq.empty))
    assert(report === ValidationReport(0L, 0L, Nil, Map("negative" -> 0L, "missing" -> 0L)))
  }

  test("run's report equals groupSummary's: every group failing") {
    val report = assertParity(keyed(StringType, 2, Seq("a" -> -1, "b" -> null, (null, -3), "a" -> 4)))
    assert(report.failedGroupKeys === Seq(null, "a", "b"))
    assert(report.valid === 0)
  }

  test("run's report equals groupSummary's: one group spans all 8 partitions") {
    // "x" lands in every partition, each other key in one; one row of
    // "x", in the last partition, fails it everywhere
    val rows = (0 until 800).map { i =>
      (if (i % 100 == 0) s"p${i / 100}" else "x") -> Integer.valueOf(if (i == 300 || i == 799) -1 else i)
    }
    val d = keyed(StringType, 8, rows)
    assert(d.rdd.glom().collect().map(_.count(_.getString(0) == "x")).forall(_ > 0))
    val report = assertParity(d)
    assert(report.received === 800 && report.valid === 7)
    assert(report.failedGroupKeys === Seq("p3", "x"))
    assert(report.violationsByRule("negative") === 2L)
  }
}
