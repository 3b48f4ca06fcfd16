package graft.validate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}
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
}
