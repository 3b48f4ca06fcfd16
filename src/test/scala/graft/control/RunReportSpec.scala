package graft.control

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.validate.ValidationReport

class RunReportSpec extends AnyFunSuite {

  test("append-only JSONL log accumulates stage entries") {
    val dir = Files.createTempDirectory("runreport")
    val path = Paths.get(dir.toString, "run", "report.jsonl")
    val report = ValidationReport(100L, 80L, Seq(Some("020"), None), Map("r1" -> 5L))
    RunReport.append(path, RunReport.transformEntry("run-1", report))
    RunReport.append(path, RunReport.Entry("run-1", "load", Map("opco" -> "019", "status" -> "SUCCEEDED")))
    val lines = RunReport.read(path)
    assert(lines.size === 2)
    assert(lines.head.contains(""""received_records_count": "100""""))
    assert(lines.head.contains(""""failed_opcos": "020,NULL""""))
    assert(lines(1).contains(""""stage": "load""""))
    // every line parses as a flat JSON object
    lines.foreach(l => assert(l.startsWith("{") && l.endsWith("}")))
  }

  test("json escaping survives quotes and control chars") {
    val e = RunReport.Entry("r", "s", Map("msg" -> "a\"b\\c\nd\te\rf\u0001g"))
    val j = RunReport.toJson(e)
    assert(j.contains("""a\"b\\c\nd\te\rf""" + "\\u0001g"))
  }
}
