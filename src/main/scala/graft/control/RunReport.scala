package graft.control

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import graft.validate.ValidationReport

/** O4 — run-report metadata (SURVEY.md §2.10). The reference aggregates
  * per-stage counters into an S3 append-log (`additionalInfo.txt`,
  * read-modify-write JSON,
  * `/root/reference/src/common/metadata_aggregator.py:10-29`) consumed by
  * the notifier (`/root/reference/src/Notifier/index.py:95-111`). Here it
  * is an append-only JSONL log: one line per stage, no read-modify-write
  * race, trivially mergeable downstream.
  */
object RunReport {

  /** X14 — collision-safe run id for concurrent arrivals (the
    * reference's uuid-suffixed output paths,
    * `/root/reference/src/price_zone/s3_trigger_lambda.py:93-94`). */
  def newRunId(prefix: String = "etl_output"): String =
    s"${prefix}_${System.currentTimeMillis() / 1000}_${java.util.UUID.randomUUID()}"

  final case class Entry(runId: String, stage: String, fields: Map[String, String])

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * char escaped, so one record stays one line. The one escaper for
    * every JSON graft writes (run reports, `Bench`, `Verify`). */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def toJson(e: Entry): String = {
    val base = Seq("run_id" -> e.runId, "stage" -> e.stage) ++ e.fields.toSeq.sortBy(_._1)
    base.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ", ", "}")
  }

  /** Append one entry (atomic per line — POSIX append). */
  def append(path: Path, e: Entry): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, (toJson(e) + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** The transform-stage payload the reference pushes mid-job
    * (`/root/reference/src/price_zone/transform_spark_job.py:86-92`). */
  def transformEntry(runId: String, report: ValidationReport): Entry = Entry(
    runId, "transform",
    Map(
      "received_records_count" -> report.received.toString,
      "received_valid_records_count" -> report.valid.toString,
      "failed_opcos" -> report.failedGroupKeys.map(k => Option(k).getOrElse("NULL")).mkString(","),
      "invalid_count" -> report.invalid.toString))

  def read(path: Path): Seq[String] =
    if (Files.exists(path))
      new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).toSeq
    else Seq.empty
}
