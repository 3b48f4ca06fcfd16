package perfbench

import java.io.{File, PrintWriter}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run: spans from [[Tracer]], jobs and
  * plans from [[Collector]], outcomes from the files and the gate pass.
  * Jobs belong to the span that was open when they started; a span's
  * self time is its duration minus the part of it that its child spans
  * cover. */
final class Layers(files: Seq[FileResult], gates: Seq[Gates.Outcome], tracer: Tracer, c: Collector) {
  private val spans = tracer.spans.asScala.toSeq
  private val byId = spans.map(s => s.id -> s).toMap
  private val children = spans.groupBy(_.parent)
  private val jobs = c.jobs.values.asScala.toSeq.sortBy(_.jobId)
  // job times are epoch ms; spans are nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def interval(j: JobRec): (Long, Long) = (j.start * 1000000L + offsetNs, j.end * 1000000L + offsetNs)

  private def ancestors(id: Long): List[Span] =
    byId.get(id).map(s => s :: ancestors(s.parent)).getOrElse(Nil)
  private val jobPath: Map[Int, List[Span]] = jobs.map(j => j.jobId -> ancestors(j.span)).toMap
  private def jobsIn(s: Span): Seq[JobRec] = jobs.filter(j => jobPath(j.jobId).exists(_.id == s.id))
  private def fileOf(j: JobRec): Option[String] = jobPath(j.jobId).headOption.map(_.file)

  private def named(name: String, file: String): Seq[Span] =
    spans.filter(s => s.name == name && s.file == file)
  private def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
  private def selfNs(s: Span): Long =
    (s.end - s.start) - covered(children.getOrElse(s.id, Nil).map(x => (x.start, x.end)), s.start, s.end)
  private def jobSeconds(js: Seq[JobRec]): Double = js.map(j => (j.end - j.start) / 1e3).sum

  /** PA's `runFile` is one call, so its jobs go to a layer by the call
    * site of their SQL execution. */
  private def paLayer(j: JobRec): String = {
    val site = Option(c.callSites.get(j.execId)).getOrElse("")
    if (site.contains("PartitionedCsvSink")) "csv_write"
    else if (site.contains("invalidPriceCount")) "validate"
    else if (site.contains("CsvSources")) "scan"
    else "count"
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def metrics: Seq[(String, Double, String)] = {
    val pz = files.filter(_.file.kind == Pz)
    val pa = files.filter(_.file.kind == Pa)
    def transform(f: FileResult) = named("transform", f.file.name)
    def scansPerFile(fs: Seq[FileResult]) = Stats.mean(fs.map(f =>
      transform(f).flatMap(jobsIn).map(_.inputBytes.get.toDouble).sum / f.file.sizeBytes))
    val validate = pz.flatMap(f => named("validate", f.file.name).map(f -> _))
    val jdbc = named("sinks.jdbc")
    val fileIds = files.map(_.file.name).toSet
    val attributed = jobs.filter(j => fileOf(j).exists(fileIds))
    // plans by owner: a file name, or `gate:<name>` for a gate
    val execOwner = jobs.filter(_.execId >= 0).flatMap(j => fileOf(j).map(j.execId -> _)).toMap
    val plans = c.plans.asScala.toSeq.flatMap(p => execOwner.get(p.execId).map(_ -> p)).groupBy(_._1)
    def ownerSum(owner: String)(g: PlanRec => Double) = plans.getOrElse(owner, Nil).map(x => g(x._2)).sum
    def planSum(f: FileResult)(g: PlanRec => Double) = ownerSum(f.file.name)(g)
    def gateSum(g: PlanRec => Double) = gates.map(o => ownerSum(s"gate:${o.name}")(g)).sum
    def perFile(g: JobRec => Double) = attributed.map(g).sum / files.size
    def paJobs(layer: String) = med(pa.map(f =>
      jobSeconds(transform(f).flatMap(jobsIn).filter(j => paLayer(j) == layer))))
    val loaded = files.filterNot(_.rejected)
    Seq(
      ("sources.pz_scans_per_file", scansPerFile(pz), "ratio"),
      ("sources.pa_scans_per_file", scansPerFile(pa), "ratio"),
      ("validate.job_s", med(validate.map(v => jobSeconds(jobsIn(v._2)))), "s"),
      ("validate.rows_per_s", ratio(validate.map(_._1.file.rows.toDouble).sum,
        validate.map(_._2.seconds).sum), "1/s"),
      ("pa.scan_job_s", paJobs("scan"), "s"),
      ("pa.validate_job_s", paJobs("validate"), "s"),
      ("pa.csv_write_job_s", paJobs("csv_write"), "s"),
      ("pa.count_job_s", paJobs("count"), "s"),
      ("transform.driver_s", med(files.flatMap(f => transform(f).map(t =>
        (t.end - t.start - covered(jobsIn(t).map(interval), t.start, t.end)) / 1e9))), "s"),
      ("transform.jobs_per_file", Stats.mean(files.map(f => transform(f).map(jobsIn(_).size).sum.toDouble)), "count"),
      ("sinks.csv_write_s", med(pz.flatMap(f => named("sinks.csv_write", f.file.name).map(_.seconds))), "s"),
      ("sinks.csv_files_per_file", Stats.mean(loaded.map(_.csvFiles.toDouble)), "count"),
      ("sinks.jdbc_s", med(jdbc.map(_.seconds)), "s"),
      ("sinks.jdbc_rows_per_s", ratio(files.map(_.rowsCommitted).sum.toDouble, jdbc.map(_.seconds).sum), "1/s"),
      ("sinks.jdbc_tasks_per_load", ratio(jdbc.flatMap(jobsIn).map(_.tasks.get.toDouble).sum, jdbc.size), "count"),
      ("control.slot_wait_s", med(files.flatMap(_.slotWaits).map(_ / 1e9)), "s"),
      ("control.load_attempts", ratio(files.map(_.attempts).sum, files.map(_.loads).sum), "count"),
      ("control.archive_s", med(named("control.archive").map(_.seconds)), "s"),
      ("plan.analysis_s", med(files.map(planSum(_)(_.analysisMs / 1e3))), "s"),
      ("plan.optimization_s", med(files.map(planSum(_)(_.optimizationMs / 1e3))), "s"),
      ("plan.planning_s", med(files.map(planSum(_)(_.planningMs / 1e3))), "s"),
      ("plan.scans", Stats.mean(files.map(planSum(_)(_.scans))), "count"),
      ("plan.exchanges", Stats.mean(files.map(planSum(_)(_.exchanges))), "count"),
      ("plan.broadcasts", Stats.mean(files.map(planSum(_)(_.broadcasts))), "count"),
      ("engine.jobs", perFile(_ => 1.0), "count"),
      ("engine.tasks", perFile(_.tasks.get.toDouble), "count"),
      ("engine.task_run_s", perFile(_.runMs.get / 1e3), "s"),
      ("engine.task_cpu_s", perFile(_.cpuNs.get / 1e9), "s"),
      ("engine.gc_s", perFile(_.gcMs.get / 1e3), "s"),
      ("engine.scheduler_delay_s", perFile(_.schedMs.get / 1e3), "s"),
      ("engine.shuffle_bytes", perFile(_.shuffleBytes.get.toDouble), "bytes"),
      ("engine.spill_bytes", perFile(_.spillBytes.get.toDouble), "bytes"),
      ("engine.unattributed_jobs", jobs.count(j => fileOf(j).isEmpty).toDouble, "count"),
      ("trace.file_self_s", med(named("file").map(selfNs(_) / 1e9)), "s"),
      ("traced.pz_loaded_s", med(pz.filterNot(_.rejected).map(_.latency)), "s"),
      ("traced.pa_loaded_s", med(pa.map(_.latency)), "s"),
      ("traced.file_p80_s", if (loaded.isEmpty) 0.0 else Stats.quantile(loaded.map(_.latency), 0.8), "s"),
      ("host.steal_share", Stats.mean(files.map(_.steal)), "ratio"),
      ("gates.total_s", gates.map(_.seconds).sum, "s"),
      ("gates.plan_s", gateSum(p => (p.analysisMs + p.optimizationMs + p.planningMs) / 1e3), "s"),
      ("gates.scans", gateSum(_.scans), "count"),
      ("gates.exchanges", gateSum(_.exchanges), "count"),
      ("gates.broadcasts", gateSum(_.broadcasts), "count")) ++
      gates.sortBy(_.name).map(o => (s"gates.${o.name}_s", o.seconds, "s"))
  }

  /** Spans, jobs and per-span-name self times, as one JSON document. */
  def write(out: File): Unit = {
    out.getParentFile.mkdirs()
    val w = new PrintWriter(out, "UTF-8")
    try {
      val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
      w.println("{\"spans\": [")
      w.println(spans.sortBy(_.start).map(s =>
        s"[${s.id}, ${Json.str(s.name)}, ${Json.str(s.file)}, ${s.parent}, " +
          s"${Json.num((s.start - t0) / 1e9)}, ${Json.num((s.end - t0) / 1e9)}]").mkString(",\n"))
      w.println("], \"jobs\": [")
      w.println(jobs.map { j =>
        val (a, b) = interval(j)
        s"[${j.jobId}, ${j.span}, ${j.execId}, ${Json.num((a - t0) / 1e9)}, ${Json.num((b - t0) / 1e9)}, " +
          s"${j.tasks.get}, ${Json.str(Option(c.callSites.get(j.execId)).getOrElse("").linesIterator.take(2).mkString(" <- "))}]"
      }.mkString(",\n"))
      w.println("], \"self_s\": {")
      w.println(spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
        s"${Json.str(n)}: ${Json.num(Stats.median(ss.map(selfNs(_) / 1e9)))}"
      }.mkString(",\n"))
      w.println("}}")
    } finally w.close()
  }
}
