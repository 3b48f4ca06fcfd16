package perfbench

import java.io.File
import java.sql.{Connection, DriverManager, SQLException}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.control.{ArchiveUtil, Completion, FileClassifier, Notifier, RunPlanner, TableRouter}
import graft.control.JdbcControlPlane.JdbcRouterStore
import graft.sinks.{DerbyMemConnFactory, JdbcReplaceSink, PartitionedCsvSink}
import graft.sources.CsvSources
import graft.transform.{PaTransform, PriceZoneTransform}
import graft.validate.ValidationReport

/** What happened to one file. Times are `System.nanoTime`; `reported`
  * is 0 unless a price-zone `ValidationReport` came back. */
final case class FileResult(
    file: InputFile,
    start: Long,
    reported: Long,
    loaded: Long,
    rejected: Boolean,
    loads: Int,
    failedLoads: Int,
    attempts: Int,
    /** submit -> closure start inside `runBounded`, per load, in ns. */
    slotWaits: Seq[Long],
    rowsCommitted: Long,
    csvFiles: Int,
    errors: Seq[String],
    /** Share of the machine's CPU time the hypervisor took while the file ran. */
    steal: Double) {
  def latency: Double = (loaded - start) / 1e9
  def reportLatency: Double = (reported - start) / 1e9
  def attempted: Int = 1 + loads
  def failed: Int = (if (errors.nonEmpty) 1 else 0) + failedLoads
}

/** One isolated pass: its own input, output and archive directories and
  * its own in-memory Derby database, all dropped by [[close]]. */
final class Pass(val spark: SparkSession, val dir: File, val files: Seq[InputFile],
    val cpus: Int, tracer: Tracer) {
  val db: String = s"perfbench_${ProcessHandle.current().pid()}_${dir.getName}"
  private val conn: () => Connection = new DerbyMemConnFactory(db)
  private val pzStore = new JdbcRouterStore(conn, "PZ_TABLE_META")
  private val paStore = new JdbcRouterStore(conn, "PA_TABLE_META")
  private val archiveDir = new File(dir, "archive")

  /** Schema for the opcos the pass's files are expected to load. */
  def createSchema(): Unit = {
    pzStore.createTable()
    paStore.createTable()
    exec(s"CREATE TABLE PZ_MASTER (opco VARCHAR(8) PRIMARY KEY, effective_date VARCHAR(19))")
    def opcos(k: Kind) = files.filter(_.kind == k).flatMap(_.tableRows.keys).distinct.sorted
    opcos(Pz).foreach { o =>
      Seq("PZ_ACTIVE_", "PZ_FUTURE_").foreach(t => exec(s"CREATE TABLE $t$o (" +
        "customer_id VARCHAR(16) NOT NULL, supc VARCHAR(16) NOT NULL, price_zone INT, " +
        "effective_date VARCHAR(19), arrived_time VARCHAR(32), PRIMARY KEY (customer_id, supc))"))
      pzStore.register(o, s"PZ_ACTIVE_$o", s"PZ_FUTURE_$o")
    }
    opcos(Pa).foreach { o =>
      Seq("PA_ACTIVE_", "PA_FUTURE_").foreach(t => exec(s"CREATE TABLE $t$o (" +
        "supc VARCHAR(16) NOT NULL, price_zone_id VARCHAR(8) NOT NULL, effective_date VARCHAR(10), " +
        "price VARCHAR(16), export_date BIGINT, catch_weight_indicator VARCHAR(4), " +
        "arrived_time VARCHAR(32), PRIMARY KEY (supc, price_zone_id))"))
      paStore.register(o, s"PA_ACTIVE_$o", s"PA_FUTURE_$o")
    }
    archiveDir.mkdirs()
  }

  private def exec(sql: String): Unit = {
    val c = conn()
    try { val st = c.createStatement(); try st.execute(sql) finally st.close() } finally c.close()
  }

  private def query[T](sql: String)(read: java.sql.ResultSet => T): T = {
    val c = conn()
    try {
      val st = c.createStatement()
      try { val rs = st.executeQuery(sql); try { rs.next(); read(rs) } finally rs.close() }
      finally st.close()
    } finally c.close()
  }

  def run(): Seq[FileResult] = files.map(process)

  /** Drops the database and deletes the pass directory. */
  def close(): Unit = {
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: SQLException => () } // a successful drop reports SQLState 08006
    Pass.delete(dir)
  }

  private val PartialUpperGb = 10.0
  private val NoValidRecords = "There are no valid records to process"

  /** The reference's per-file flow: classify, transform, load each landed
    * opco with at most two in flight, decide completion, archive. */
  def process(f: InputFile): FileResult = {
    val out = new File(dir, "out_" + f.name.stripSuffix(".csv"))
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val cpu0 = CpuTicks.read()
    val start = System.nanoTime()
    var reported = 0L
    var report: Option[ValidationReport] = None
    var paCounts: Option[(Long, Long)] = None
    var rejected = false
    var loads: Seq[RunPlanner.ItemResult[(String, File), Unit]] = Nil
    val waits = new ConcurrentHashMap[String, Long]()
    tracer.span("file", f.name) {
      val cls = tracer.span("classify") {
        FileClassifier.classify(f.name, f.sizeBytes, Gen.PartialPrefixes, Gen.FullPrefixes, PartialUpperGb)
      }
      try f.kind match {
        case Pz =>
          tracer.span("transform") {
            val raw = tracer.span("sources.scan")(CsvSources.commaAllString(spark, f.path))
            val mapped = tracer.span("transform.mapping")(PriceZoneTransform.applyMapping(raw))
            val (valid, rep) = tracer.span("validate")(PriceZoneTransform.run(mapped, Gen.Active))
            reported = System.nanoTime()
            report = Some(rep)
            tracer.span("sinks.csv_write")(PartitionedCsvSink.write(valid, out.getPath, Seq("opco_id")))
          }
        case Pa =>
          paCounts = Some(tracer.span("transform") {
            PaTransform.runFile(spark, f.path, c => new File(out, s"cluster_$c").getPath,
              mappingFrame, Gen.Active)
          })
      } catch {
        case e: IllegalStateException if e.getMessage == NoValidRecords => rejected = true
        case NonFatal(e) => errors += s"transform failed: $e"
      }
      val landed = landedOpcos(f.kind, out)
      if (landed.nonEmpty) {
        val submitted = System.nanoTime()
        loads = tracer.span("control.loads") {
          RunPlanner.runBounded(landed, maxConcurrency = 2) { case (opco, opcoDir) =>
            waits.putIfAbsent(opco, System.nanoTime() - submitted)
            tracer.span("control.load")(load(f.kind, cls.partialLoad, opco, opcoDir))
          }
        }
      }
      tracer.span("control.complete")(complete(f, landed, loads, report, paCounts, rejected, errors))
      tracer.span("control.archive")(ArchiveUtil.archive(f.path, archiveDir.getPath))
    }
    val loaded = System.nanoTime()
    val steal = CpuTicks.stealShare(cpu0, CpuTicks.read())
    loads.foreach(l => l.result.left.foreach(e => errors += s"load ${l.item._1} failed: $e"))
    val committed = check(f, report, paCounts, rejected, loads.map(_.item._1), errors)
    FileResult(f, start, reported, loaded, rejected, loads.size,
      loads.count(_.result.isLeft), loads.map(_.attempts).sum,
      waits.values.asScala.toSeq, committed,
      if (tracer.enabled) csvFiles(out) else 0, errors.toSeq, steal)
  }

  private lazy val mappingFrame: DataFrame = {
    import spark.implicits._
    Gen.Mapping.toDF("opco_id", "cluster_id")
  }

  /** The landed `opco_id=` directories; PA lands one tree per cluster. */
  private def landedOpcos(kind: Kind, out: File): Seq[(String, File)] = {
    def under(d: File): Seq[(String, File)] =
      Option(d.listFiles()).toSeq.flatten.filter(x => x.isDirectory && x.getName.startsWith("opco_id="))
        .map(x => x.getName.stripPrefix("opco_id=") -> x)
    val found = kind match {
      case Pz => under(out)
      case Pa => Gen.Clusters.flatMap(c => under(new File(out, s"cluster_$c")))
    }
    found.sortBy(_._1)
  }

  private def csvFiles(out: File): Int = {
    def walk(d: File): Int = Option(d.listFiles()).toSeq.flatten.map { x =>
      if (x.isDirectory) walk(x) else if (x.getName.startsWith("part-")) 1 else 0
    }.sum
    walk(out)
  }

  private val ArrivedTime = "2024-07-15 06:00:00"

  /** One opco: route to ACTIVE/FUTURE, then replace its rows, keyed. The
    * load frame is hash-partitioned on the key columns so no two tasks
    * touch the same key (see the known defect in README.md). */
  private def load(kind: Kind, partial: Boolean, opco: String, opcoDir: File): Unit = {
    val store = if (kind == Pz) pzStore else paStore
    val actions = tracer.span("control.route")(TableRouter.plan(partial, opco, store))
    actions.foreach {
      case TableRouter.Load(table) =>
        val raw = CsvSources.commaAllString(spark, opcoDir.getPath)
        val (frame, keys) = kind match {
          case Pz => raw.select(col("customer_id"), col("supc"),
            col("price_zone").cast("int").as("price_zone"), col("effective_date")) ->
            Seq("customer_id", "supc")
          case Pa => raw.select(col("supc"), col("price_zone_id"), col("effective_date"), col("price"),
            col("export_date").cast("long").as("export_date"), col("catch_weight_indicator")) ->
            Seq("supc", "price_zone_id")
        }
        val cfg = JdbcReplaceSink.Config(table = table, columns = frame.columns.toSeq,
          auditColumns = Seq("arrived_time" -> ArrivedTime), batchSize = 1000,
          dialect = JdbcReplaceSink.DeleteThenInsert, keyColumns = keys)
        tracer.span("sinks.jdbc") {
          JdbcReplaceSink.write(frame.repartition(cpus, keys.map(col): _*), cfg, conn)
        }
      case TableRouter.UpdateEffectiveDate(table) =>
        tracer.span("control.effective_date") {
          val min = query(s"SELECT MIN(effective_date) FROM $table")(_.getString(1))
          val c = conn()
          try {
            c.setAutoCommit(false)
            val del = c.prepareStatement("DELETE FROM PZ_MASTER WHERE opco = ?")
            val ins = c.prepareStatement("INSERT INTO PZ_MASTER VALUES (?, ?)")
            try {
              del.setString(1, opco); del.executeUpdate()
              ins.setString(1, opco); ins.setString(2, min); ins.executeUpdate()
              c.commit()
            } finally { del.close(); ins.close() }
          } finally c.close()
        }
      case TableRouter.Skip(_) => ()
    }
  }

  /** Completion and notification, as the reference's backup-decision and
    * notifier lambdas run them after the map state. */
  private def complete(f: InputFile, landed: Seq[(String, File)],
      loads: Seq[RunPlanner.ItemResult[(String, File), Unit]], report: Option[ValidationReport],
      paCounts: Option[(Long, Long)], rejected: Boolean,
      errors: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    val ok = loads.filter(_.result.isRight).map(_.item._1).toSet
    val ctx = Notifier.RunContext("bench", f.name, f.name.takeWhile(_ != '_'), "2024-07-15T06:00:00", "2024-07-15")
    val sink = new Notifier.CollectingSink
    val (event, fields, opcoCounts, status) = f.kind match {
      case Pz =>
        val cluster = Completion.reduceCluster(landed.map(_._1), ok)
        val decision = Completion.decide(landed.size, 0, 0, cluster)
        val event = if (report.isEmpty) Notifier.PzOutsideFailure
          else if (cluster.failureCount > 0) Notifier.PzMapFailure else Notifier.PzSuccess
        val fields = report.map(r => Map(
          "received_records_count" -> r.received.toString,
          "received_valid_records_count" -> r.valid.toString,
          "failed_opcos" -> r.failedGroupKeys.mkString(","))).getOrElse(Map.empty[String, String])
        (event, fields, None, if (landed.isEmpty) None else Some(decision.status))
      case Pa =>
        val byCluster = Gen.Clusters.map(c => Gen.Mapping.filter(_._2 == c).map(_._1).toSet)
          .map(cl => landed.map(_._1).filter(cl))
        val c1 = Completion.reduceCluster(byCluster(0), ok)
        val c2 = Completion.reduceCluster(byCluster(1), ok)
        val decision = Completion.decide(landed.size, c1.successCount, c1.failureCount, c2)
        val fields = paCounts.map { case (total, bad) => Map(
          "received_records_count" -> total.toString,
          "invalid_price_record_count" -> bad.toString) }.getOrElse(Map.empty[String, String])
        (if (paCounts.isEmpty || decision.status != Completion.Succeeded) Notifier.PaFailure
          else Notifier.PaSuccess, fields,
          Some((landed.size, c1.successCount + c2.successCount, c1.failureCount + c2.failureCount)),
          Some(decision.status))
    }
    Notifier.run(Notifier.decide(event, ctx, fields, opcoCounts), sink, sink, sink, ctx)
    val finalized = sink.finalized.map(x => (x._2, x._4))
    val expected =
      if (f.rejected) Seq((Completion.Failed, 0L)) else Seq((Completion.Succeeded, f.rows))
    if (finalized.toSeq != expected) errors += s"notifier finalized $finalized, expected $expected"
    if (!f.rejected && !status.contains(Completion.Succeeded))
      errors += s"completion status $status, expected Succeeded"
  }

  /** Compares the file's outcome with the generator's; returns the rows
    * the file's loads committed. */
  private def check(f: InputFile, report: Option[ValidationReport], paCounts: Option[(Long, Long)],
      rejected: Boolean, loaded: Seq[String], errors: scala.collection.mutable.ArrayBuffer[String]): Long = {
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errors += s"$what: got $got, expected $want"
    expect("whole-file rejection", rejected, f.rejected)
    f.kind match {
      case Pz if !f.rejected =>
        report.foreach { r =>
          expect("received", r.received, f.rows)
          expect("valid", r.valid, f.valid)
          expect("failed opcos", r.failedGroupKeys, f.failedOpcos)
          val rules = PriceZoneTransform.rules(Gen.Active).map(_.name)
          expect("violations", r.violationsByRule,
            rules.map(n => n -> f.violations.getOrElse(n, 0L)).toMap)
          expect("rule names", f.violations.keySet -- rules, Set.empty)
        }
      case Pa =>
        expect("total and invalid-price counts", paCounts, Some((f.rows, f.invalidPrice)))
      case _ => ()
    }
    expect("loaded opcos", loaded.sorted, f.tableRows.keys.toSeq.sorted)
    val full = f.kind == Pz && f.name.toLowerCase.startsWith(Gen.FullPrefixes.head)
    f.tableRows.toSeq.sortBy(_._1).map { case (opco, want) =>
      val table = f.kind match {
        case Pz => if (full) s"PZ_FUTURE_$opco" else s"PZ_ACTIVE_$opco"
        case Pa => s"PA_ACTIVE_$opco"
      }
      val got = try query(s"SELECT COUNT(*) FROM $table")(_.getLong(1))
        catch { case NonFatal(e) => errors += s"$table: $e"; 0L }
      expect(s"$table rows", got, want)
      if (full) {
        val eff = try query(s"SELECT effective_date FROM PZ_MASTER WHERE opco = '$opco'")(
          rs => Option(rs.getString(1))) catch { case NonFatal(_) => None }
        expect(s"PZ_MASTER $opco effective_date", eff, f.minEffective.get(opco))
      }
      got
    }.sum
  }
}

object Pass {
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Input generation and Derby schema for pass `index` of a run. */
  def prepare(spark: SparkSession, root: File, seed: Long, index: Int, shape: Shape,
      cpus: Int, tracer: Tracer): Pass = {
    val dir = new File(root, f"pass_${index + 1000}%05d")
    Pass.delete(dir)
    val files = Gen.pass(new File(dir, "in"), seed, index, shape)
    val pass = new Pass(spark, dir, files, cpus, tracer)
    pass.createSchema()
    pass
  }

  /** Derby keeps `derby.log` and any on-disk state under this home;
    * set before the first connection. */
  def derbyHome(dir: File): Unit = {
    dir.mkdirs()
    System.setProperty("derby.system.home", dir.getAbsolutePath)
  }
}

/** Aggregate CPU ticks from `/proc/stat` (zeros where it is absent). */
object CpuTicks {
  final case class Ticks(total: Long, steal: Long)

  def read(): Ticks =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      Ticks(v.take(8).sum, if (v.length > 7) v(7) else 0L)
    } catch { case NonFatal(_) => Ticks(0L, 0L) }

  def stealShare(a: Ticks, b: Ticks): Double =
    if (b.total <= a.total) 0.0 else (b.steal - a.steal).toDouble / (b.total - a.total)
}
