package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set up, run timed passes for the requested
  * seconds, check every file, and print one JSON result line.
  *
  * `perfbench.Main --workload bulk|arrivals --seed N --seconds S
  *   --trace 0|1 --work DIR --gates-expected FILE [--trace-out FILE]` */
object Main {
  /** A workload: the shape of each pass, and how many passes of that
    * shape run untimed before the window. */
  final case class Workload(shape: Shape, warmUpPasses: Int)

  /** `arrivals` warms up for two passes: after one, its files were still
    * speeding up through the window, and that slope spread its medians
    * (README.md, "Warm-up"). */
  val Workloads: Map[String, Workload] = Map(
    "bulk" -> Workload(Shape(pzFiles = 1, paFiles = 1, rowsPerFile = 100000, singleOpco = false), 1),
    "arrivals" -> Workload(Shape(pzFiles = 4, paFiles = 2, rowsPerFile = 3000, singleOpco = true), 2))

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRounds = 3
  /** Loaded files of each pipeline a window needs before it may end, so
    * each median has more than one sample; bulk needs two passes for it. */
  val MinLoaded = 2
  /** The pass each set-up round prepares and closes unrun: one small file
    * of each pipeline. */
  val WarmUp = Shape(pzFiles = 1, paFiles = 1, rowsPerFile = 3000, singleOpco = true)

  def session(cpus: Int, localDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getAbsolutePath)
      // bounded job/stage/execution history, so retained heap stops
      // growing with the number of files run and shows real leaks
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val Workload(shape, warmUpPasses) = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    Pass.derbyHome(new File(work, "derby"))
    val localDir = new File(work, "spark-local")

    // Set-up, several times over: (re)start the session, create the Derby
    // schema and generate the inputs of one small pass; setup_s is the
    // median. The first round also pays JVM class loading. Then, untimed
    // and counted in no metric, the workload's warm-up passes of its own
    // shape run, so the measured files run on warmer code. The run budget
    // has room for no more (README.md, "Warm-up").
    val results = ArrayBuffer[FileResult]()
    val off = new Tracer(false)
    var spark: SparkSession = null
    def run(pass: Pass): Unit = try results ++= pass.run() finally pass.close()
    val prepared = (1 to SetupRounds).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, localDir)
      val pass = Pass.prepare(spark, work, seed, -k, WarmUp, cpus, off)
      (pass, (System.nanoTime() - t0) / 1e9)
    }
    val setups = prepared.map(_._2)
    val warmStart = System.nanoTime()
    prepared.foreach(_._1.close())
    (1 to warmUpPasses).foreach(i => run(Pass.prepare(spark, work, seed, -SetupRounds - i, shape, cpus, off)))
    val warmUp = (System.nanoTime() - warmStart) / 1e9

    val tracer = new Tracer(traced)
    val collector = new Collector
    if (traced) {
      tracer.attach(spark.sparkContext)
      spark.sparkContext.addSparkListener(collector)
    }

    val timed = ArrayBuffer[FileResult]()
    val heapMb = ArrayBuffer[Double]()
    // Files one after another until the time is up and each pipeline has
    // loaded MinLoaded files (for at most twice the time); each pass keeps
    // its own directories and database, and one cut short is still closed.
    val measureStart = System.nanoTime()
    val window = (seconds * 1e9).toLong
    def more = {
      val elapsed = System.nanoTime() - measureStart
      elapsed < window || (elapsed < 2 * window &&
        !Seq[Kind](Pz, Pa).forall(k => timed.count(r => r.file.kind == k && !r.rejected) >= MinLoaded))
    }
    var index = 0
    while (more) {
      val pass = Pass.prepare(spark, work, seed, index, shape, cpus, tracer)
      val before = timed.size
      try pass.files.foreach(f => if (more) timed += pass.process(f))
      finally pass.close()
      // two full GCs: one alone read high by a varying amount, presumably
      // what Spark's cleaner threads free only after a GC has run
      System.gc()
      Thread.sleep(300)
      System.gc()
      heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      System.err.println(f"perfbench: pass $index heap ${heapMb.last}%.1fMB latencies " +
        timed.drop(before).map(r => f"${r.file.kind}:${r.latency}%.2f" +
          (if (r.reported > 0) f"(report ${r.reportLatency}%.3f)" else "") + f"/steal=${r.steal}%.3f").mkString(" "))
      index += 1
    }
    results ++= timed
    val measured = (System.nanoTime() - measureStart) / 1e9

    // Traced runs also time the gate sample: the layers the pipelines
    // never call. One untimed pass first, then one traced pass.
    val gates = ArrayBuffer[Gates.Outcome]()
    val gateErrors = ArrayBuffer[String]()
    if (traced) {
      val dir = new File(work, "gate-tables")
      val want = Gates.expected(new File(args("gates-expected")))
      tracer.span("gates.setup", "gates.setup") {
        Gates.writeTables(spark, dir)
        gateErrors ++= Gates.check(Gates.pass(spark, dir.getPath, Gates.order(seed, 0), off), want)
      }
      gates ++= Gates.pass(spark, dir.getPath, Gates.order(seed, 1), tracer)
      gateErrors ++= Gates.check(gates.toSeq, want)
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(timed.toSeq, Stats.median(setups), Stats.median(heapMb.toSeq))
      else {
        org.apache.spark.sql.PerfbenchBridge.drain(spark.sparkContext)
        val layers = new Layers(timed.toSeq, gates.toSeq, tracer, collector)
        args.get("trace-out").foreach(p => layers.write(new File(p)))
        layers.metrics
      }
    spark.stop()

    // every gate run counts as an operation, warm-up included
    val attempted = results.map(_.attempted).sum + 2 * gates.size
    val failed = results.map(_.failed).sum + gateErrors.size
    (results.flatMap(r => r.errors.map(e => s"${r.file.name}: $e")) ++ gateErrors).take(20)
      .foreach(System.err.println)
    if (gates.nonEmpty) System.err.println("perfbench: gates " +
      gates.map(g => f"${g.name}:${g.seconds}%.2f").mkString(" "))
    System.err.println(f"perfbench: $workload seed=$seed set-ups=${setups.map(x => f"$x%.2f").mkString("/")}s " +
      f"warm-up=$warmUp%.1fs measured=$measured%.1fs passes=$index files=${timed.size} " +
      f"attempted=$attempted failed=$failed jvm=${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs")
    println(Json.result(failed == 0, attempted, failed, metrics))
  }

  /** The metrics a user of the pipelines sees, from an untraced run. */
  def endToEnd(files: Seq[FileResult], setup: Double, heapMb: Double): Seq[(String, Double, String)] = {
    val pz = files.filter(f => f.file.kind == Pz && !f.rejected)
    val pa = files.filter(f => f.file.kind == Pa)
    val loadedAll = files.filterNot(_.rejected)
    Seq(
      ("setup_s", setup, "s"),
      ("pz_report_s", Stats.median(pz.map(_.reportLatency)), "s"),
      ("pz_loaded_s", Stats.median(pz.map(_.latency)), "s"),
      ("pa_loaded_s", Stats.median(pa.map(_.latency)), "s"),
      ("file_p80_s", Stats.quantile(loadedAll.map(_.latency), 0.8), "s"),
      // files run back to back, so their summed latency is the window's
      // wall time less the untimed housekeeping between passes
      ("rows_loaded_per_s", files.map(_.rowsCommitted).sum / files.map(_.latency).sum, "1/s"),
      ("retained_heap_mb", heapMb, "MB"))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString(", ") + "}}"
}
