package graft.tools

import org.apache.spark.sql.SparkSession

/** Child JVM of [[graft.Bench]]'s isolated-wall pass (VERDICT r8 item
  * 3): measures a handful of gates in a FRESH JVM — identical session
  * configs and warmup as the suite bench ([[graft.BenchSupport]]), so
  * any suite-vs-isolated gap is attributable to one-JVM suite
  * contention (GC debt, code-cache pressure, state-store residue), not
  * to config drift. Args: `sfDir outFile gate...`; writes ONE JSON
  * object `{gate: [t1,t2,t3], ...}` to `outFile` (stdout stays free for
  * Spark logs, which the parent redirects to a log file).
  */
object BenchIsolated {
  private def fmt(d: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** Warm `spark` up, then time each gate in `names` as the suite bench
    * does ([[graft.BenchSupport.timeGate]]). Returns each gate's run
    * times in seconds; a gate whose first run fails is left out. Shared
    * by [[main]] and `Dev time`. */
  def time(spark: SparkSession, sfDir: String,
      names: Seq[String]): collection.Map[String, Seq[Double]] = {
    graft.BenchSupport.warmup(spark, sfDir)
    val runs = names.map(n => n -> graft.BenchSupport.timeGate(spark, sfDir, n)._1)
    collection.immutable.ListMap(runs.filter(_._2.nonEmpty): _*)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.BenchSupport.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val out = time(spark, sfDir, names)
    val json = out.map { case (n, ts) =>
      "\"" + n + "\":" + ts.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile), json.getBytes("UTF-8"))
    spark.stop()
  }
}
