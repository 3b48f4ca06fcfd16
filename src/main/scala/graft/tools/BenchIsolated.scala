package graft.tools

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

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
  private val Runs = 3
  private def fmt(d: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** Warm `spark` up, then time each gate in `names` as the suite
    * bench does: 3 × `count()`, a blocking unpersist of pin blocks after
    * each run, [[graft.BenchSupport.hygiene]] after each gate. Returns
    * each gate's run times in seconds; a gate whose first run fails is
    * left out. Shared by [[main]] and `Dev time`. */
  def time(spark: SparkSession, sfDir: String,
      names: Seq[String]): collection.Map[String, Seq[Double]] = {
    graft.BenchSupport.warmup(spark, sfDir)
    val out = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      var i = 0
      var failed = false
      while (i < Runs && !failed) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          times += (System.nanoTime() - t0) / 1e9
        } catch { case NonFatal(_) => failed = true }
        // between-run pin-block hygiene, mirroring the suite bench (the
        // two must measure identically or suite-vs-isolated stops
        // meaning "contention"); blocking, so removal work cannot leak
        // into the next timed run
        try spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        catch { case NonFatal(_) => () }
        i += 1
      }
      if (times.nonEmpty) out(name) = times.toSeq
      graft.BenchSupport.hygiene(spark)
    }
    out
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
