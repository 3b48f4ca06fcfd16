package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Developer entry point over the gate registry ([[graft.SparkEntry]]),
  * on the bench's session ([[graft.BenchSupport.session]], cores from
  * `SPARK_GRAFT_CPUS`, default 4):
  *
  * {{{
  * sbt "runMain graft.tools.Dev time    <sfDir> <gate…>"   # as the bench's isolated pass
  * sbt "runMain graft.tools.Dev explain <sfDir> <gate…>"   # formatted physical plans
  * sbt "runMain graft.tools.Dev sql     <sfDir> <statement>"
  * }}}
  *
  * Any other session setting comes in as a JVM `-Dspark.*` property,
  * e.g. a streaming shuffle-partition sweep or the RocksDB state store:
  *
  * {{{
  * sbt 'set run / javaOptions += "-Dspark.graft.streaming.stateStore=rocksdb"' \
  *     "runMain graft.tools.Dev time /root/testdata/sf0.1 st4_stream_stream"
  * }}}
  *
  * Result dumps for the DuckDB compare are `graft.Verify <sfDir> <outDir>
  * <gate…>` followed by `devtools/compare.py`.
  */
object Dev {

  val usage: String =
    """usage: graft.tools.Dev <verb> <sfDir> ...
      |  time <gate...>      warm-up, then 3 timed count() runs per gate
      |  explain <gate...>   formatted physical plan of each gate
      |  sql <statement>     run SQL over the sf tables and show the result""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = graft.BenchSupport.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs one verb on `spark`, printing to `Console.out`. Throws
    * `IllegalArgumentException` on a bad verb, arity or gate name. */
  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("time", sfDir, gates @ _*) =>
      val times = BenchIsolated.time(spark, sfDir, known(gates))
      gates.foreach { g =>
        val ts = times.get(g).fold("failed")(
          _.map("%.3f".formatLocal(java.util.Locale.ROOT, _)).mkString(" "))
        println(f"$g%-28s $ts")
      }
    case Seq("explain", sfDir, gates @ _*) =>
      known(gates).foreach { g =>
        println(s"===== $g =====")
        println(graft.Pins.scoped(
          graft.SparkEntry.queries(g)(spark, sfDir).queryExecution.explainString(FormattedMode)))
      }
    case Seq("sql", sfDir, statement) =>
      graft.Tables.names.foreach(t =>
        graft.Tables(spark, sfDir, t).createOrReplaceTempView(t))
      try spark.sql(statement).show(100, truncate = false)
      finally graft.Tables.names.foreach(spark.catalog.dropTempView)
    case _ => throw new IllegalArgumentException(usage)
  }

  private def known(gates: Seq[String]): Seq[String] = {
    val unknown = gates.filterNot(graft.SparkEntry.queries.contains)
    require(gates.nonEmpty, usage)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    gates
  }
}
