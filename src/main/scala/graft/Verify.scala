package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [gateName...] — trailing names restrict the
    // dump to those gates (builder spot-checks); the driver always
    // passes exactly two, dumping everything
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = BenchSupport.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.keys.filter(name => only.isEmpty || only(name)).foreach { name =>
      try dump(spark, sfDir, outDir, name)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in oracle SQL would otherwise make json.load fail
    import control.RunReport.jsonString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes gate `name`'s result to `outDir/name`, then frees its pins. */
  def dump(spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String,
      name: String): Unit = Pins.scoped(SparkEntry.queries(name)(spark, sfDir)
    .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
}
