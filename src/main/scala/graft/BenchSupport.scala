package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Session bring-up shared by the suite bench and the isolated-wall
  * child JVMs ([[graft.tools.BenchIsolated]]) — the two must measure
  * under IDENTICAL configs and warmup or the suite-vs-isolated ratio
  * stops meaning "contention". Every other main ([[graft.Verify]],
  * [[graft.tools.Dev]], the plan/state dumps) opens its session here
  * too, so a number from a tool is a number the bench would give;
  * `SourceGuardSpec` fails on a session builder anywhere else. */
object BenchSupport {
  /** Shuffle/spill scratch on guarded tmpfs (r7's bench I/O finding):
    * suite shuffle files are MB-scale at bench sf, but routing them
    * through the host disk let its latency variance move disk-bound
    * gates ~2× between otherwise identical runs. 4 GB headroom guard;
    * dir is deleted at JVM exit. */
  def tmpfsLocalDir(): Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite &&
        shm.getUsableSpace > 4L * 1024 * 1024 * 1024) {
      val d = new java.io.File(shm,
        s"graft_local_${ProcessHandle.current().pid()}")
      if (d.isDirectory || d.mkdirs()) {
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(d)
        }))
        Some(d.getAbsolutePath)
      } else None
    } else None
  }

  def session(cpus: String): SparkSession = {
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as epoch-nanos long (queries convert as needed).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    tmpfsLocalDir().fold(builder0)(d =>
      builder0.config("spark.local.dir", d)).getOrCreate()
  }

  def warmup(spark: SparkSession, sfDir: String): Unit = {
    // Warmup: touch every table once (file-index + footer reads) so the
    // first timed query doesn't absorb session start-up costs.
    graft.Tables.names.foreach { t =>
      try graft.Tables(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    // …and run one synthetic scan→project→agg→join→sort pipeline to JIT
    // the codegen/compile/shuffle infrastructure (Janino, unsafe row
    // writers, exchange setup): measured ~3s landing on whichever query
    // happened to run first otherwise.
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.range(200000).select(col("id"), (col("id") % 97).as("k"),
        col("id").cast("string").as("s"))
      val agg = w.filter(col("id") % 3 === 0)
        .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(length(col("s"))).as("len"))
      agg.join(w.filter(col("id") < 100), Seq("k")).orderBy(col("k")).count()
    }
    // …and one 2-row file-source streaming aggregate: the FIRST streaming
    // query in a session pays ~4-5s of MicroBatchExecution init (executor
    // threads, offset/commit logs, state-store machinery, stateful-agg
    // codegen) that otherwise lands on whichever st-query runs first.
    // Its input, checkpoint and memory view are removed afterwards.
    val dir = java.nio.file.Files.createTempDirectory("graft_warm_stream").toFile
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      val data = new java.io.File(dir, "data").getPath
      spark.range(2).select(col("id"), (col("id") % 2).as("k"))
        .write.mode("overwrite").parquet(data)
      val schema = spark.read.parquet(data).schema
      val q = spark.readStream.schema(schema).parquet(data)
        .groupBy(col("k")).count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_warmup_stream")
        .option("checkpointLocation", new java.io.File(dir, "checkpoint").getPath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } catch { case _: Throwable => () }
    finally {
      spark.catalog.dropTempView("graft_warmup_stream")
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  val Runs = 3

  /** Times one gate as every bench pass does (suite, isolated child JVMs,
    * `Dev time`: they must measure identically): up to [[Runs]] × `count()`,
    * stopping at the first failure, then [[hygiene]]. Each run is a
    * [[Pins.scoped]] closed after its timer stops, so a run's pins leave
    * before the next one starts (r10: x53 carried every earlier run's
    * blocks, 3.87 s in the suite against 2.07 s isolated). Returns the run
    * times in seconds and the failure, if any. */
  def timeGate(spark: SparkSession, sfDir: String,
      name: String): (Seq[Double], Option[String]) = {
    val fn = SparkEntry.queries(name)
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    var error = Option.empty[String]
    while (times.size < Runs && error.isEmpty) {
      val t0 = System.nanoTime()
      try Pins.scoped { fn(spark, sfDir).count(); times += (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    hygiene(spark)
    (times.toSeq, error)
  }

  /** Between gates (r4: t17/t18 showed 10×/2.6× run spreads downstream
    * of the streaming block): drop `graft_` temp views, unload cached
    * state-store providers, and take a GC so allocation debt lands here,
    * untimed, not in the next gate's first run. */
  def hygiene(spark: SparkSession): Unit = {
    try {
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      org.apache.spark.sql.GraftStreamingBridge.unloadAllStateStores()
    } catch { case NonFatal(_) => () }
    System.gc()
  }
}
