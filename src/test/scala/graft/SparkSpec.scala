package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{GraftListenerBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Drop managed tables AND their warehouse directories — a crashed
    * prior JVM leaves the dir behind with no catalog entry, which blocks
    * the next CREATE TABLE. Shared by the bucketing specs. */
  def dropManagedTables(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    deleteRecursively(new java.io.File(s"spark-warehouse/$t"))
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Runs `body` on a fresh temp directory and deletes it recursively
    * afterwards, pass or fail. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.getPath) finally deleteRecursively(dir)
  }

  /** Creates `root/name` (a spec that needs several directories takes
    * them from one [[withTempDir]]). */
  def mkdir(root: String, name: String): String =
    Files.createDirectories(Paths.get(root, name)).toString

  /** `body`'s result and the number of Spark jobs that started while it
    * ran; the listener bus is drained on both sides, so events of
    * earlier work are not counted and none of `body`'s are missed. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { val a = body; GraftListenerBridge.drain(spark); (a, jobs.get) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `body`'s result and the executed plan of every query that succeeded
    * while it ran, in the order they finished: the twin of [[jobsDuring]]
    * for plan shape, drained the same way. */
  def executedPlansDuring[A](body: => A): (A, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    GraftListenerBridge.drain(spark)
    spark.listenerManager.register(listener)
    try { val a = body; GraftListenerBridge.drain(spark); (a, plans.asScala.toSeq) }
    finally spark.listenerManager.unregister(listener)
  }
}
