package perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A timed call into one layer. Times are `System.nanoTime`. */
final case class Span(id: Long, name: String, file: String, parent: Long, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Records spans around the benchmark's calls into the engine. Disabled,
  * `span` only runs its body, so untraced runs pay nothing. Enabled, it
  * also tags every Spark job started inside the span with the span id
  * (a SparkContext local property, which Spark copies to the threads it
  * starts for the job and which `RunPlanner`'s pool threads inherit). */
final class Tracer(val enabled: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new InheritableThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  @volatile private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = sc = context

  def span[T](name: String, file: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val id = ids.incrementAndGet()
      val fileId = if (file.nonEmpty) file else outer.headOption.map(_._2).getOrElse("")
      val prop = sc.getLocalProperty(Tracer.SpanKey)
      stack.set((id, fileId) :: outer)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, fileId, outer.headOption.map(_._1).getOrElse(0L), start, System.nanoTime()))
        sc.setLocalProperty(Tracer.SpanKey, prop)
        stack.set(outer)
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** One Spark job and the task metrics of its stages. Times are epoch ms. */
final class JobRec(val jobId: Int, val span: Long, val execId: Long, val start: Long) {
  @volatile var end: Long = start
  val tasks = new AtomicLong()
  val runMs = new AtomicLong()
  val cpuNs = new AtomicLong()
  val gcMs = new AtomicLong()
  val schedMs = new AtomicLong()
  val inputBytes = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
}

/** Planner phases and plan shape of one SQL execution. */
final case class PlanRec(execId: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, scans: Int, exchanges: Int, broadcasts: Int)

/** Engine-side counters from one SparkListener: jobs and their tasks,
  * and for each SQL execution its call site, planner phases and plan
  * shape. */
final class Collector extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  /** Execution id -> long-form call site of the thread that started it. */
  val callSites = new ConcurrentHashMap[Long, String]()

  private def prop(p: Properties, key: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val rec = new JobRec(e.jobId,
      prop(e.properties, Tracer.SpanKey).map(_.toLong).getOrElse(0L),
      prop(e.properties, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        j.runMs.addAndGet(m.executorRunTime)
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        j.schedMs.addAndGet(math.max(0L, e.taskInfo.duration - overhead - e.taskInfo.gettingResultTime))
        j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => callSites.put(s.executionId, s.details)
    case end: SparkListenerSQLExecutionEnd =>
      PerfbenchBridge.queryExecution(end).foreach(qe => plans.add(plan(end.executionId, qe)))
    case _ => ()
  }

  private def plan(execId: Long, qe: org.apache.spark.sql.execution.QueryExecution): PlanRec = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    var scans, exchanges, broadcasts = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ =>
        p match {
          case _: ShuffleExchangeExec => exchanges += 1
          case _: BroadcastExchangeExec => broadcasts += 1
          case _ if p.nodeName.contains("Scan") && p.children.isEmpty => scans += 1
          case _ => ()
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    PlanRec(execId, ms("analysis"), ms("optimization"), ms("planning"), scans, exchanges, broadcasts)
  }
}
