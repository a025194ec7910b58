package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span at a layer boundary. Times are epoch microseconds, so they line up
  * with the millisecond timestamps of Spark's listener events.
  */
final case class Span(id: Long, name: String, op: String, parent: Long,
    startUs: Long, endUs: Long)

/** Per-job totals, attributed to an op by the job group and to a span by the
  * `perfbench.span` local property the calling thread set.
  */
final class JobRec(val id: Int, val group: String, val span: Long, val submitMs: Long) {
  @volatile var endMs: Long = -1L
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val waitMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
}

/** One executed query plan: its planning phases and the rows its data-source
  * scans produced.
  */
final case class PlanRec(planId: Long, func: String, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, scanRows: Long)

/** Spans kept in memory, plus a SparkListener and a QueryExecutionListener
  * registered from outside the engine. Nothing inside the engine is traced:
  * spans wrap the benchmark's own calls into each layer's public functions.
  */
final class Tracer(spark: SparkSession) {
  val SpanProp = "perfbench.span"
  private val clockOffsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = clockOffsetUs + System.nanoTime() / 1000L

  private val nextId = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]
  /** SQL execution id → job group of the thread that started it. */
  val execGroup = new ConcurrentHashMap[Long, String]
  /** QueryExecution id → SQL execution id; the two are numbered apart. */
  val execOfPlan = new ConcurrentHashMap[Long, Long]
  val plans = new ConcurrentLinkedQueue[PlanRec]

  private val sc = spark.sparkContext

  /** Runs `f` inside a span; Spark jobs it starts carry the span id. */
  def span[A](name: String, op: String, parent: Long = -1L)(f: Long => A): A = {
    val id = nextId.incrementAndGet()
    val saved = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = nowUs
    try f(id)
    finally {
      spans.add(Span(id, name, op, parent, t0, nowUs))
      sc.setLocalProperty(SpanProp, saved)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val rec = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop(SpanProp).map(_.toLong).getOrElse(-1L), e.time)
      e.stageIds.foreach(s => stageJob.put(s, rec))
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    // skipped stages (shuffle output reused) are never submitted
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { rec =>
        rec.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          rec.runMs.addAndGet(m.executorRunTime)
          rec.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          rec.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          rec.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        Option(stageSubmitMs.get(e.stageId)).foreach(s =>
          rec.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case end: SparkListenerSQLExecutionEnd =>
        // the event's QueryExecution is package-private to Spark SQL
        scala.util.Try(end.getClass.getMethod("qe").invoke(end)).toOption.collect {
          case qe: QueryExecution => execOfPlan.put(qe.id, end.executionId)
        }
      case _ =>
    }
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def rows(plan: SparkPlan): Long =
      collectWithSubqueries(plan) { case b: BatchScanExec => b }
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      plans.add(PlanRec(qe.id, func, ms("analysis"), ms("optimization"), ms("planning"),
        Scans.rows(qe.executedPlan)))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def groupOf(p: PlanRec): Option[String] =
    Option(execOfPlan.get(p.planId)).flatMap(e => Option(execGroup.get(e)))

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every listener event up to now has been delivered, then
    * detaches both listeners.
    */
  def stop(): Unit = {
    val marker = s"perfbench-drain-${System.nanoTime()}"
    sc.setJobGroup(marker, marker)
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    def drained = jobs.values.asScala.exists(j => j.group == marker && j.endMs >= 0) &&
      plans.asScala.exists(p => groupOf(p).contains(marker))
    while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
    require(drained, s"listener events were not delivered within 30 s: " +
      s"jobs=${jobs.values.asScala.filter(_.group == marker).map(j => (j.id, j.endMs))} " +
      s"groups=${execGroup.asScala.toSeq.takeRight(3)} plans=${plans.asScala.toSeq.takeRight(3)}")
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    jobs.values.removeIf(_.group == marker)
  }
}

object Trace {
  /** Everything a tracer recorded, as JSON-ready values. */
  def dump(t: Tracer): Map[String, Any] = Map(
    "spans" -> t.spans.asScala.toSeq.map(s =>
      Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_us" -> s.startUs, "end_us" -> s.endUs)),
    "jobs" -> t.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      Map("id" -> j.id, "group" -> j.group, "span" -> j.span,
        "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "stages" -> j.stages.get,
        "tasks" -> j.tasks.get, "run_ms" -> j.runMs.get, "wait_ms" -> j.waitMs.get,
        "input_bytes" -> j.inputBytes.get,
        "shuffle_read" -> j.shuffleRead.get, "shuffle_write" -> j.shuffleWrite.get)),
    "plans" -> t.plans.asScala.toSeq.map(p =>
      Map("plan" -> p.planId, "func" -> p.func, "group" -> t.groupOf(p).getOrElse(""),
        "analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs,
        "planning_ms" -> p.planningMs, "scan_rows" -> p.scanRows)))
}
