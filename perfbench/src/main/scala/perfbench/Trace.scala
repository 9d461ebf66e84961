package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One Spark job as the benchmark's own listener saw it, with the task
  * metrics of every stage it ran. Times are epoch milliseconds. */
final class JobRec(val id: Int, val start: Long, val sqlExec: Option[Long]) {
  @volatile var end: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var inputRecords = 0L
  var inputBytes = 0L
  var gcMs = 0L
  var failedTasks = 0
}

/** Plan-level counts of one SQL execution, from its operators' metrics:
  * rows out of nested-loop and cartesian joins (the pairs the distance
  * kernel scored) and rows out of leaf scans. */
final case class PlanStats(pairs: Long, scanRows: Long)

/** The benchmark's own SparkListener, registered only in traced runs. It
  * keeps every job with its aggregated task metrics, and the plan counts of
  * every SQL execution. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val plans = new ConcurrentHashMap[Long, PlanStats]()
  @volatile private var drainSeen = false

  def register(): this.type = { spark.sparkContext.addSparkListener(this); this }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Recorder.queryExecution(end).foreach(qe => plans.put(end.executionId, Recorder.planStats(qe)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (e.properties != null &&
        e.properties.getProperty("spark.jobGroup.id") == Recorder.DrainGroup) return
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, exec))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = e.time else drainSeen = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    withJob(e.stageInfo.stageId)(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withJob(e.stageId) { j =>
    j.tasks += 1
    val info = e.taskInfo
    if (info != null && !info.successful) j.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.inputRecords += m.inputMetrics.recordsRead
      j.inputBytes += m.inputMetrics.bytesRead
      if (info != null) {
        // the scheduler delay as Spark's UI defines it
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        j.schedDelayMs += math.max(0L, delay)
      }
    }
  }

  private def withJob(stageId: Int)(f: JobRec => Unit): Unit = {
    val jid = stageJob.get(stageId) // null when the stage is not ours
    if (jid != null) {
      val j = jobs.get(jid.intValue)
      if (j != null) j.synchronized(f(j))
    }
  }

  /** Waits until every event posted so far has been delivered: runs one
    * tiny job under a marker group and waits for its end event, which the
    * listener bus delivers after everything posted before it. */
  def drain(timeoutMs: Long = 30000): Unit = {
    drainSeen = false
    val sc = spark.sparkContext
    sc.setJobGroup(Recorder.DrainGroup, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!drainSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** summed plan counts of the given SQL executions */
  def planStats(execIds: Iterable[Long]): PlanStats = {
    val ps = execIds.iterator.flatMap(x => Option(plans.get(x))).toSeq
    PlanStats(ps.map(_.pairs).sum, ps.map(_.scanRows).sum)
  }
}

object Recorder extends AdaptiveSparkPlanHelper {
  val DrainGroup = "perfbench-drain"

  /** The execution-end event carries the finished QueryExecution in a
    * field Spark keeps package-private; it is read reflectively. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption.collect {
      case qe: QueryExecution => qe
    }

  def planStats(qe: QueryExecution): PlanStats = {
    def rows(p: org.apache.spark.sql.execution.SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val plan = qe.executedPlan
    PlanStats(
      collect(plan) {
        case j: BroadcastNestedLoopJoinExec => rows(j)
        case j: CartesianProductExec => rows(j)
      }.sum,
      collect(plan) { case l: LeafExecNode => rows(l) }.sum)
  }
}

/** One span of the traced run. Times are epoch milliseconds with
  * sub-millisecond digits; `parent` is -1 at the root. */
final case class Span(id: Int, parent: Int, opId: Int, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** In-memory span store for one traced run, written out at the end. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def add(parent: Int, opId: Int, name: String, start: Double, end: Double): Int = {
    val id = buf.size
    buf += Span(id, parent, opId, name, start, end)
    id
  }
  def all: Seq[Span] = buf.toSeq
}
