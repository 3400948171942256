package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps a Spark call site to the engine module that launched the job. */
object Modules {
  /** The engine's layers, by package name under `graft`. */
  val layers: Seq[String] =
    Seq("model", "core", "store", "state", "analytics", "functions", "queries")

  /** A job launched by the benchmark's own forcing action. */
  val Action = "action"
  /** A job from a graft package outside the measured layers. */
  val Other = "other"

  /** The innermost `graft.<module>` frame of a long-form call site (frames
    * run innermost first, one per line). A top-level `graft` object such as
    * `SparkEntry` holds gate entries, so it counts as `queries`. A call site
    * with no engine frame came from the benchmark itself. */
  def of(callSite: String): String =
    callSite.linesIterator.map(_.trim.stripPrefix("at ")).collectFirst {
      case f if f.startsWith("graft.") =>
        val rest = f.stripPrefix("graft.")
        val name = rest.takeWhile(c => c != '.' && c != '$' && c != '(')
        if (rest.length > name.length && rest.charAt(name.length) == '.')
          (if (layers.contains(name)) name else Other)
        else "queries"
    }.getOrElse(Action)
}

final case class JobSpan(id: Int, module: String, start: Long, end: Long)

final case class StageSpan(id: Int, attempt: Int, module: String, submitted: Long,
    completed: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    inputBytes: Long, inputRows: Long)

/** Catalyst phase times of one action, placed at its analysis start. */
final case class PlanSpan(start: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Records Spark jobs, stages, failed tasks and Catalyst phases while
  * attached. Listener events arrive asynchronously; [[detach]] waits for
  * the listener bus to drain, so everything posted while attached is
  * recorded. Times are wall-clock milliseconds, as Spark stamps events. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentLinkedQueue[JobSpan]()
  private val stages = new ConcurrentLinkedQueue[StageSpan]()
  private val failedTaskTimes = new ConcurrentLinkedQueue[Long]()
  private val plans = new ConcurrentLinkedQueue[PlanSpan]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()

  private def module(info: StageInfo): String = Modules.of(info.details)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val m = if (e.stageInfos.isEmpty) Modules.Action else module(e.stageInfos.maxBy(_.stageId))
    open.put(e.jobId, (m, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (m, start) =>
      jobs.add(JobSpan(e.jobId, m, start, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    def m(f: TaskMetrics => Long): Long = Option(i.taskMetrics).map(f).getOrElse(0L)
    val submitted = i.submissionTime.getOrElse(0L)
    stages.add(StageSpan(i.stageId, i.attemptNumber(), module(i), submitted,
      i.completionTime.getOrElse(submitted), i.numTasks,
      m(_.executorRunTime), m(_.executorCpuTime), m(_.jvmGCTime),
      m(_.shuffleWriteMetrics.bytesWritten), m(_.shuffleReadMetrics.totalBytesRead),
      m(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      m(_.inputMetrics.bytesRead), m(_.inputMetrics.recordsRead)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) failedTaskTimes.add(e.taskInfo.finishTime)

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.get("analysis").orElse(ph.values.headOption).map(_.startTimeMs).getOrElse(0L)
    plans.add(PlanSpan(start, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  def attach(session: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(this)
    session.listenerManager.register(this)
  }

  def detach(session: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    session.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  def jobList: Seq[JobSpan] = jobs.asScala.toSeq
  def stageList: Seq[StageSpan] = stages.asScala.toSeq
  def planList: Seq[PlanSpan] = plans.asScala.toSeq
  def failedTaskList: Seq[Long] = failedTaskTimes.asScala.toSeq
}
