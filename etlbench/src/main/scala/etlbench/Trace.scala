package etlbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Timed spans around the calls a workload makes into graft. Times are
  * wall-clock milliseconds (fractional), on the same clock Spark stamps its
  * listener events with, so jobs and tasks can be attributed to spans. */
final class Tracer {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  final class Span(val id: Int, val name: String, val parent: Int, val start: Double) {
    var end: Double = Double.NaN
    val attrs = scala.collection.mutable.LinkedHashMap[String, Double]()
    def wallS: Double = (end - start) / 1000.0
  }

  private val buf = ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  /** Run `body` inside a span named `name`; returns its result. */
  def span[T](name: String)(body: => T): T = {
    val s = new Span(buf.size, name, stack.headOption.map(_.id).getOrElse(-1), nowMs)
    buf += s
    stack = s :: stack
    try body
    finally { s.end = nowMs; stack = stack.tail }
  }

  /** Attach numbers to the innermost open span. */
  def note(kv: (String, Double)*): Unit = stack.headOption.foreach(_.attrs ++= kv)

  def spans: Seq[Span] = buf.toSeq
  def topLevel: Seq[Span] = buf.filter(_.parent == -1).toSeq
}

/** Spark-side counts for a traced run: jobs, stages, tasks (with their task
  * metrics) and query executions, all stamped so they can be attributed to
  * the [[Tracer]] span they happened in. Events arrive on Spark's listener
  * bus thread; read them only after [[drain]]. */
object SparkRecorder {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleReadB: Long,
                        shuffleWriteB: Long, spillB: Long, peakMemB: Long)
  final case class Stage(id: Int, name: String, details: String, startMs: Long, endMs: Long,
                         numTasks: Int, restScan: Boolean)
  /** One SQL execution; `details` is its long call site. */
  final case class Execution(id: Long, details: String, startMs: Long, var endMs: Long)
  final case class Query(endMs: Double, analysisMs: Double, optimizeMs: Double, planMs: Double)
}

final class SparkRecorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import SparkRecorder._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val queries = new ConcurrentLinkedQueue[Query]()
  val executions = new java.util.concurrent.ConcurrentHashMap[Long, Execution]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(Stage(e.stageInfo.stageId, e.stageInfo.name, e.stageInfo.details,
      e.stageInfo.submissionTime.getOrElse(0L), e.stageInfo.completionTime.getOrElse(0L),
      e.stageInfo.numTasks,
      e.stageInfo.rddInfos.exists(_.scope.exists(_.name.contains("graft-rest")))))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, Execution(s.executionId, s.details, s.time, -1L))
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      Option(executions.get(s.executionId)).foreach(_.endMs = s.time)
    case _ =>
  }

  private def phaseMs(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    queries.add(Query(System.currentTimeMillis().toDouble,
      phaseMs(qe, "analysis"), phaseMs(qe, "optimization"), phaseMs(qe, "planning")))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.etlbenchshim.BusShim.drain(spark.sparkContext)
}
