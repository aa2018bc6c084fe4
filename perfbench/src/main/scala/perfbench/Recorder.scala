package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side measurements, taken only through Spark's public listener
  * APIs. Every job carries the harness's tags (pass, query, phase) as
  * SparkContext local properties; stages and tasks inherit the tags of the
  * job that submitted them. Events are only appended here; they are read
  * after `SparkSession.stop()` has drained the listener bus.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = new ConcurrentLinkedQueue[Job]
  val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]
  val stages = new ConcurrentLinkedQueue[Stage]
  val tasks = new ConcurrentLinkedQueue[Task]
  val plans = new ConcurrentLinkedQueue[Plan]
  private val jobOfStage = new ConcurrentHashMap[Int, Integer]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def tag(k: String) = Option(p).flatMap(q => Option(q.getProperty(k))).getOrElse("")
    // a stage's details hold the job's call site, whose first frames outside
    // Spark are the repo's: a table read's schema job starts in Tables.scala
    val tables = e.stageInfos.exists(_.details.contains("(Tables.scala:"))
    jobs.add(Job(e.jobId, e.time, tag(PassKey).toIntOption.getOrElse(-1), tag(QueryKey),
      tag(PhaseKey), tables))
    e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, jobOf(i.stageId), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks.add(Task(e.stageId, jobOf(e.stageId), i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime / 1000000.0, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  private def jobOf(stage: Int): Int = Option(jobOfStage.get(stage)).map(_.intValue).getOrElse(-1)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = plan(qe)

  /** Analysis, optimization and planning time of one executed query, from
    * its QueryPlanningTracker; placed in time by its first phase's start.
    */
  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) plans.add(Plan(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
}

object Recorder {
  val PassKey = "perfbench.pass"
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"

  final case class Job(id: Int, start: Long, pass: Int, query: String, phase: String, tables: Boolean)
  final case class Stage(id: Int, job: Int, start: Long, end: Long)
  final case class Task(stage: Int, job: Int, start: Long, end: Long, runMs: Long, cpuMs: Double,
      shuffleRead: Long, shuffleWrite: Long, diskSpill: Long)
  final case class Plan(start: Long, ms: Long)
}
