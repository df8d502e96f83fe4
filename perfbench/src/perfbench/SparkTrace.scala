package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark listener the benchmark registers in the traced run. It keeps
  * jobs, stages, tasks and SQL executions in memory, tags each job with
  * the benchmark span that submitted it (local property [[SpanKey]]), and
  * turns jobs and stages into child spans of that span at [[flush]]. */
final class SparkTrace(spark: SparkSession, tr: Trace) extends SparkListener {
  import SparkTrace._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val stageDone = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]

  /** ms wall clock → the trace's ns clock. */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + offsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = JobRec(e.jobId, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop(SpanKey).map(_.toLong).getOrElse(0L), e.time, -1L)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) = si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val sub = stageSubmit.getOrElse((si.stageId, si.attemptNumber()), si.submissionTime.getOrElse(0L))
    stageDone += StageRec(si.stageId, si.name, sub, si.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.stageId, ti.partitionId, ti.attemptNumber, ti.launchTime, ti.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleWriteMetrics.bytesWritten, stageSubmit.getOrElse((e.stageId, e.stageAttemptId), ti.launchTime))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = ExecRec(s.executionId, s.physicalPlanDescription, s.time, -1L)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized { execs.get(s.executionId).foreach(_.end = s.time) }
    case _ =>
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)

  /** Jobs submitted inside the benchmark span `span` (or its descendants). */
  def jobsUnder(span: Long, parents: Map[Long, Long]): Vector[JobRec] = synchronized {
    def under(s: Long): Boolean = s != 0 && (s == span || under(parents.getOrElse(s, 0L)))
    jobs.values.filter(j => under(j.span)).toVector
  }

  def tasksOf(js: Seq[JobRec]): Vector[TaskRec] = synchronized {
    val ids = js.map(_.id).toSet
    tasks.filter(t => stageJob.get(t.stage).exists(ids)).toVector
  }

  def stagesOf(js: Seq[JobRec]): Vector[StageRec] = synchronized {
    val ids = js.map(_.id).toSet
    stageDone.filter(s => stageJob.get(s.stage).exists(ids)).toVector
  }

  def exec(id: Long): Option[ExecRec] = synchronized(execs.get(id))

  /** Adds every finished job and stage as a span under its benchmark span. */
  def flush(): Unit = synchronized {
    for (j <- jobs.values if j.end >= 0) {
      val jid = tr.add("spark.job", j.span, toNs(j.start), toNs(j.end))
      for (s <- stageDone if stageJob.get(s.stage).contains(j.id))
        tr.add(s"spark.stage ${s.name.takeWhile(_ != ' ')}", jid, toNs(s.submit), toNs(s.end))
    }
  }
}

object SparkTrace {
  val SpanKey = "perfbench.span"

  final case class JobRec(id: Int, exec: Long, span: Long, start: Long, var end: Long) {
    def ms: Long = end - start
  }
  final case class StageRec(stage: Int, name: String, submit: Long, end: Long)
  final case class TaskRec(
      stage: Int, partition: Int, attempt: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, spillBytes: Long, shuffleWriteBytes: Long, stageSubmit: Long) {
    def ms: Long = finish - launch
    def waitMs: Long = math.max(0L, launch - stageSubmit)
  }
  final case class ExecRec(id: Long, plan: String, start: Long, var end: Long) {
    def ms: Long = end - start
    /** Last path component written by this execution, if it is a file
      * write (from the write node's `Arguments: <path>, ...` detail line). */
    def target: Option[String] =
      """\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\n(?:.*\n)*?Arguments: (\S+?),""".r
        .findFirstMatchIn(plan).map(_.group(1).split('/').last)
  }
}
