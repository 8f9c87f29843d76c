package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the `ops` layer for one op, summed over its tasks. */
final class TaskCounters {
  var jobs, stages, tasks, taskFailures = 0L
  var schedDelayMs, runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
}

/** A Catalyst execution seen by the QueryExecutionListener: its planning
  * phases (epoch ms), scan count and, for file writes, the sink metrics. */
final case class Execution(phases: Map[String, (Long, Long)], scans: Int,
                           sinkBytes: Long, sinkFiles: Long, sinkRecords: Long)

final class Job(val group: String, val startMs: Long) { var endMs: Long = -1L }

/** The benchmark's listener pair: a SparkListener for jobs, stages and
  * tasks, and a QueryExecutionListener for planning phases and sink
  * metrics. Task counters are keyed by the job group each op sets; jobs,
  * executions and file-write intervals are kept with their times so that
  * they can be nested under the op spans afterwards. Events arrive on the
  * listener bus thread; readers drain the bus first, then read under the
  * same lock. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val counters = mutable.Map.empty[String, TaskCounters]
  val executions = mutable.ArrayBuffer.empty[Execution]
  /** File-writing SQL executions: id -> (startMs, endMs). */
  val writes = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def of(g: String): TaskCounters = counters.getOrElseUpdate(g, new TaskCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobs(e.jobId) = new Job(g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      // the Spark UI's scheduler delay: task time not spent deserializing,
      // running, serializing the result or fetching it
      val d = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      c.schedDelayMs += math.max(0L, d)
    }
  }

  private val writeStarts = mutable.Map.empty[Long, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart
          if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
        writeStarts(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd =>
        writeStarts.remove(s.executionId).foreach(t => writes(s.executionId) = (t, s.time))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.collect {
      case (k, p) if k != "parsing" => k -> (p.startTimeMs, p.endTimeMs)
    }
    val plan = qe.executedPlan
    val scans = Plans.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.size
    // file writes run under AQE: the write command sits inside the adaptive plan
    val sink = Plans.collect(plan) { case w: DataWritingCommandExec => w.cmd.metrics }.headOption
    def metric(k: String) = sink.flatMap(_.get(k)).map(_.value).getOrElse(0L)
    val ex = Execution(phases, scans, metric("numOutputBytes"), metric("numFiles"),
      metric("numOutputRows"))
    synchronized { executions += ex }
  }
}

private object Plans extends AdaptiveSparkPlanHelper
