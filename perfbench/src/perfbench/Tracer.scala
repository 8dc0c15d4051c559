package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Job and stage records of one traced operation, plus the Catalyst phase
  * times of every query execution it finished. */
final case class Trace(
    jobs: Seq[Map[String, Any]],
    stages: Seq[Map[String, Any]],
    phasesMs: Map[String, Long])

/** Spark and SQL listener the benchmark registers for traced passes only.
  * Events are buffered as they arrive and handed out by [[take]] after the
  * listener bus has been drained at the end of each operation. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[Map[String, Any]]()
  private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val phases = mutable.Map[String, Long]().withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // a job's call site is the name of its result stage (the last one)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = mutable.Map(
      "job" -> e.jobId, "group" -> group, "site" -> site,
      "file" -> site.split(" at ").lastOption.map(_.split(":")(0)).getOrElse(""),
      "start_ms" -> e.time, "declared_stages" -> e.stageIds.size)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val durs = taskMs.remove((s.stageId, s.attemptNumber())).map(_.toSeq).getOrElse(Nil)
    val metrics: Map[String, Any] =
      if (m == null) Map.empty
      else Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> m.diskBytesSpilled,
        "in_records" -> m.inputMetrics.recordsRead,
        "in_bytes" -> m.inputMetrics.bytesRead,
        "out_records" -> m.outputMetrics.recordsWritten,
        "out_bytes" -> m.outputMetrics.bytesWritten)
    stages += metrics ++ Map(
      "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "job" -> stageJob.getOrElse(s.stageId, -1), "tasks" -> s.numTasks,
      "start_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L),
      "ok" -> s.failureReason.isEmpty,
      "task_ms" -> durs.sum,
      "max_task_ms" -> (if (durs.isEmpty) 0L else durs.max))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, summary) =>
        phases(phase) += summary.durationMs
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** Everything recorded since the previous call, then forget it. */
  def take(): Trace = synchronized {
    val t = Trace(jobs.values.map(_.toMap).toSeq, stages.toSeq, phases.toMap)
    jobs.clear(); stageJob.clear(); stages.clear(); taskMs.clear(); phases.clear()
    t
  }
}
