package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records raw events for the traced run, from Spark's public listener
  * interfaces only. Nothing here attributes or aggregates: the Python side
  * turns these records into spans and per-layer metrics.
  *
  * Query executions are seen through [[CatalystListener]], which Spark
  * instantiates in every session (including the `newSession()` sessions
  * the streaming operators use) when `spark.sql.queryExecutionListeners`
  * names it. Stream batches arrive on the shared bus as
  * `StreamingQueryListener` events, whichever session started the stream. */
object Trace {
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val taskDurations = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]

  def attach(spark: SparkSession): Trace.type = {
    spark.sparkContext.addSparkListener(Bus)
    this
  }

  def snapshot(): Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
      "executions" -> executions.toSeq, "batches" -> batches.toSeq)
  }

  private[perfbench] def execution(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(p.startTimeMs, p.endTimeMs) }
    val writes = writeMetrics(qe.executedPlan)
    synchronized {
      executions += Map("ok" -> ok, "phases" -> phases,
        "write_files" -> writes.map(_._1).sum,
        "write_bytes" -> writes.map(_._2).sum,
        "write_rows" -> writes.map(_._3).sum)
    }
  }

  /** (files, bytes, rows) of every V1 file write in an executed plan. */
  private def writeMetrics(plan: SparkPlan): Seq[(Long, Long, Long)] = {
    def walk(p: SparkPlan): Seq[(Long, Long, Long)] = p match {
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
        Seq((v("numFiles"), v("numOutputBytes"), v("numOutputRows"))) ++ walk(w.child)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(plan)
  }

  private object Bus extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      jobStart(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      val (start, stageIds) = jobStart.remove(e.jobId).getOrElse((e.time, Nil))
      jobs += Map("id" -> e.jobId, "start_ms" -> start, "end_ms" -> e.time,
        "stage_ids" -> stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      taskDurations.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      val durations = taskDurations.remove((s.stageId, s.attemptNumber())).map(_.toSeq)
        .getOrElse(Nil)
      stages += Map(
        "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "start_ms" -> s.submissionTime.getOrElse(0L),
        "end_ms" -> s.completionTime.getOrElse(0L),
        "tasks" -> s.numTasks,
        "task_ms" -> durations,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead),
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> m.diskBytesSpilled)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val startMs = java.time.Instant.parse(pr.timestamp).toEpochMilli
        Trace.synchronized {
          batches += Map("run_id" -> pr.runId.toString, "batch" -> pr.batchId,
            "start_ms" -> startMs, "end_ms" -> (startMs + pr.batchDuration),
            "input_rows" -> pr.numInputRows)
        }
      case _ => ()
    }
  }
}

/** Registered through `spark.sql.queryExecutionListeners`. */
class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.execution(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.execution(qe, ok = false)
}
