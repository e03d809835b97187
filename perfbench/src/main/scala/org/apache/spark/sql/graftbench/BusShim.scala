package org.apache.spark.sql.graftbench

import java.util.{Collections, Properties, UUID}

import com.codahale.metrics.Gauge

import org.apache.spark.{Success, TaskState}
import org.apache.spark.executor.ExecutorMetrics
import org.apache.spark.scheduler._
import org.apache.spark.scheduler.cluster.ExecutorInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{SinkProgress, SourceProgress, StreamingQueryListener, StreamingQueryProgress}

/** Listener-bus access for the benchmark. `SparkContext.listenerBus`,
  * `StreamingQueryManager.postListenerEvent` and the scheduler event
  * constructors it needs are `private[spark]`/`private[sql]`, so this shim
  * lives under the spark namespace, as the repository's own
  * `org.apache.spark.graft.GraftMetricsSource` does. */
final class BusShim(spark: SparkSession) {
  private val bus = spark.sparkContext.listenerBus

  /** Post one scheduler event to every listener queue. */
  def post(e: SparkListenerEvent): Unit = bus.post(e)

  /** Post a streaming-query event. A `QueryStartedEvent` must go first for
    * a run id: the streaming listener bus only delivers progress of run ids
    * it has seen start. */
  def postStreaming(e: StreamingQueryListener.Event): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .streams.postListenerEvent(e)

  /** Block until every listener queue has delivered what was posted. */
  def waitUntilEmpty(): Unit = bus.waitUntilEmpty()

  /** Events waiting in a listener queue right now (0 when it does not exist). */
  def queued(queue: String): Int =
    Option(bus.metrics.metricRegistry.getMetrics.get(s"queue.$queue.size")) match {
      case Some(g: Gauge[_]) => g.getValue.asInstanceOf[Int]
      case _ => 0
    }
}

object BusShim {
  val SharedQueue = "shared"

  def jobStart(jobId: Int, time: Long, stages: Seq[StageInfo], props: Properties) =
    SparkListenerJobStart(jobId, time, stages, props)

  def jobEnd(jobId: Int, time: Long) = SparkListenerJobEnd(jobId, time, JobSucceeded)

  def stageInfo(stageId: Int, numTasks: Int, parents: Seq[Int]): StageInfo =
    new StageInfo(stageId, 0, s"stage-$stageId", numTasks, Nil, parents, "", null,
      Nil, None, 0, false, 0)

  def stageSubmitted(info: StageInfo, time: Long) = {
    info.submissionTime = Some(time)
    SparkListenerStageSubmitted(info, new Properties())
  }

  def stageCompleted(info: StageInfo, time: Long) = {
    info.completionTime = Some(time)
    SparkListenerStageCompleted(info)
  }

  def taskEnd(stageId: Int, taskId: Long, executorId: String, finishTime: Long,
              durationMs: Long): SparkListenerTaskEnd = {
    val info = new TaskInfo(taskId, taskId.toInt, 0, taskId.toInt,
      finishTime - durationMs, executorId, s"host-$executorId",
      TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(TaskState.FINISHED, finishTime)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, info,
      new ExecutorMetrics(), null)
  }

  /** A progress event with one source, as a micro-batch query reports it. */
  def progress(queryId: String, runId: String, name: String, timestamp: String, batchId: Long,
               durationMs: Long, source: String, numInputRows: Long,
               rowsPerSecond: Double): StreamingQueryListener.QueryProgressEvent = {
    val src = new SourceProgress(source, "0", "1", "1", numInputRows, rowsPerSecond,
      rowsPerSecond, Collections.emptyMap())
    new StreamingQueryListener.QueryProgressEvent(new StreamingQueryProgress(
      UUID.fromString(queryId), UUID.fromString(runId), name, timestamp, batchId, durationMs,
      Collections.emptyMap(), Collections.emptyMap(), Array.empty, Array(src),
      new SinkProgress("MemorySink[bench]"), Collections.emptyMap()))
  }

  def executorAdded(executorId: String, time: Long, cores: Int) =
    SparkListenerExecutorAdded(time, executorId,
      new ExecutorInfo(s"host-$executorId", cores, Map.empty))

  private val SchedulerOnly = Set("jobId", "stageId", "stageIds", "parentStageIds", "numTasks",
    "taskId", "executorId", "durationMs", "sqlExecutionId")
  private val ProgressOnly = Set("queryRunId", "numInputRows", "processedRowsPerSecond",
    "sources", "sinkDesc")

  /** Scans of the scheduler and of the progress snapshot (in-memory
    * relations, recognised by columns only those rows have, since the
    * optimizer prunes the rest) in a finished query's physical plan,
    * adaptive stages and subqueries included. */
  def telemetryScans(plan: SparkPlan): (Int, Int) = {
    var sched = 0
    var prog = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case l: LocalTableScanExec =>
        val names = l.output.map(_.name).toSet
        if (names.exists(SchedulerOnly)) sched += 1
        else if (names.exists(ProgressOnly)) prog += 1
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (sched, prog)
  }
}
