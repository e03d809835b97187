package graft.analyzer

import scala.collection.mutable

import graft.model._
import graft.ops.Classify

/** The live path: [[SpanBuilder.jobSpans]]/[[SpanBuilder.stageSpans]]/
  * [[SpanBuilder.batchProgress]] followed by [[BatchAnalyzer.analyze]], as
  * one in-memory fold on the driver.
  *
  * The live window already sits in the driver's listener buffers
  * ([[graft.ingest.ListenerBridge]]) and every result row returns to the
  * driver, so planning and launching Spark jobs over a few thousand rows
  * would cost far more than the fold itself (the reference folds
  * driver-side maps the same way). The results are the Dataset pipeline's,
  * row for row: `AnalyzerSpec` asserts it on every golden scenario and on
  * seeded random telemetry.
  */
object LiveAnalyzer {

  /** [[SpanBuilder.jobSpans]]: jobStart/jobEnd correlated per jobId, the
    * foreign keys as the max over the job's events; in-flight jobs dropped. */
  def jobSpans(events: Seq[SchedulerEvent]): Seq[JobSpan] = {
    val acc = mutable.LinkedHashMap.empty[Long, JobAcc]
    events.foreach { e =>
      if ((e.kind == "jobStart" || e.kind == "jobEnd") && e.jobId.isDefined) {
        val j = acc.getOrElseUpdate(e.jobId.get, new JobAcc)
        if (e.kind == "jobStart") j.start = minOpt(j.start, Some(e.time))
        else j.end = maxOpt(j.end, Some(e.time))
        j.sqlExecutionId = maxOpt(j.sqlExecutionId, e.sqlExecutionId)
        j.queryId = maxOpt(j.queryId, e.queryId)
        j.batchId = maxOpt(j.batchId, e.batchId)
      }
    }
    acc.iterator.collect {
      case (id, j) if j.start.isDefined && j.end.isDefined =>
        JobSpan(id, j.start.get, j.end.get, j.sqlExecutionId, j.queryId, j.batchId)
    }.toSeq
  }

  /** [[SpanBuilder.stageSpans]]: one span per (job, stage) listed in a
    * jobStart, for stages both submitted and completed; the parents come
    * from the first stageSubmitted. */
  def stageSpans(events: Seq[SchedulerEvent]): Seq[StageSpan] = {
    val acc = mutable.HashMap.empty[Int, StageAcc]
    val stageToJob = mutable.ArrayBuffer.empty[(Long, Int)]
    events.foreach { e =>
      if (e.kind == "jobStart") e.jobId.foreach(j => e.stageIds.foreach(s => stageToJob += ((j, s))))
      else if (e.stageId.isDefined &&
          (e.kind == "stageSubmitted" || e.kind == "stageCompleted" || e.kind == "taskEnd")) {
        val s = acc.getOrElseUpdate(e.stageId.get, new StageAcc)
        s.numTasks = math.max(s.numTasks, e.numTasks.getOrElse(0))
        e.kind match {
          case "stageSubmitted" =>
            s.start = minOpt(s.start, Some(e.time))
            if (s.parents.isEmpty) s.parents = Some(e.parentStageIds)
          case "stageCompleted" => s.end = maxOpt(s.end, Some(e.time))
          case _ =>
            val d = e.durationMs.getOrElse(0L)
            s.maxTask = math.max(s.maxTask, d)
            s.totalTask += d
        }
      }
    }
    stageToJob.toSeq.flatMap { case (jobId, stageId) =>
      acc.get(stageId).filter(s => s.start.isDefined && s.end.isDefined).map(s =>
        StageSpan(stageId, jobId, s.start.get, s.end.get, s.parents.getOrElse(Nil),
          s.numTasks, s.maxTask, s.totalTask))
    }
  }

  /** [[SpanBuilder.batchProgress]]: the progress rows that carry a batch id. */
  def batchProgress(events: Seq[ProgressEvent]): Seq[BatchProgress] =
    events.collect { case e if e.kind == "progress" && e.batchId.isDefined =>
      BatchProgress(e.queryId, e.batchId.get, e.timestamp.orNull,
        e.numInputRows.getOrElse(0L), e.processedRowsPerSecond.getOrElse(0.0))
    }

  /** [[BatchAnalyzer.analyze]] over the raw telemetry: one result per
    * progress row, in progress order. */
  def analyze(events: Seq[SchedulerEvent],
              progress: Seq[ProgressEvent],
              slas: Map[String, Long],
              defaultSlaMillis: Long = 120000L,
              lowFrac: Double = 0.3,
              highFrac: Double = 0.7): Seq[CriticalPathResult] = {
    val perBatch = jobTimes(jobSpans(events), stageSpans(events))
    batchProgress(progress).map { p =>
      val brt =
        if (p.numInputRows > 0 && p.processedRowsPerSecond > 0)
          (p.numInputRows / p.processedRowsPerSecond * 1000).toLong
        else 0L
      val (inJobs, criticalPath) = perBatch.getOrElse((p.queryId, p.batchId), (0L, 0L))
      val sla = slas.getOrElse(p.queryId, defaultSlaMillis)
      val ct = if (brt == 0L) 0L else brt - inJobs + criticalPath
      val state =
        if (p.numInputRows == 0 || p.processedRowsPerSecond == 0) "NONEWBATCHES"
        else if (brt <= sla * lowFrac) "OVERPROVISIONED"
        else if (brt <= sla * highFrac) "OPTIMUM"
        else if (ct <= sla * highFrac) "UNDERPROVISIONED"
        else "UNHEALTHY"
      CriticalPathResult(p.queryId, p.batchId, sla, brt, ct, state,
        Classify.stateOrdinals(state))
    }
  }

  /** (estimatedTimeSpentInJobs, criticalPathForAllJobs) per (queryId,
    * batchId): jobs grouped by sql-execution id (or alone), each group split
    * into serial islands where a start passes the running max end in
    * (start, jobId) order; Σ island spans and Σ island max critical times. */
  private def jobTimes(jobs: Seq[JobSpan],
                       stages: Seq[StageSpan]): Map[(String, Long), (Long, Long)] = {
    val jobCt = stages.groupBy(_.jobId)
      .map { case (j, ss) => j -> CriticalPath.criticalTimeOfStages(ss) }
    val groups = jobs
      .filter(j => j.queryId.isDefined && j.batchId.isDefined)
      .groupBy(j => (j.queryId.get, j.batchId.get,
        j.sqlExecutionId.map(_.toString).getOrElse(s"solo-${j.jobId}")))
    val out = mutable.HashMap.empty[(String, Long), (Long, Long)]
    groups.foreach { case ((q, b, _), js) =>
      val sorted = js.sortBy(j => (j.startTime, j.jobId))
      def ct(j: JobSpan) = jobCt.getOrElse(j.jobId, 0L)
      var (inJobs, criticalPath) = out.getOrElse((q, b), (0L, 0L))
      var (islandStart, islandEnd, islandCt) =
        (sorted.head.startTime, sorted.head.endTime, ct(sorted.head))
      sorted.tail.foreach { j =>
        if (j.startTime > islandEnd) {
          inJobs += islandEnd - islandStart
          criticalPath += islandCt
          islandStart = j.startTime; islandEnd = j.endTime; islandCt = ct(j)
        } else {
          islandEnd = math.max(islandEnd, j.endTime)
          islandCt = math.max(islandCt, ct(j))
        }
      }
      out((q, b)) = (inJobs + islandEnd - islandStart, criticalPath + islandCt)
    }
    out.toMap
  }

  private final class JobAcc {
    var start, end, sqlExecutionId, batchId: Option[Long] = None
    var queryId: Option[String] = None
  }

  private final class StageAcc {
    var start, end: Option[Long] = None
    var parents: Option[Seq[Int]] = None
    var numTasks = 0
    var maxTask, totalTask = 0L
  }

  private def minOpt[T: Ordering](a: Option[T], b: Option[T]): Option[T] =
    (a ++ b).minOption
  private def maxOpt[T: Ordering](a: Option[T], b: Option[T]): Option[T] =
    (a ++ b).maxOption
}
