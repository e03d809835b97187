package graft.analyzer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model._
import graft.ops.{Classify, Spans}

/** The per-batch critical-path analysis pipeline — the reference's
  * `StreamingQueryAnalyzer.analyze` → `StreamingCriticalPathAnalyzer`
  * (ref `analyzer/StreamingCriticalPathAnalyzer.scala:30-87`) as one
  * declarative plan over the span tables:
  *
  *   1. batch running time reconstructed from progress
  *      (`numInputRows / processedRowsPerSecond · 1000`,
  *      ref `analyzer/StreamingQueryAnalyzer.scala:118-129`);
  *   2. jobs grouped by sql-execution id (null ⇒ singleton group,
  *      ref `helper/JobOverlapHelper.scala:35-45`), then each group split
  *      into serial islands of overlapping jobs
  *      (ref `helper/JobOverlapHelper.scala:83-106`, via the
  *      nested-interval-correct [[graft.ops.Spans.splitOverlapping]]);
  *   3. estimatedTimeSpentInJobs = Σ island wall-clock spans;
  *      criticalPathForAllJobs  = Σ island max(per-job critical time)
  *      (ref `helper/JobOverlapHelper.scala:72-81`);
  *   4. criticalTime = (brt − estimatedTimeSpentInJobs) + criticalPath
  *      (ref `analyzer/StreamingCriticalPathAnalyzer.scala:30-49`);
  *   5. SLA classification, total (`Classify.slaState`), with the
  *      zero-progress guard ⇒ NONEWBATCHES
  *      (ref `analyzer/StreamingQueryAnalyzer.scala:118-128`).
  *
  * Scale: every step is a key-partitioned aggregation on
  * (queryId, batchId[, group]); nothing is global, nothing collects.
  *
  * This is the offline path, for [[graft.ingest.Replay]]-loaded telemetry
  * that need not fit on the driver, and the reference the live path's
  * driver-side fold ([[LiveAnalyzer]]) is tested against.
  */
object BatchAnalyzer {

  /** Integer state ordinal expression (ref `common/StreamingState.scala`). */
  private def ordinalOf(state: org.apache.spark.sql.Column) =
    Classify.stateOrdinals.foldLeft(lit(-1)) { case (acc, (name, ord)) =>
      when(state === name, ord).otherwise(acc)
    }

  /** The per-island decomposition both [[analyze]] and [[estimateAt]]
    * consume, computed ONCE so the two reads cannot drift: jobs of
    * streaming batches keyed by (queryId, batchId, sql-execution group),
    * split into serial islands of overlapping jobs, each island carrying
    * its wall-clock span, its critical-path bound (max per-job critical
    * time — the infinite-executor floor), and its total task time (the
    * work the executors must absorb — the throughput bound's numerator).
    * One key-partitioned shuffle; nothing global. */
  private def islandStats(jobs: Dataset[JobSpan],
                          stages: Dataset[StageSpan]): DataFrame = {
    val spark = jobs.sparkSession
    import spark.implicits._

    val jobCt = CriticalPath.perJob(stages).toDF("jobId", "jobCriticalTime")
    val jobWork = stages.toDF()
      .groupBy(col("jobId"))
      .agg(sum(col("totalTaskDurationMs")).as("jobTaskTime"))

    // Jobs of streaming batches, with per-job critical times and the
    // group key: sql-execution id, or a singleton group for null
    // (ref JobOverlapHelper.scala:37-44).
    val batchJobs = jobs.toDF()
      .filter(col("queryId").isNotNull && col("batchId").isNotNull)
      .join(jobCt, Seq("jobId"), "left")
      .join(jobWork, Seq("jobId"), "left")
      .na.fill(0L, Seq("jobCriticalTime", "jobTaskTime"))
      .withColumn("grp",
        coalesce(col("sqlExecutionId").cast("string"),
          concat(lit("solo-"), col("jobId"))))
      .withColumn("gkey",
        concat_ws("|", col("queryId"), col("batchId"), col("grp")))

    // Serial islands inside each group (overlap-aware split).
    val islandJobs = Spans.splitOverlapping(
      batchJobs.withColumnRenamed("startTime", "start_ms")
        .withColumnRenamed("endTime", "end_ms"),
      keyCol = "gkey", idCol = "jobId")

    islandJobs
      .groupBy(col("queryId"), col("batchId"), col("gkey"), col("island"))
      .agg(
        (max(col("end_ms")) - min(col("start_ms"))).as("islandSpan"),
        max(col("jobCriticalTime")).as("islandCriticalPath"),
        sum(col("jobTaskTime")).as("islandTaskTime"))
  }

  /** Batch running time from progress
    * (ref StreamingQueryAnalyzer:118-129). */
  private def withBatchRunningTime(progress: Dataset[BatchProgress]): DataFrame =
    progress.toDF()
      .withColumn("batchRunningTime",
        when(col("numInputRows") > 0 && col("processedRowsPerSecond") > 0,
          (col("numInputRows") / col("processedRowsPerSecond") * 1000).cast("long"))
          .otherwise(lit(0L)))

  /** Full pipeline: spans + progress + SLA config → one result per batch. */
  def analyze(jobs: Dataset[JobSpan],
              stages: Dataset[StageSpan],
              progress: Dataset[BatchProgress],
              slas: Dataset[QuerySla],
              defaultSlaMillis: Long = 120000L,
              lowFrac: Double = 0.3,
              highFrac: Double = 0.7): Dataset[CriticalPathResult] = {
    val spark = jobs.sparkSession
    import spark.implicits._

    val perBatch = islandStats(jobs, stages)
      .groupBy(col("queryId"), col("batchId"))
      .agg(
        sum(col("islandSpan")).as("estimatedTimeSpentInJobs"),
        sum(col("islandCriticalPath")).as("criticalPathForAllJobs"))

    val withBrt = withBatchRunningTime(progress)

    val slaLookup = slas.toDF()
      .select(col("queryIdent"), col("slaMillis"))

    val joined = withBrt
      .join(perBatch, Seq("queryId", "batchId"), "left")
      .join(broadcast(slaLookup), col("queryId") === col("queryIdent"), "left")
      .na.fill(0L, Seq("estimatedTimeSpentInJobs", "criticalPathForAllJobs"))
      .withColumn("sla", coalesce(col("slaMillis"), lit(defaultSlaMillis)))
      .withColumn("criticalTime",
        when(col("batchRunningTime") === 0L, lit(0L))
          .otherwise(col("batchRunningTime") - col("estimatedTimeSpentInJobs")
            + col("criticalPathForAllJobs")))

    val classified = joined
      .withColumn("streamingQueryState",
        when(col("numInputRows") === 0 || col("processedRowsPerSecond") === 0,
          "NONEWBATCHES")
          .otherwise(Classify.slaState(
            col("batchRunningTime"), col("criticalTime"),
            col("sla").cast("double"), lowFrac, highFrac)))

    classified
      .select(
        col("queryId"), col("batchId"),
        col("sla").as("expectedMicroBatchSLA"),
        col("batchRunningTime"), col("criticalTime"),
        col("streamingQueryState"),
        ordinalOf(col("streamingQueryState")).as("stateOrdinal"))
      .as[CriticalPathResult]
  }

  /** Executor-count what-if — the capacity-planning read beside critical
    * time: the estimated batch running time were the SAME batch run on
    * `n` executors, for every `n` in `executorCounts`. The sparklens
    * completion-estimate model applied per batch:
    *
    *   estimate(n) = serialTime
    *               + Σ_islands max(islandCriticalPath,
    *                               ⌈islandTaskTime / (n · coresPerExec)⌉)
    *
    * where serialTime = max(brt − Σ islandSpan, 0) is the driver/out-of-
    * job fraction executors cannot help with; each island's wall clock is
    * bounded BELOW by its critical path (with infinite executors every
    * dependent stage still serializes and each stage still pays its
    * longest task) and bounded by THROUGHPUT (n·cores task-slots must
    * absorb the island's total task milliseconds); and coresPerExec is
    * the observed per-executor core count (the rounded mean over the
    * executor table — heterogeneous fleets average; no executor telemetry
    * → 1). Estimates are monotone non-increasing in `n` and converge to
    * serialTime + Σ islandCriticalPath — the same floor [[analyze]]'s
    * criticalTime reports, which is what makes the two reads one story:
    * criticalTime says how low the batch could go, estimateAt says how
    * many executors buy how much of that gap.
    *
    * Output: (queryId, batchId, nExecutors, estimateMs,
    * batchRunningTime), long format — one row per batch per asked count.
    * Scale: islands × counts is a broadcast-able literal expansion
    * (explode over a lit array), then the same key-partitioned
    * aggregation shape as [[analyze]]; nothing collects. */
  def estimateAt(jobs: Dataset[JobSpan],
                 stages: Dataset[StageSpan],
                 progress: Dataset[BatchProgress],
                 executors: Dataset[ExecutorSpan],
                 executorCounts: Seq[Int]): DataFrame = {
    require(executorCounts.nonEmpty && executorCounts.forall(_ >= 1),
      s"estimateAt needs positive executor counts; got $executorCounts")
    val spark = jobs.sparkSession

    // Observed cores per executor: rounded mean over executors that
    // reported cores; a fleet with no executor telemetry estimates at
    // 1 core/executor (pessimistic, stated in the scaladoc).
    val coresPerExec = broadcast(
      executors.toDF()
        .filter(col("cores") > 0)
        .agg(coalesce(round(avg(col("cores"))).cast("int"), lit(1))
          .as("coresPerExec")))

    val islands = islandStats(jobs, stages)
      .select(col("queryId"), col("batchId"), col("islandSpan"),
        col("islandCriticalPath"), col("islandTaskTime"))
      .withColumn("nExecutors",
        explode(lit(executorCounts.distinct.sorted.toArray)))
      .crossJoin(coresPerExec)

    val perBatch = islands
      .withColumn("islandEstimate",
        greatest(col("islandCriticalPath"),
          ceil(col("islandTaskTime").cast("double") /
            (col("nExecutors").cast("double") * col("coresPerExec")))
            .cast("long")))
      .groupBy(col("queryId"), col("batchId"), col("nExecutors"))
      .agg(
        sum(col("islandSpan")).as("estimatedTimeSpentInJobs"),
        sum(col("islandEstimate")).as("jobsEstimate"))

    // Every asked count must appear for every batch in `progress`, even
    // batches with no recorded jobs (their estimate is brt itself — all
    // serial as far as telemetry can see).
    val counts = spark.range(1)
      .select(explode(lit(executorCounts.distinct.sorted.toArray))
        .as("nExecutors"))

    withBatchRunningTime(progress)
      .select(col("queryId"), col("batchId"), col("batchRunningTime"))
      .crossJoin(broadcast(counts))
      .join(perBatch, Seq("queryId", "batchId", "nExecutors"), "left")
      .na.fill(0L, Seq("estimatedTimeSpentInJobs", "jobsEstimate"))
      .withColumn("serialTime",
        greatest(col("batchRunningTime") - col("estimatedTimeSpentInJobs"),
          lit(0L)))
      .select(col("queryId"), col("batchId"), col("nExecutors"),
        (col("serialTime") + col("jobsEstimate")).as("estimateMs"),
        col("batchRunningTime"))
  }
}
