package graft.api

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.analyzer.LiveAnalyzer
import graft.config.GraftConfig
import graft.ingest.ListenerBridge
import graft.model.{AggregateStateResult, CriticalPathResult}
import graft.report.{EventsReporter, Reporting}

/** Public API facade — constructor/lifecycle parity with the reference's
  * `StreamingLens.scala:28-113`: attach to a SparkSession, ingest scheduler
  * + query-progress telemetry through listeners, analyze on demand (or on a
  * caller-driven cadence), report, detach.
  *
  * Where the reference hand-schedules per-query threads, analysis here is
  * one driver-side fold over the retained telemetry — [[analyzeNow]] can run on any
  * cadence (the reference's 5-minute default belongs to the caller's
  * trigger, ref `QueryInsightsManager.scala:194-196`).
  */
class StreamingGraft(spark: SparkSession, options: Map[String, String]) {

  /** Option-map auxiliary constructors (ref `StreamingLens.scala:31-46`). */
  def this(spark: SparkSession) = this(spark, Map.empty[String, String])
  def this(spark: SparkSession, options: java.util.Map[String, String]) =
    this(spark, options.asScala.toMap)

  val config: GraftConfig = GraftConfig(options)

  // Encoders for the public edges, where result rows become a Dataset over
  // a local relation; nothing is planned or run until the caller acts on it.
  import spark.implicits._

  private val schedulerBridge = new ListenerBridge.SchedulerBridge()
  private val progressBridge = new ListenerBridge.ProgressBridge()
  private val slaOverrides = new ConcurrentHashMap[String, Long]()
  private val reporter: Option[EventsReporter] =
    config.reporterClassName.map(EventsReporter.load(_, config.reporterOptions, "graft"))
  private val metrics = org.apache.spark.graft.GraftMetricsSource.register()
  private val consecutiveFailures = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var registered = false

  registerListeners()

  /** Attach both listeners; roll back the first if the second fails
    * (ref `StreamingLens.scala:59-79`). */
  def registerListeners(): Unit = synchronized {
    if (!registered) {
      spark.sparkContext.addSparkListener(schedulerBridge)
      try spark.streams.addListener(progressBridge)
      catch {
        case e: Throwable =>
          spark.sparkContext.removeSparkListener(schedulerBridge)
          throw e
      }
      registered = true
    }
  }

  /** Per-query SLA override (ref `StreamingLens.scala:95-101`). */
  def updateExpectedMicroBatchSLA(queryIdent: String, slaMillis: Long): Unit = {
    require(slaMillis > 0, "slaMillis must be > 0")
    slaOverrides.put(queryIdent, slaMillis)
  }

  /** Run the critical-path analysis over the retained telemetry and return
    * the per-batch results. The live window is folded on the driver
    * ([[graft.analyzer.LiveAnalyzer]], the same results as the Dataset
    * pipeline) and launches no Spark job. Retention is applied after each
    * analysis (ref `QueryInsightsManager.scala:234-244`). */
  def analyzeNow(): Dataset[CriticalPathResult] = spark.createDataset(analyzeRows())

  private def analyzeRows(): Seq[CriticalPathResult] = {
    val t0 = System.nanoTime()
    // Progress first: a batch's jobs end before its progress is posted, and
    // copying the scheduler buffer second never pairs a visible progress
    // row with scheduler events copied before that row arrived (the reverse
    // order classifies such a batch without its jobs).
    val prog = progressBridge.retained
    val sched = schedulerBridge.retained
    val collected = LiveAnalyzer.analyze(sched, prog, slaOverrides.asScala.toMap,
      defaultSlaMillis = config.expectedMicroBatchSLAMillis,
      lowFrac = config.criticalPathLowerThreshold,
      highFrac = config.criticalPathUpperThreshold)
    buffer(collected)
    metrics.update(
      collected.sortBy(r => (r.queryId, r.batchId)).lastOption,
      (System.nanoTime() - t0) / 1000000L)
    if (config.shouldLogResults) collected.foreach(r => println(Reporting.logBlock(r)))
    reporter.foreach { rep =>
      val now = System.currentTimeMillis()
      collected.foreach(r => rep.sendEvent(Reporting.resultEvent(r, "graft", "run", now)))
    }
    progressBridge.evictBeyond(config.maxBatchesRetention)
    // Scheduler telemetry retention: keep a window wide enough for
    // maxBatchesRetention analysis intervals; without this the queue fills
    // to its cap and silently drops every new event.
    schedulerBridge.evictBefore(System.currentTimeMillis() -
      config.maxBatchesRetention.toLong * config.analysisIntervalMinutes * 60000L)
    collected
  }

  /** Bounded history of analysis results, newest-last — the reference caps
    * its retained results list the same way
    * (ref `QueryInsightsManager.scala:241-243`); [[reportNow]] aggregates
    * over this buffer, so `maxResultsRetention` bounds both memory and the
    * lookback of a periodic report. */
  private val resultsBuffer = new java.util.ArrayDeque[CriticalPathResult]()

  private def buffer(rs: Seq[CriticalPathResult]): Unit = resultsBuffer.synchronized {
    // Repeated analyses re-produce the same retained batches; keyed
    // replacement (newest wins) keeps one row per (queryId, batchId) so the
    // discounted report never double-weights a batch and duplicates never
    // evict genuinely distinct older results from the ring.
    val keys = rs.map(r => (r.queryId, r.batchId)).toSet
    resultsBuffer.removeIf(r => keys.contains((r.queryId, r.batchId)))
    rs.foreach(resultsBuffer.addLast)
    while (resultsBuffer.size > config.maxResultsRetention) resultsBuffer.removeFirst()
  }

  /** The retained analysis results (oldest first, ≤ maxResultsRetention). */
  def recentResults: Seq[CriticalPathResult] = resultsBuffer.synchronized {
    resultsBuffer.asScala.toIndexedSeq
  }

  private val lastAnalyzedBatch = new ConcurrentHashMap[String, Long]()
  private var lastAnalysisAtMs = 0L
  private val analysisThrottleLock = new Object

  /** Throttled analysis — the reference's two gates
    * (ref `QueryInsightsManager.scala:194-196` time throttle;
    * `analyzer/StreamingQueryAnalyzer.scala:132-136` batch throttle):
    * returns None when called again within `analysisIntervalMinutes`;
    * otherwise analyzes, but only batches at least `analysisMinBatches`
    * past each query's last analyzed batch id. An ERROR row always passes
    * and never moves the batch throttle. The check-and-set is
    * synchronized so overlapping ticks cannot both pass the gate. */
  def analyzeIfDue(nowMs: Long = System.currentTimeMillis()): Option[Dataset[CriticalPathResult]] = analysisThrottleLock.synchronized {
    if (nowMs - lastAnalysisAtMs < config.analysisIntervalMinutes * 60000L) None
    else {
      lastAnalysisAtMs = nowMs
      val (errors, results) = guardedRows().partition(_.streamingQueryState == "ERROR")
      val fresh = results.filter { r =>
        val last = lastAnalyzedBatch.getOrDefault(r.queryId, Long.MinValue)
        last == Long.MinValue || r.batchId - last >= config.analysisMinBatches
      }
      fresh.foreach { r =>
        lastAnalyzedBatch.merge(r.queryId, r.batchId,
          (a, b) => math.max(a, b))
      }
      Some(spark.createDataset(errors ++ fresh))
    }
  }

  private val lastReportedBatch = new ConcurrentHashMap[String, Long]()
  private var lastReportAtMs = 0L
  private val reportLock = new Object

  /** Periodic aggregate report on the `reportingIntervalMinutes` cadence
    * (ref `helper/StreamingLensReportingHelper.scala:66-78,199-201`): rolls
    * the retained results up to a discounted health score + source-aware
    * recommendation per query and sends them through the reporter SPI.
    * Call from the same tick that drives [[analyzeIfDue]]; concurrent calls
    * cannot double-fire the interval. */
  def reportIfDue(nowMs: Long = System.currentTimeMillis()): Option[Dataset[AggregateStateResult]] =
    reportLock.synchronized {
      if (nowMs - lastReportAtMs < config.reportingIntervalMinutes * 60000L) None
      else {
        lastReportAtMs = nowMs
        Some(reportNow())
      }
    }

  /** One aggregate report over the retained results: discounted score →
    * aggregate state → recommendation specialized by each query's newest
    * sources in the retained progress telemetry. Batches already covered
    * by a previous report are excluded per query
    * (ref `StreamingLensReportingHelper.scala:181-182`); batches are marked
    * reported only AFTER every reporter send succeeds, so a transient sink
    * failure means at-least-once redelivery on the next cadence, never
    * silent loss. */
  def reportNow(): Dataset[AggregateStateResult] = reportLock.synchronized {
    val fresh = recentResults.filter { r =>
      r.batchId > lastReportedBatch.getOrDefault(r.queryId, -1L)
    }
    val sources = progressBridge.retained
      .filter(e => e.kind == "progress" && e.batchId.isDefined)
      .groupBy(_.queryId)
      .map { case (q, es) => q -> es.maxBy(_.batchId.get).sources.mkString(", ") }
    val aggs = Reporting.aggregate(fresh, sources, config.discountFactor)
    if (config.shouldLogResults)
      aggs.foreach(a => println(Reporting.aggregateLogBlock(a)))
    reporter.foreach { rep =>
      val now = System.currentTimeMillis()
      aggs.foreach(a => rep.sendEvent(Reporting.aggregateEvent(a, "graft", "aggregate", now)))
    }
    fresh.foreach(r =>
      lastReportedBatch.merge(r.queryId, r.batchId, (a, b) => math.max(a, b)))
    spark.createDataset(aggs)
  }

  /** [[analyzeNow]] under the reference's robustness contract
    * (ref `analyzer/StreamingQueryAnalyzer.scala:69-98`,
    * `QueryInsightsManager.scala:149-178`): the analysis runs under a
    * `maxAnalysisTimeSeconds` timeout; a timeout or failure yields a single
    * ERROR-state result instead of throwing, and `maxRetries` consecutive
    * failures detach the tool from the session (self-shutdown). The
    * analysis runs on the driver and launches no Spark job, so there is no
    * job group to cancel: like the reference, a timed-out analysis is
    * abandoned, and the busy flag skips ticks until it unwinds. */
  def analyzeGuarded(): Dataset[CriticalPathResult] = spark.createDataset(guardedRows())

  private val analysisBusy = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Testing seam for [[analyzeGuarded]]: the analysis it guards. Specs
    * override this with a deliberately slow or failing analysis to
    * exercise the timeout and failure paths without fabricating telemetry. */
  protected def runGuardedAnalysis(): Seq[CriticalPathResult] = analyzeRows()

  private def guardedRows(): Seq[CriticalPathResult] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // The busy flag prevents repeated ticks from stacking analyses.
    if (!analysisBusy.compareAndSet(false, true)) {
      System.err.println("[graft] analysis still running; skipping this tick")
      return Seq.empty
    }
    try {
      val out = Await.result(
        Future {
          try runGuardedAnalysis()
          finally analysisBusy.set(false)
        },
        config.maxAnalysisTimeSeconds.seconds)
      consecutiveFailures.set(0)
      out
    } catch {
      case e: Throwable =>
        System.err.println(s"[graft] analysis failed: $e")
        e.printStackTrace()
        if (consecutiveFailures.incrementAndGet() >= config.maxRetries) stop()
        Seq(CriticalPathResult(
          "analysis", -1L, config.expectedMicroBatchSLAMillis, 0L, 0L,
          "ERROR", -1))
    }
  }

  private var released = false

  /** Detach listeners and close the reporter (ref `StreamingLens.scala:103-113`);
    * the reporter and the metrics source are released once, however often
    * this runs (a self-shutdown, then the caller's own stop or `reset`). */
  def stop(): Unit = synchronized {
    if (registered) {
      spark.sparkContext.removeSparkListener(schedulerBridge)
      spark.streams.removeListener(progressBridge)
      registered = false
    }
    if (!released) {
      released = true
      org.apache.spark.graft.GraftMetricsSource.unregister(metrics)
      reporter.foreach(_.close())
    }
  }
}

object StreamingGraft {
  /** Registry mirroring the reference's companion helpers
    * (`StreamingLens.scala:86-93`): one instance per SparkSession. */
  private val instances = new ConcurrentHashMap[SparkSession, StreamingGraft]()

  def getOrCreate(spark: SparkSession,
                  options: Map[String, String] = Map.empty): StreamingGraft = {
    val existing = instances.get(spark)
    if (existing != null && options.nonEmpty)
      System.err.println(
        "[graft] getOrCreate: an instance already exists for this session; " +
          "the provided options are IGNORED (use reset() first to reconfigure)")
    instances.computeIfAbsent(spark, s => new StreamingGraft(s, options))
  }

  def reset(spark: SparkSession): Unit =
    Option(instances.remove(spark)).foreach(_.stop())
}
