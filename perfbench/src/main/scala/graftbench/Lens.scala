package graftbench

import java.time.Instant
import java.util.{Properties, UUID}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbench.BusShim
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.analyzer.{BatchAnalyzer, CriticalPath, SpanBuilder}
import graft.api.StreamingGraft
import graft.ingest.ListenerBridge
import graft.model.{CriticalPathResult, QuerySla}
import graft.report.{EventsReporter, Reporting}

/** Reporter SPI target that drops every event: `report.render_ms` then
  * measures rendering, not a sink. */
class NoopReporter extends EventsReporter {
  override def init(options: Map[String, String], queryId: String): Unit = ()
  override def sendEvent(json: String): Unit = ()
}

/** Counts scheduler events that reached the listener queue the facade's
  * scheduler bridge sits in, so events lost on the way are measured. */
private class ArrivalCounter extends SparkListener {
  val n = new AtomicLong()
  private def ours(id: Long): Unit = if (id >= Telemetry.FirstId) n.incrementAndGet()
  override def onJobStart(e: SparkListenerJobStart): Unit = ours(e.jobId)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ours(e.jobId)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = ours(e.stageInfo.stageId)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = ours(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ours(e.stageId)
  override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
    if (e.executorId.startsWith("exec-")) n.incrementAndGet()
}

private class ProgressCounter extends StreamingQueryListener {
  val n = new AtomicLong()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = n.incrementAndGet()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Jobs, tasks and shuffle of each `analyzeNow` call, attributed through a
  * local property the caller thread sets around the call (traced run only). */
private class CallListener extends SparkListener {
  final class Call { var tasks = 0L; var taskMs = 0L; var shuffleBytes = 0L
    val jobs = ArrayBuffer.empty[(Long, Long)] }
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageCall = new ConcurrentHashMap[Int, Long]()
  val calls = new ConcurrentHashMap[Long, Call]()
  private def call(id: Long) = calls.computeIfAbsent(id, _ => new Call)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Lens.CallProperty))).foreach { c =>
      jobStart.put(e.jobId, (c.toLong, e.time))
      e.stageIds.foreach(stageCall.put(_, c.toLong))
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (c, t0) =>
      val k = call(c); k.synchronized(k.jobs += ((t0, e.time)))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageCall.get(e.stageId)).foreach { c =>
      val k = call(c)
      k.synchronized {
        k.tasks += 1
        k.taskMs += Option(e.taskInfo).map(_.duration).getOrElse(0L)
        Option(e.taskMetrics).foreach { m =>
          k.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
}

/** Snapshot scans in the plans of analyses (queries that scan the scheduler
  * snapshot), for `api.scan_ratio` (traced run only). */
private class ScanCounter extends QueryExecutionListener {
  val scans = new AtomicLong()
  val analyses = new AtomicLong()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val (sched, prog) = BusShim.telemetryScans(qe.executedPlan)
    if (sched > 0) { scans.addAndGet(sched + prog); analyses.incrementAndGet() }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** The two lens workloads: synthetic telemetry is posted through Spark's
  * listener bus into a live [[StreamingGraft]] and `analyzeNow` is timed.
  *
  * Retention. The facade evicts scheduler events older than
  * now - maxBatchesRetention * analysisIntervalMinutes (10 minutes here),
  * by the wall clock, while ticks here are at most seconds apart. Each batch
  * is therefore stamped just below the time it should leave the window:
  * batch k is stamped into the batch-span-wide interval that ends W before
  * `evictAt(k)`, so the first analysis that ends after `evictAt(k)` drops
  * it, and none before. In the open loop (`lens-cluster`) batch k+10 is
  * posted at `evictAt(k)`, a fixed schedule. In the closed loop (`lens-ref`)
  * tick k starts so that its analysis ends after `evictAt(k-10)`, and
  * consecutive `evictAt` are spaced by 1.1x the mean of the last ten ticks
  * plus one batch span, so the loop runs nearly back to back. Either way
  * the scheduler events kept match the facade's progress retention (the
  * newest ten batches per query when an analysis ends), however fast the
  * facade gets.
  */
object Lens {
  val CallProperty = "graftbench.call"
  private val WindowMs = 10 * 60000L

  final case class Spec(shape: Telemetry.Shape, openLoop: Boolean, periodMs: Long,
                        reportEvery: Int, warmups: Int)
  val Specs: Map[String, Spec] = Map(
    "lens-ref" -> Spec(Telemetry.Ref, openLoop = false, periodMs = 0, reportEvery = 10, warmups = 4),
    "lens-cluster" -> Spec(Telemetry.Cluster, openLoop = true, periodMs = 1500, reportEvery = 0,
      warmups = 1))

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
          traced: Boolean, trace: Trace): Result =
    new Lens(spark, Specs(workload), seed, seconds, traced, trace).run()
}

private final class Lens(spark: SparkSession, spec: Lens.Spec, seed: Long, seconds: Double,
                         traced: Boolean, trace: Trace) {
  import Lens._

  private val shape = spec.shape
  private val gen = new Telemetry(shape, seed)
  private val shim = new BusShim(spark)
  private val arrivals = new ArrivalCounter
  private val progressArrivals = new ProgressCounter
  private val posted = new AtomicLong()
  private val postedProgress = new AtomicLong()
  private val generator = Executors.newSingleThreadExecutor()
  private val defaultSla = if (shape.queries > 1) shape.slaMillis(1) else 120000L

  // first-classification bookkeeping: (queryId, batchId) -> expected, due ms
  private val pending = new ConcurrentHashMap[(String, Long), (Telemetry.Expected, Long)]()
  private val drained = new ConcurrentHashMap[(String, Long), Long]()
  private val lagMs = ArrayBuffer.empty[Double]
  private val latencyMs = ArrayBuffer.empty[Double]
  private var verdicts = 0L
  private var wrong = 0L
  private val drainMs = ArrayBuffer.empty[Double]
  private val lateMs = new AtomicReference[Double](0.0)

  private def facadeOptions = Map(
    "streamingLens.analysisIntervalMinutes" -> "1",
    "streamingLens.maxBatchesRetention" -> "10",
    "streamingLens.shouldLogResults" -> "false",
    "streamingLens.expectedMicroBatchSLAMillis" -> defaultSla.toString,
    "streamingLens.reporter.className" -> classOf[NoopReporter].getName)

  private def newFacade(): StreamingGraft = {
    val g = new StreamingGraft(spark, facadeOptions)
    g.updateExpectedMicroBatchSLA(gen.queries.head.id, gen.queries.head.slaMillis)
    g
  }

  private def field[T](g: StreamingGraft, cls: Class[T]): T = {
    val f = classOf[StreamingGraft].getDeclaredFields.find(_.getType == cls).get
    f.setAccessible(true)
    cls.cast(f.get(g))
  }

  // ---- posting ----------------------------------------------------------

  private var sincePace = 0
  private def send(e: SparkListenerEvent): Unit = {
    shim.post(e)
    posted.incrementAndGet()
    sincePace += 1
    // Spark's shared queue holds 10k events and drops the rest; keep the
    // backlog well under that instead of assuming nothing is dropped.
    if (sincePace >= 256) {
      sincePace = 0
      while (shim.queued(BusShim.SharedQueue) > 2000) LockSupport.parkNanos(100000L)
    }
  }

  private def postScheduler(batches: Seq[Telemetry.Batch]): Unit =
    for (b <- batches; j <- b.jobs) {
      val props = new Properties()
      j.sqlExecutionId.foreach(id => props.setProperty(ListenerBridge.SqlExecutionIdKey, id.toString))
      props.setProperty(ListenerBridge.QueryIdKey, b.query.id)
      props.setProperty(ListenerBridge.BatchIdKey, b.batchId.toString)
      val infos = j.stages.map(s => BusShim.stageInfo(s.stageId, s.taskDurations.length, s.parents))
      send(BusShim.jobStart(j.jobId, j.start, infos, props))
      for ((s, info) <- j.stages.zip(infos)) {
        send(BusShim.stageSubmitted(info, s.submitAt))
        val n = s.taskDurations.length
        for (t <- 0 until n) {
          val id = gen.taskId()
          send(BusShim.taskEnd(s.stageId, id, s"exec-${id % shape.executors}",
            s.submitAt + (s.completeAt - s.submitAt) * t / n, s.taskDurations(t)))
        }
        send(BusShim.stageCompleted(info, s.completeAt))
      }
      send(BusShim.jobEnd(j.jobId, j.end))
    }

  private def progressEvent(b: Telemetry.Batch) =
    BusShim.progress(b.query.id, b.query.runId, b.query.name,
      Instant.ofEpochMilli(b.lastStamp).toString, b.batchId, b.expected.batchRunningTime,
      b.query.source, b.numInputRows, b.processedRowsPerSecond)

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    shim.waitUntilEmpty()
    synchronized(drainMs += (System.nanoTime() - t0) / 1e6)
  }

  /** Post one tick stamped to leave the window at `evictAt`, on the
    * generator thread: scheduler events, drain, then progress (a batch is
    * only classified once its progress row exists, so it must not overtake
    * the batch's jobs, which travel in another queue), drain. */
  private def postTick(evictAt: Long, dueMs: Long, expect: Boolean): Unit = {
    val base = evictAt - WindowMs - shape.maxSpanMs - 1
    val batches = gen.nextTick(base)
    postScheduler(batches)
    drain()
    if (expect) batches.foreach(b =>
      pending.put((b.query.id, b.batchId), (b.expected, dueMs)))
    batches.foreach { b => shim.postStreaming(progressEvent(b)); postedProgress.incrementAndGet() }
    drain()
    val at = System.currentTimeMillis()
    if (expect) batches.foreach(b => drained.put((b.query.id, b.batchId), at))
  }

  private def onGenerator[T](body: => T): T = generator.submit(() => body).get()

  // ---- analysis ---------------------------------------------------------

  private var callSeq = 0L
  private val callWindows = ArrayBuffer.empty[(Long, Long, Long)]
  private val newBatches = ArrayBuffer.empty[Long]
  private val classified = ArrayBuffer.empty[Long]
  private val retained = ArrayBuffer.empty[Double]
  private var failures = 0L
  private var prevBefore = 0L
  private val rowCounts = ArrayBuffer.empty[Int]
  private var lastTimedStart = 0L

  /** One timed `analyzeNow`; checks first classifications. */
  private def analyze(g: StreamingGraft, timed: Boolean, withLayers: Boolean): Unit = {
    val before = drained.size.toLong
    callSeq += 1
    val start = System.currentTimeMillis()
    if (timed) lastTimedStart = start
    spark.sparkContext.setLocalProperty(CallProperty, if (withLayers) callSeq.toString else null)
    val t0 = System.nanoTime()
    val rows = try trace.span("api.analyzeNow")(g.analyzeNow()).collect()
    catch { case e: Exception =>
      System.err.println(s"[perfbench] analyzeNow failed: $e"); failures += 1; Array.empty[CriticalPathResult]
    } finally spark.sparkContext.setLocalProperty(CallProperty, null)
    val t1 = System.nanoTime()
    val end = System.currentTimeMillis()
    if (timed) { latencyMs += (t1 - t0) / 1e6; rowCounts += rows.length }
    rows.foreach { r =>
      Option(pending.remove((r.queryId, r.batchId))).foreach { case (exp, due) =>
        verdicts += 1
        if (r.batchRunningTime != exp.batchRunningTime || r.criticalTime != exp.criticalTime ||
            r.streamingQueryState != exp.state) {
          wrong += 1
          System.err.println(s"[perfbench] wrong verdict ${r.queryId}/${r.batchId}: got " +
            s"(${r.batchRunningTime}, ${r.criticalTime}, ${r.streamingQueryState}) want $exp")
        }
        if (timed) lagMs += (end - due).toDouble
      }
    }
    val prev = prevBefore
    prevBefore = before
    if (withLayers) {
      callWindows += ((callSeq, start, end))
      newBatches += before - prev
      classified += rows.length.toLong
      layers(g, rows)
    }
  }

  private lazy val layerSpark = spark.newSession()

  /** Per-layer timings on inputs that are already materialized. */
  private def layers(g: StreamingGraft, results: Array[CriticalPathResult]): Unit = {
    val ls = layerSpark
    import ls.implicits._
    val sched = trace.span("ingest.snapshot")(
      field(g, classOf[ListenerBridge.SchedulerBridge]).snapshot(ls)).collect()
    retained += sched.length.toDouble
    val prog = field(g, classOf[ListenerBridge.ProgressBridge]).snapshot(ls).collect()
    val ev = ls.createDataset(sched.toSeq)
    val (jobs, stages) = trace.span("analyzer.spans")(
      (SpanBuilder.jobSpans(ev).collect(), SpanBuilder.stageSpans(ev).collect()))
    val stagesDs = ls.createDataset(stages.toSeq)
    val jobsDs = ls.createDataset(jobs.toSeq)
    val progressDs = ls.createDataset(SpanBuilder.batchProgress(ls.createDataset(prog.toSeq)).collect().toSeq)
    val slas = Seq(QuerySla(gen.queries.head.id, gen.queries.head.slaMillis)).toDS()
    trace.span("analyzer.critical")(CriticalPath.perJob(stagesDs).collect())
    val out = trace.span("analyzer.batch")(BatchAnalyzer.analyze(jobsDs, stagesDs, progressDs, slas,
      defaultSlaMillis = defaultSla).collect())
    trace.count("analyzer.jobs", jobs.length)
    trace.count("analyzer.stages", stages.length)
    trace.count("analyzer.batches", out.length)
    trace.count("layer.samples", 1)
    val reporter = new NoopReporter
    trace.span("report.render")(Reporting.renderJson(ls.createDataset(results.toSeq), "graft", "run",
      lit(System.currentTimeMillis())).collect().foreach(r => reporter.sendEvent(r.getString(0))))
    // the workload reports every 10th tick, which a short run may never
    // reach, so the traced run times one report per analysis
    trace.span("report.aggregate")(g.reportNow().collect())
  }

  // ---- set-up -----------------------------------------------------------

  private def startQueries(): Unit = gen.queries.foreach { q =>
    shim.postStreaming(new StreamingQueryListener.QueryStartedEvent(
      UUID.fromString(q.id), UUID.fromString(q.runId), q.name, Instant.now().toString))
  }

  private def postExecutors(evictAt: Long): Unit =
    (0 until shape.executors).foreach(i =>
      send(BusShim.executorAdded(s"exec-$i", evictAt - WindowMs - 1, 4)))

  /** Attach a facade and fill its window with ten ticks, evicted at
    * `evictAt(j)` for j = 0..9. */
  private def setUp(evictAt: Int => Long): StreamingGraft = {
    val g = newFacade()
    onGenerator {
      postExecutors(evictAt(0))
      (0 until 10).foreach(j => postTick(evictAt(j), 0L, expect = false))
    }
    g
  }

  // ---- run --------------------------------------------------------------

  def run(): Result = {
    spark.sparkContext.addSparkListener(arrivals)
    spark.streams.addListener(progressArrivals)
    startQueries()
    // Five timed set-ups on throwaway facades, stamped far ahead so
    // nothing is evicted; the last one then runs untimed analyses to warm
    // the JIT (the closed loop sizes its first ticks from the last one).
    val setups = ArrayBuffer.empty[Double]
    val warmMs = ArrayBuffer.empty[Double]
    for (i <- 0 until 5) {
      val far = System.currentTimeMillis() + 3600000L
      val t0 = System.nanoTime()
      val g = setUp(j => far + j * shape.maxSpanMs * 2)
      setups += (System.nanoTime() - t0) / 1e9
      if (i == 4) (0 until spec.warmups).foreach { _ =>
        val a0 = System.nanoTime()
        analyze(g, timed = false, withLayers = false)
        warmMs += (System.nanoTime() - a0) / 1e6
      }
      g.stop()
    }
    val busy = warmMs.last
    val setupS = Stats.median(setups.toSeq)
    System.err.println(f"[perfbench] set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s, " +
      s"warm analyses ${warmMs.map(_.toLong).mkString(" ")} ms")
    val prefillMs = (setups.max * 1000).toLong

    val (untracedMs, measureMs) =
      if (traced) ((seconds * 500).toLong, (seconds * 500).toLong) else ((seconds * 1000).toLong, 0L)
    val g =
      if (spec.openLoop) openLoop(prefillMs, untracedMs, measureMs)
      else closedLoop(prefillMs, busy, untracedMs, measureMs)

    generator.shutdown()
    shim.waitUntilEmpty()
    // a batch is missing when an analysis started after it was drained
    // and no analysis classified it
    val missing = drained.keySet.asScala.count(k => pending.containsKey(k) && drained.get(k) < lastTimedStart)
    val bridgeDropped = field(g, classOf[ListenerBridge.SchedulerBridge]).droppedCount +
      field(g, classOf[ListenerBridge.ProgressBridge]).droppedCount
    val lost = (posted.get - arrivals.n.get) + (postedProgress.get - progressArrivals.n.get) + bridgeDropped
    g.stop()
    spark.sparkContext.removeSparkListener(arrivals)
    spark.streams.removeListener(progressArrivals)

    val expectedVerdicts = verdicts + missing
    val attempted = expectedVerdicts + posted.get + postedProgress.get
    val failed = wrong + missing + lost + failures
    val (lat, lag) = (latencyMs.toSeq, lagMs.toSeq)
    System.err.println(f"[perfbench] ${latencyMs.size} analyses, $verdicts verdicts, $wrong wrong, " +
      f"$missing missing, $lost lost of ${posted.get + postedProgress.get} events; " +
      s"batches per analysis ${rowCounts.mkString(" ")}; ms ${latencyMs.map(_.toLong).mkString(" ")}")
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(lat), "latency_tail_ms" -> Stats.tail(lat),
      "lag_p50_ms" -> Stats.median(lag), "lag_tail_ms" -> Stats.tail(lag))
    Result(attempted, failed, e2e, if (traced) perLayer(lost, failed, attempted) else Map.empty)
  }

  private var tracedListeners: Option[(CallListener, ScanCounter)] = None
  private var tracedFrom = 0

  private def startTracing(): Unit = {
    val cl = new CallListener
    val sc = new ScanCounter
    spark.sparkContext.addSparkListener(cl)
    spark.listenerManager.register(sc)
    tracedListeners = Some((cl, sc))
    tracedFrom = latencyMs.size
  }

  private def closedLoop(prefillMs: Long, warmBusyMs: Double, untracedMs: Long,
                         measureMs: Long): StreamingGraft = {
    // work per tick (post, drain, analysis, report) and the time from a
    // tick's start to the end of its analysis, over the last ten ticks
    val work = scala.collection.mutable.Queue.empty[Double]
    val toEviction = scala.collection.mutable.Queue.empty[Double]
    def spacing: Long = {
      val mean = if (work.isEmpty) warmBusyMs else work.sum / work.size
      (mean * 1.1).toLong + shape.maxSpanMs + 2
    }
    // evictAt(i) belongs to tick i - 9: ticks -9..0 are prefilled. Like the
    // facade's progress retention, which keeps the newest ten batches when
    // an analysis ends, tick k's analysis must drop tick k-10 and keep
    // k-9..k.
    val evictAt = ArrayBuffer.empty[Long]
    val t = System.currentTimeMillis() + prefillMs * 3 / 2 + (warmBusyMs * 1.3).toLong + 100
    val first = spacing
    (0 until 10).foreach(j => evictAt += t + j * first)
    val g = setUp(evictAt(_))
    // tick 0: untimed, evicts nothing
    analyze(g, timed = false, withLayers = false)
    val untracedEnd = System.currentTimeMillis() + untracedMs
    val end = untracedEnd + measureMs
    var k = 1
    while (System.currentTimeMillis() < end) {
      if (traced && tracedListeners.isEmpty && System.currentTimeMillis() >= untracedEnd) startTracing()
      // The analysis evicts what is older than its end time; it takes at
      // least 0.8x the quickest recent tick, so it may start that much
      // before tick k-10 is due out.
      val lead = if (toEviction.isEmpty) 0L else (toEviction.min * 0.8).toLong
      waitUntil(evictAt(k - 1) - lead)
      val r = System.currentTimeMillis()
      evictAt += evictAt.last + spacing
      onGenerator(postTick(evictAt.last, r, expect = true))
      analyze(g, timed = true, withLayers = tracedListeners.isDefined)
      toEviction.enqueue((System.currentTimeMillis() - r).toDouble)
      if (spec.reportEvery > 0 && k % spec.reportEvery == 0) g.reportNow().collect()
      work.enqueue((System.currentTimeMillis() - r).toDouble)
      if (work.size > 10) work.dequeue()
      if (toEviction.size > 10) toEviction.dequeue()
      k += 1
    }
    g
  }

  private def openLoop(prefillMs: Long, untracedMs: Long, measureMs: Long): StreamingGraft = {
    val p = spec.periodMs
    val t = System.currentTimeMillis() + prefillMs * 3 / 2 + 100
    // prefilled ticks j = 0..9 are the schedule's ticks -9..0
    val g = setUp(j => t + (j + 1) * p)
    waitUntil(t)
    val untracedEnd = t + untracedMs
    val end = untracedEnd + measureMs
    val gen = generator.submit[Unit](() => {
      var k = 1
      while (t + k * p < end) {
        val due = t + k * p
        waitUntil(due)
        lateMs.updateAndGet(m => math.max(m, (System.currentTimeMillis() - due).toDouble))
        postTick(t + (k + 10) * p, due, expect = true)
        k += 1
      }
    })
    while (System.currentTimeMillis() < end) {
      if (traced && tracedListeners.isEmpty && System.currentTimeMillis() >= untracedEnd) startTracing()
      analyze(g, timed = true, withLayers = tracedListeners.isDefined)
    }
    gen.get()
    g
  }

  private def waitUntil(ms: Long): Unit = {
    var now = System.currentTimeMillis()
    while (now < ms) { Thread.sleep(math.min(ms - now, 50L)); now = System.currentTimeMillis() }
  }

  // ---- per-layer metrics --------------------------------------------------

  private def perLayer(lost: Long, failed: Long, attempted: Long): Map[String, Double] = {
    val (cl, sc) = tracedListeners.get
    spark.sparkContext.removeSparkListener(cl)
    spark.listenerManager.unregister(sc)
    System.err.println(s"[perfbench] ${sc.analyses.get} analysis plans, ${sc.scans.get} snapshot scans")
    val calls = callWindows.map { case (id, s, e) =>
      val c = Option(cl.calls.get(id))
      val jobs = c.map(_.jobs.toSeq.sortBy(_._1)).getOrElse(Nil)
      // union of job intervals inside the call
      var covered = 0L
      var reach = Long.MinValue
      jobs.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      (jobs.headOption.map(_._1 - s).getOrElse(0L).toDouble, jobs.size.toDouble,
        c.map(_.tasks).getOrElse(0L).toDouble, jobs.map { case (a, b) => b - a }.sum.toDouble,
        c.map(_.taskMs).getOrElse(0L).toDouble, c.map(_.shuffleBytes).getOrElse(0L) / 1048576.0,
        (e - s - covered).toDouble)
    }.toSeq
    def med(f: ((Double, Double, Double, Double, Double, Double, Double)) => Double) =
      Stats.median(calls.map(f))
    val n = math.max(1.0, trace.counter("layer.samples"))
    val tracedLat = latencyMs.drop(tracedFrom).toSeq
    val untracedLat = latencyMs.take(tracedFrom).toSeq
    Map(
      "ingest.drain_ms" -> Stats.median(drainMs.toSeq),
      "ingest.events_lost" -> lost.toDouble,
      "ingest.retained_events" -> Stats.median(retained.toSeq),
      "ingest.snapshot_ms" -> Stats.median(trace.durationsMs("ingest.snapshot")),
      "ingest.generator_late_ms" -> lateMs.get,
      "analyzer.spans_ms" -> Stats.median(trace.durationsMs("analyzer.spans")),
      "analyzer.critical_ms" -> Stats.median(trace.durationsMs("analyzer.critical")),
      "analyzer.batch_ms" -> Stats.median(trace.durationsMs("analyzer.batch")),
      "analyzer.jobs" -> trace.counter("analyzer.jobs") / n,
      "analyzer.stages" -> trace.counter("analyzer.stages") / n,
      "analyzer.batches" -> trace.counter("analyzer.batches") / n,
      "report.render_ms" -> Stats.median(trace.durationsMs("report.render")),
      "report.aggregate_ms" -> Stats.median(trace.durationsMs("report.aggregate")),
      "api.pre_job_ms" -> med(_._1),
      "api.jobs" -> med(_._2),
      "api.tasks" -> med(_._3),
      "api.job_ms" -> med(_._4),
      "api.task_ms" -> med(_._5),
      "api.shuffle_mb" -> med(_._6),
      "api.driver_ms" -> med(_._7),
      "api.scan_ratio" -> sc.scans.get / math.max(1.0, calls.size.toDouble),
      "api.reanalysis_ratio" -> classified.sum.toDouble / math.max(1.0, newBatches.sum.toDouble),
      "failed_ratio" -> failed.toDouble / math.max(1L, attempted),
      "trace.overhead_ms" -> (Stats.median(tracedLat) - Stats.median(untracedLat)),
      "samples" -> latencyMs.size.toDouble)
  }

}
