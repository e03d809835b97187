package graft.analyzer

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.SparkSpec
import graft.model._
import graft.ops.Classify

/** Golden tests for the reference-parity analysis pipeline, driven by the
  * FIXTURES.md §B scenarios. */
class AnalyzerSpec extends SparkSpec {

  private def ev(kind: String, time: Long,
                 jobId: Option[Long] = None,
                 stageIds: Seq[Int] = Nil,
                 stageId: Option[Int] = None,
                 parents: Seq[Int] = Nil,
                 durationMs: Option[Long] = None,
                 sqlExecutionId: Option[Long] = None,
                 queryId: Option[String] = None,
                 batchId: Option[Long] = None): SchedulerEvent =
    SchedulerEvent(kind, time, jobId, stageIds, stageId, parents,
      numTasks = Some(1), taskId = None, executorId = None, host = None,
      cores = None, durationMs = durationMs, failed = Some(false),
      sqlExecutionId = sqlExecutionId, queryId = queryId, batchId = batchId)

  private def progress(q: String, b: Long, rows: Long, rps: Double): BatchProgress =
    BatchProgress(q, b, "2024-01-01T00:00:00.000Z", rows, rps)

  /** Dataset pipeline results by batch, after asserting that the live
    * path's driver-side fold returns the same rows. */
  private def analyze(events: Seq[SchedulerEvent],
                      prog: Seq[BatchProgress],
                      slas: Seq[QuerySla]): Map[(String, Long), CriticalPathResult] = {
    import spark.implicits._
    val jobs = SpanBuilder.jobSpans(events.toDS())
    val stages = SpanBuilder.stageSpans(events.toDS())
    val viaDataset = BatchAnalyzer.analyze(jobs, stages, prog.toDS(), slas.toDS()).collect()
    val viaFold = LiveAnalyzer.analyze(events,
      prog.map(p => ProgressEvent("progress", p.queryId, "run", None, Some(p.batchId),
        Some(p.timestamp), Some(p.numInputRows), Some(p.processedRowsPerSecond), Nil, None)),
      slas.map(s => s.queryIdent -> s.slaMillis).toMap)
    assert(viaFold.sortBy(_.toString) === viaDataset.toSeq.sortBy(_.toString))
    viaDataset.map(r => (r.queryId, r.batchId) -> r).toMap
  }

  test("readme-sample golden: brt 2094ms, ct 2047ms, SLA 10s => OVERPROVISIONED") {
    // One batch, one job [1000,3094] (span 2094 = brt), two serial stages
    // with max tasks 1000 + 1047 => critical time 2047
    // (matches reference README.md:40-46).
    val events = Seq(
      ev("jobStart", 1000, jobId = Some(1), stageIds = Seq(0, 1),
        sqlExecutionId = Some(11), queryId = Some("q"), batchId = Some(7)),
      ev("stageSubmitted", 1000, stageId = Some(0)),
      ev("taskEnd", 1990, stageId = Some(0), durationMs = Some(1000)),
      ev("stageCompleted", 2000, stageId = Some(0)),
      ev("stageSubmitted", 2000, stageId = Some(1), parents = Seq(0)),
      ev("taskEnd", 3090, stageId = Some(1), durationMs = Some(1047)),
      ev("stageCompleted", 3094, stageId = Some(1)),
      ev("jobEnd", 3094, jobId = Some(1)))
    val r = analyze(events,
      Seq(progress("q", 7, rows = 2094, rps = 1000.0)),
      Seq(QuerySla("q", 10000)))(("q", 7))
    assert(r.batchRunningTime === 2094L)
    assert(r.criticalTime === 2047L)
    assert(r.streamingQueryState === "OVERPROVISIONED")
    assert(r.stateOrdinal === 1)
  }

  test("four-states: each classifier branch reachable incl. boundaries") {
    // SLA 1000. Batches 1,2 have no jobs => ct = brt.
    val uhEvents = Seq(
      // batch 3: one job spanning 800ms with cp 400 => ct = 800-800+400 = 400
      ev("jobStart", 0, jobId = Some(31), stageIds = Seq(30),
        sqlExecutionId = Some(3), queryId = Some("q"), batchId = Some(3)),
      ev("stageSubmitted", 0, stageId = Some(30)),
      ev("taskEnd", 400, stageId = Some(30), durationMs = Some(400)),
      ev("stageCompleted", 790, stageId = Some(30)),
      ev("jobEnd", 800, jobId = Some(31)),
      // batch 4: job spans 800ms with cp 750 => ct = 800-800+750 = 750
      ev("jobStart", 0, jobId = Some(41), stageIds = Seq(40),
        sqlExecutionId = Some(4), queryId = Some("q"), batchId = Some(4)),
      ev("stageSubmitted", 0, stageId = Some(40)),
      ev("taskEnd", 750, stageId = Some(40), durationMs = Some(750)),
      ev("stageCompleted", 790, stageId = Some(40)),
      ev("jobEnd", 800, jobId = Some(41)))
    val got = analyze(uhEvents,
      Seq(
        progress("q", 1, rows = 300, rps = 1000.0),  // brt 300 = 0.3*sla boundary
        progress("q", 2, rows = 700, rps = 1000.0),  // brt 700 = 0.7*sla boundary
        progress("q", 3, rows = 800, rps = 1000.0),  // brt 800, ct 400
        progress("q", 4, rows = 800, rps = 1000.0)), // brt 800, ct 750
      Seq(QuerySla("q", 1000)))
    assert(got(("q", 1L)).streamingQueryState === "OVERPROVISIONED")
    assert(got(("q", 2L)).streamingQueryState === "OPTIMUM")
    assert(got(("q", 3L)).streamingQueryState === "UNDERPROVISIONED")
    assert(got(("q", 3L)).criticalTime === 400L)
    assert(got(("q", 4L)).streamingQueryState === "UNHEALTHY")
    assert(got(("q", 4L)).criticalTime === 750L)
  }

  test("no-new-batches: zero rows or zero rate => NONEWBATCHES, ordinal 0") {
    val got = analyze(Nil,
      Seq(progress("q", 1, rows = 0, rps = 100.0),
        progress("q", 2, rows = 50, rps = 0.0)),
      Seq(QuerySla("q", 1000)))
    assert(got(("q", 1L)).streamingQueryState === "NONEWBATCHES")
    assert(got(("q", 1L)).stateOrdinal === 0)
    assert(got(("q", 1L)).batchRunningTime === 0L)
    assert(got(("q", 2L)).streamingQueryState === "NONEWBATCHES")
  }

  test("parallel-jobs: overlap within a group counts once; serial islands add") {
    // Group 5: J1 [0,100], J2 [50,150] overlap (island span 150),
    // J3 [200,300] serial (island span 100) => est = 250.
    // No stages => cp 0 => ct = brt - 250.
    val events = Seq(
      ev("jobStart", 0, jobId = Some(1), sqlExecutionId = Some(5),
        queryId = Some("q"), batchId = Some(9)),
      ev("jobEnd", 100, jobId = Some(1)),
      ev("jobStart", 50, jobId = Some(2), sqlExecutionId = Some(5),
        queryId = Some("q"), batchId = Some(9)),
      ev("jobEnd", 150, jobId = Some(2)),
      ev("jobStart", 200, jobId = Some(3), sqlExecutionId = Some(5),
        queryId = Some("q"), batchId = Some(9)),
      ev("jobEnd", 300, jobId = Some(3)))
    val r = analyze(events,
      Seq(progress("q", 9, rows = 1000, rps = 1000.0)),
      Seq(QuerySla("q", 10000)))(("q", 9))
    assert(r.batchRunningTime === 1000L)
    assert(r.criticalTime === 1000L - 250L)
  }

  test("default SLA applies when no per-query row exists") {
    val r = analyze(Nil,
      Seq(progress("unknown", 1, rows = 10, rps = 1000.0)),
      Seq(QuerySla("other", 5)))(("unknown", 1))
    assert(r.expectedMicroBatchSLA === 120000L)
  }

  test("estimateAt: throughput-bound at small n, critical-path floor at large n, serial fraction never scales") {
    import spark.implicits._
    // One batch ("q", 7), one job [0, 3000] (islandSpan 3000), brt 4000
    // => serial = 1000. Two serial stages: stage 0 has 4×1000ms tasks
    // (max 1000, total 4000), stage 1 has 500+300 (max 500, total 800)
    // => criticalPath = 1500, totalTaskTime = 4800. Two 2-core executors
    // => coresPerExec = 2. So:
    //   n=1: 1000 + max(1500, ceil(4800/2))  = 1000 + 2400 = 3400
    //   n=2: 1000 + max(1500, ceil(4800/4))  = 1000 + 1500 = 2500
    //   n=4: 1000 + max(1500, ceil(4800/8))  = 1000 + 1500 = 2500 (floor)
    // Batch ("q", 8) has no jobs => estimate = brt = 700 at every n.
    val events = Seq(
      ev("jobStart", 0, jobId = Some(1), stageIds = Seq(0, 1),
        sqlExecutionId = Some(11), queryId = Some("q"), batchId = Some(7)),
      ev("stageSubmitted", 0, stageId = Some(0)),
      ev("taskEnd", 900, stageId = Some(0), durationMs = Some(1000)),
      ev("taskEnd", 950, stageId = Some(0), durationMs = Some(1000)),
      ev("taskEnd", 1900, stageId = Some(0), durationMs = Some(1000)),
      ev("taskEnd", 1950, stageId = Some(0), durationMs = Some(1000)),
      ev("stageCompleted", 2000, stageId = Some(0)),
      ev("stageSubmitted", 2000, stageId = Some(1), parents = Seq(0)),
      ev("taskEnd", 2600, stageId = Some(1), durationMs = Some(500)),
      ev("taskEnd", 2700, stageId = Some(1), durationMs = Some(300)),
      ev("stageCompleted", 2900, stageId = Some(1)),
      ev("jobEnd", 3000, jobId = Some(1)),
      SchedulerEvent("executorAdded", 0, None, Nil, None, Nil, None, None,
        Some("ex1"), Some("h1"), Some(2), None, None, None, None, None),
      SchedulerEvent("executorAdded", 0, None, Nil, None, Nil, None, None,
        Some("ex2"), Some("h2"), Some(2), None, None, None, None, None)).toDS()
    val got = BatchAnalyzer.estimateAt(
        SpanBuilder.jobSpans(events), SpanBuilder.stageSpans(events),
        Seq(progress("q", 7, rows = 4000, rps = 1000.0),
          progress("q", 8, rows = 700, rps = 1000.0)).toDS(),
        SpanBuilder.executorSpans(events), Seq(4, 1, 2))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(got(("q", 7L, 1)) === 3400L)
    assert(got(("q", 7L, 2)) === 2500L)
    assert(got(("q", 7L, 4)) === 2500L) // converged to serial + criticalPath
    assert(Seq(1, 2, 4).map(n => got(("q", 8L, n))).forall(_ === 700L))
    assert(got.size === 6) // every batch × every asked count, exactly once
  }

  test("jobExecutors bridge + batchExecutors semi-join chain") {
    import spark.implicits._
    val events = Seq(
      ev("jobStart", 0, jobId = Some(1), stageIds = Seq(10),
        queryId = Some("q"), batchId = Some(1)),
      ev("jobEnd", 10, jobId = Some(1)),
      ev("jobStart", 0, jobId = Some(2), stageIds = Seq(20),
        queryId = Some("q"), batchId = Some(2)),
      ev("jobEnd", 10, jobId = Some(2)),
      SchedulerEvent("taskEnd", 5, None, Nil, Some(10), Nil, None, Some(100L),
        Some("ex1"), None, None, Some(5L), Some(false), None, None, None),
      SchedulerEvent("taskEnd", 6, None, Nil, Some(20), Nil, None, Some(101L),
        Some("ex2"), None, None, Some(5L), Some(false), None, None, None),
      SchedulerEvent("executorAdded", 0, None, Nil, None, Nil, None, None,
        Some("ex1"), Some("h1"), Some(4), None, None, None, None, None),
      SchedulerEvent("executorAdded", 0, None, Nil, None, Nil, None, None,
        Some("ex2"), Some("h2"), Some(4), None, None, None, None, None)).toDS()
    val bridge = SpanBuilder.jobExecutors(events)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bridge === Set((1L, "ex1"), (2L, "ex2")))
    val got = SpanBuilder.batchExecutors(
      SpanBuilder.executorSpans(events), SpanBuilder.jobSpans(events),
      SpanBuilder.jobExecutors(events), "q", 1L)
      .collect().map(_.executorId).toSeq
    assert(got === Seq("ex1"))
  }

  /** Seeded random live window: two queries with an SLA override on one,
    * sql-execution groups of nested and overlapping jobs, null execution
    * ids, jobs without a queryId, in-flight jobs and stages, stages listed
    * by two jobs, skipped and resubmitted stages, parents outside the job,
    * progress with zero rows or a zero rate, and duplicate progress rows. */
  private def randomWindow(rnd: Random): (Seq[SchedulerEvent], Seq[ProgressEvent]) = {
    val events = ArrayBuffer.empty[SchedulerEvent]
    val progress = ArrayBuffer.empty[ProgressEvent]
    val earlier = ArrayBuffer.empty[Int]
    var nextJob = 0L
    var nextStage = 0
    var nextExecution = 0L
    def pct(n: Int) = rnd.nextInt(100) < n
    def earlierStage = if (earlier.nonEmpty && pct(20)) Seq(earlier(rnd.nextInt(earlier.size))) else Nil
    for (q <- Seq("q1", "q2"); b <- 0L until 6L) {
      val base = b * 10000L
      for (_ <- 0 until 1 + rnd.nextInt(3)) {
        nextExecution += 1
        val execution = if (pct(25)) None else Some(nextExecution)
        for (_ <- 0 until 1 + rnd.nextInt(4)) {
          nextJob += 1
          // a 50 ms grid, so jobs also touch end-to-start (ties)
          val start = base + 50L * rnd.nextInt(8)
          val own = Seq.fill(1 + rnd.nextInt(3)) { nextStage += 1; nextStage }
          val skipped = if (pct(20)) { nextStage += 1; Seq(nextStage) } else Nil
          events += ev("jobStart", start, jobId = Some(nextJob),
            stageIds = own ++ earlierStage ++ skipped, sqlExecutionId = execution,
            queryId = if (pct(10)) None else Some(q), batchId = Some(b))
          if (!pct(10)) events += ev("jobEnd", start + 50L * rnd.nextInt(12), jobId = Some(nextJob))
          own.zipWithIndex.foreach { case (s, i) =>
            val parents = (if (i > 0 && pct(70)) Seq(own(rnd.nextInt(i))) else Nil) ++ earlierStage
            val at = start + rnd.nextInt(100)
            // a resubmission keeps its parents, as in Spark; the Dataset
            // path's first(parents) is order-dependent across partitions
            (0 until (if (pct(15)) 2 else 1)).foreach(_ =>
              events += ev("stageSubmitted", at, stageId = Some(s), parents = parents))
            (0 until rnd.nextInt(4)).foreach(_ =>
              events += ev("taskEnd", at + 50, stageId = Some(s),
                durationMs = if (pct(5)) None else Some(rnd.nextInt(100).toLong)))
            if (!pct(10)) events += ev("stageCompleted", at + 100, stageId = Some(s))
          }
          earlier ++= own
        }
      }
      val rows = if (pct(10)) 0L else rnd.nextInt(3000).toLong
      val rate = if (pct(10)) 0.0 else 500.0 + rnd.nextDouble() * 1000
      val row = ProgressEvent("progress", q, "run", Some(q), Some(b),
        Some("2024-01-01T00:00:00.000Z"), Some(rows), Some(rate), Seq("src"), Some("sink"))
      progress += row
      if (pct(15)) progress += row.copy(numInputRows = Some(rows + 1))
    }
    progress += ProgressEvent("started", "q1", "run", Some("q1"), None, None, None, None, Nil, None)
    events += SchedulerEvent("executorAdded", 0, None, Nil, None, Nil, None, None,
      Some("ex1"), Some("h1"), Some(4), None, None, None, None, None)
    (rnd.shuffle(events.toSeq), progress.toSeq)
  }

  test("live fold equals the Dataset pipeline on seeded random telemetry") {
    import spark.implicits._
    val rnd = new Random(17)
    val states = scala.collection.mutable.Set.empty[String]
    for (_ <- 0 until 6) {
      val (events, progress) = randomWindow(rnd)
      val slas = Map("q1" -> (500L + rnd.nextInt(4000)))
      val defaultSla = 500L + rnd.nextInt(4000)
      val (low, high) = (0.2 + rnd.nextDouble() * 0.2, 0.6 + rnd.nextDouble() * 0.3)
      val ds = events.toDS()
      val jobs = SpanBuilder.jobSpans(ds)
      val stages = SpanBuilder.stageSpans(ds)
      assert(LiveAnalyzer.jobSpans(events).sortBy(_.jobId) ===
        jobs.collect().toSeq.sortBy(_.jobId))
      assert(LiveAnalyzer.stageSpans(events).sortBy(s => (s.jobId, s.stageId)) ===
        stages.collect().toSeq.sortBy(s => (s.jobId, s.stageId)))
      val viaDataset = BatchAnalyzer.analyze(jobs, stages,
        SpanBuilder.batchProgress(progress.toDS()),
        slas.toSeq.map { case (q, s) => QuerySla(q, s) }.toDS(),
        defaultSlaMillis = defaultSla, lowFrac = low, highFrac = high).collect()
      val viaFold = LiveAnalyzer.analyze(events, progress, slas,
        defaultSlaMillis = defaultSla, lowFrac = low, highFrac = high)
      assert(viaFold.sortBy(_.toString) === viaDataset.toSeq.sortBy(_.toString))
      assert(viaFold.size === progress.count(_.kind == "progress"))
      states ++= viaFold.map(_.streamingQueryState)
    }
    assert(states === (Classify.stateOrdinals.keySet - "ERROR"))
  }
}
