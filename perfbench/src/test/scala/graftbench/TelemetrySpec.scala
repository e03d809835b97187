package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TelemetrySpec extends AnyFunSuite {
  import Telemetry._

  private def ticks(shape: Shape, seed: Long, n: Int): Seq[Batch] = {
    val g = new Telemetry(shape, seed)
    (0 until n).flatMap(i => g.nextTick(1000000L + i * 10000L))
  }

  /** Ground truth re-derived from the posted structure alone: islands by
    * merging overlapping job intervals per sql-execution group, job critical
    * time as the longest path of longest tasks through the stage DAG. */
  private def derive(b: Batch): Expected = {
    val brt = runningTime(b.numInputRows, b.processedRowsPerSecond)
    def jobCt(j: Job): Long = {
      val byId = j.stages.map(s => s.stageId -> s).toMap
      def ct(id: Int): Long = byId.get(id).map(s =>
        s.taskDurations.max + s.parents.map(ct).foldLeft(0L)(math.max)).getOrElse(0L)
      ct(j.stages.map(_.stageId).max)
    }
    val groups = b.jobs.groupBy(j => j.sqlExecutionId.map(_.toString).getOrElse(s"solo-${j.jobId}"))
    var spans = 0L
    var critical = 0L
    groups.values.foreach { js =>
      var end = Long.MinValue
      var start = 0L
      var top = 0L
      js.sortBy(j => (j.start, j.jobId)).foreach { j =>
        if (j.start > end) {
          if (end != Long.MinValue) { spans += end - start; critical += top }
          start = j.start; end = j.end; top = jobCt(j)
        } else { end = math.max(end, j.end); top = math.max(top, jobCt(j)) }
      }
      spans += end - start
      critical += top
    }
    val ct = if (brt == 0) 0L else brt - spans + critical
    Expected(brt, ct, stateOf(b.numInputRows, brt, ct, b.query.slaMillis))
  }

  test("the same seed gives the same batches; another seed does not") {
    for (shape <- Seq(Ref, Cluster)) {
      val a = ticks(shape, 7, 6)
      val b = ticks(shape, 7, 6)
      assert(a.map(x => (x.query, x.batchId, x.numInputRows, x.expected, x.firstStamp, x.lastStamp)) ==
        b.map(x => (x.query, x.batchId, x.numInputRows, x.expected, x.firstStamp, x.lastStamp)))
      assert(a.flatMap(_.jobs.flatMap(_.stages.flatMap(_.taskDurations.toSeq))) ==
        b.flatMap(_.jobs.flatMap(_.stages.flatMap(_.taskDurations.toSeq))))
      assert(a.map(_.expected) != ticks(shape, 8, 6).map(_.expected))
    }
  }

  test("every state except ERROR occurs in any five consecutive batches of a query") {
    for (shape <- Seq(Ref, Cluster); seed <- 1L to 5L) {
      val byQuery = ticks(shape, seed, 10).groupBy(_.query.id).values
      byQuery.foreach(bs => bs.sliding(5, 5).foreach(w =>
        assert(w.map(_.expected.state).toSet == States.toSet)))
    }
  }

  test("the expected verdict matches the one derived from the events") {
    for (shape <- Seq(Ref, Cluster); seed <- 1L to 20L; b <- ticks(shape, seed, 10))
      assert(derive(b) == b.expected, s"seed $seed batch ${b.batchId}")
  }

  test("verdicts sit inside their SLA bands, away from the thresholds") {
    for (seed <- 1L to 20L; b <- ticks(Ref, seed, 10) ++ ticks(Cluster, seed, 10)) {
      val e = b.expected
      val sla = b.query.slaMillis.toDouble
      e.state match {
        case "NONEWBATCHES" => assert(e.batchRunningTime == 0 && e.criticalTime == 0)
        case "OVERPROVISIONED" => assert(e.batchRunningTime <= 0.27 * sla)
        case "OPTIMUM" => assert(e.batchRunningTime >= 0.35 * sla && e.batchRunningTime <= 0.65 * sla)
        case "UNDERPROVISIONED" => assert(e.batchRunningTime >= 0.75 * sla && e.criticalTime <= 0.6 * sla)
        case "UNHEALTHY" => assert(e.batchRunningTime >= 0.75 * sla && e.criticalTime >= 0.8 * sla)
      }
    }
  }

  test("stamps stay inside the tick's window, and batches have the shape's size") {
    for (shape <- Seq(Ref, Cluster); seed <- 1L to 5L) {
      val g = new Telemetry(shape, seed)
      (0 until 10).foreach { i =>
        val base = 5000000L + i * 100000L
        g.nextTick(base).foreach { b =>
          val stamps = b.jobs.flatMap(j => Seq(j.start, j.end) ++
            j.stages.flatMap(s => Seq(s.submitAt, s.completeAt)))
          assert(stamps.min >= base && stamps.max <= base + shape.maxSpanMs)
          assert(b.schedulerEvents == shape.eventsPerBatch)
        }
      }
    }
  }

  test("job and stage ids are unique and above the ids of real jobs") {
    val bs = ticks(Cluster, 3, 5)
    val jobs = bs.flatMap(_.jobs.map(_.jobId))
    val stages = bs.flatMap(_.jobs.flatMap(_.stages.map(_.stageId)))
    assert(jobs.distinct.size == jobs.size && stages.distinct.size == stages.size)
    assert(jobs.min >= FirstId && stages.min >= FirstId)
  }
}
