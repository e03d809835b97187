package graftbench

import java.util.SplittableRandom

/** Synthetic streaming telemetry with ground truth taken from its own
  * construction.
  *
  * Every batch is laid out as a sequence of job islands: an island is one
  * job or two overlapping jobs, islands are separated by gaps, and jobs of
  * one sql-execution group share an id. Each job's stages form a chain
  * (stage j depends on j-1, and from j = 2 on also on j-2), so the job's
  * critical time is exactly the sum of its stages' longest tasks. The batch
  * running time, the time spent in jobs and the critical path are therefore
  * known before a single event is posted, and the expected state follows
  * from the SLA bands the batch was drawn in. No product code is called.
  *
  * The state of each batch is drawn so every state except ERROR occurs:
  * NONEWBATCHES, OVERPROVISIONED, OPTIMUM, UNDERPROVISIONED and UNHEALTHY.
  * Values sit well inside their bands, so threshold rounding cannot flip
  * a verdict.
  *
  * Event times are absolute: the caller chooses the window a tick's batches
  * are stamped into (see [[Lens]] for why), and offsets inside the window
  * are deterministic.
  */
object Telemetry {
  /** First synthetic job and stage id. */
  val FirstId = 1000000000
  val States: IndexedSeq[String] = IndexedSeq(
    "NONEWBATCHES", "OVERPROVISIONED", "OPTIMUM", "UNDERPROVISIONED", "UNHEALTHY")

  /** Workload shape. `slaMillis` has one entry per query; query 0's SLA is
    * set through the facade's per-query override, the others use the
    * default from the options (which must then all be equal). */
  final case class Shape(queries: Int, jobsPerBatch: Int, stagesPerJob: Int,
                         tasksPerStage: Int, jobsPerGroup: Int, executors: Int,
                         slaMillis: IndexedSeq[Long]) {
    require(slaMillis.size == queries)
    def eventsPerBatch: Int = jobsPerBatch * (2 + stagesPerJob * (2 + tasksPerStage))
    /** Upper bound of a batch's stamp span, in ms. */
    def maxSpanMs: Long = slaMillis.max * 6 / 5 + 4L * jobsPerBatch
  }

  val Ref = Shape(queries = 2, jobsPerBatch = 3, stagesPerJob = 3, tasksPerStage = 8,
    jobsPerGroup = 2, executors = 4, slaMillis = IndexedSeq(100L, 120L))
  val Cluster = Shape(queries = 1, jobsPerBatch = 20, stagesPerJob = 5, tasksPerStage = 100,
    jobsPerGroup = 4, executors = 1000, slaMillis = IndexedSeq(100L))

  final case class Query(id: String, runId: String, name: String, source: String,
                         slaMillis: Long)
  final case class Stage(stageId: Int, parents: Seq[Int], taskDurations: Array[Long],
                         submitAt: Long, completeAt: Long)
  final case class Job(jobId: Int, sqlExecutionId: Option[Long], start: Long, end: Long,
                       stages: IndexedSeq[Stage])
  final case class Expected(batchRunningTime: Long, criticalTime: Long, state: String)
  final case class Batch(query: Query, batchId: Long, numInputRows: Long,
                         processedRowsPerSecond: Double, jobs: IndexedSeq[Job],
                         firstStamp: Long, lastStamp: Long, expected: Expected) {
    def schedulerEvents: Int = jobs.map(j => 2 + j.stages.map(s => 2 + s.taskDurations.length).sum).sum
  }

  /** The streaminglens batch-running-time formula, in the same double
    * arithmetic the facade's plan evaluates. */
  def runningTime(numInputRows: Long, rowsPerSecond: Double): Long =
    if (numInputRows > 0 && rowsPerSecond > 0) (numInputRows.toDouble / rowsPerSecond * 1000).toLong
    else 0L

  /** SLA bands with the facade's default thresholds (0.3 and 0.7). */
  def stateOf(numInputRows: Long, brt: Long, ct: Long, sla: Long): String =
    if (numInputRows == 0) "NONEWBATCHES"
    else if (brt <= 0.3 * sla) "OVERPROVISIONED"
    else if (brt <= 0.7 * sla) "OPTIMUM"
    else if (ct <= 0.7 * sla) "UNDERPROVISIONED"
    else "UNHEALTHY"
}

/** Deterministic batch source for one workload: the same seed yields the
  * same queries, ids, states, durations and stamp offsets. Job and stage ids
  * start at 10^9 so they never collide with the ids of real jobs the
  * session runs on the same listener bus. */
final class Telemetry(val shape: Telemetry.Shape, seed: Long) {
  import Telemetry._

  private val rng = new SplittableRandom(seed)
  private def uuid(): String = new java.util.UUID(rng.nextLong(), rng.nextLong()).toString
  private def between(lo: Long, hi: Long): Long = lo + rng.nextLong(hi - lo + 1)
  private def frac(lo: Double, hi: Double): Double = lo + (hi - lo) * rng.nextDouble()

  val queries: IndexedSeq[Query] = (0 until shape.queries).map { q =>
    Query(uuid(), uuid(), s"bench-query-$q",
      if (q % 2 == 0) "KafkaV2[Subscribe[events]]" else "FileStreamSource[s3a://bench/in]",
      shape.slaMillis(q))
  }

  private var nextJob = FirstId
  private var nextStage = FirstId
  private var nextTask = 1000000000000L
  private var nextSqlExecution = 1000000000000L
  private val nextBatchId = Array.fill(shape.queries)(0L)
  // States are dealt from shuffled decks of all five, per query, so every
  // state occurs within any five consecutive batches of a query.
  private val decks = Array.fill(shape.queries)(IndexedSeq.empty[String])

  private def nextState(q: Int): String = {
    if (decks(q).isEmpty) {
      val a = States.toArray
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      decks(q) = a.toIndexedSeq
    }
    val s = decks(q).head
    decks(q) = decks(q).tail
    s
  }

  /** Split `total` into `n` non-negative parts. */
  private def split(total: Long, n: Int): IndexedSeq[Long] = {
    val cuts = (Seq.fill(n - 1)(between(0, total)) :+ 0L :+ total).sorted
    cuts.sliding(2).map(p => p(1) - p(0)).toIndexedSeq
  }

  /** One batch per query, every stamp inside [base, base + shape.maxSpanMs]. */
  def nextTick(base: Long): IndexedSeq[Batch] = queries.indices.map(q => batch(q, base))

  private def batch(q: Int, base: Long): Batch = {
    val query = queries(q)
    val sla = query.slaMillis
    val state = nextState(q)
    def pct(lo: Double, hi: Double) = math.round(sla * frac(lo, hi))
    // Running time, the share of it spent in jobs (f) and the critical
    // path's share of the time in jobs (c), chosen inside the state's band.
    val (brt, f, c) = state match {
      case "NONEWBATCHES" => (pct(0.10, 0.40), frac(0.5, 0.8), frac(0.3, 0.9))
      case "OVERPROVISIONED" => (pct(0.10, 0.25), frac(0.5, 0.8), frac(0.3, 0.9))
      case "OPTIMUM" => (pct(0.40, 0.60), frac(0.5, 0.8), frac(0.3, 0.9))
      case "UNDERPROVISIONED" => (pct(0.80, 1.10), frac(0.8, 0.9), frac(0.2, 0.4))
      case _ => (pct(1.00, 1.20), frac(0.5, 0.8), frac(0.85, 1.0))
    }
    val (numInputRows, rowsPerSecond) =
      if (state == "NONEWBATCHES") (0L, 0.0)
      else {
        val k = between(5, 50)
        (brt * k, 1000.0 * k)
      }

    // Islands: jobs grouped by sql execution; inside a group, pairs of jobs
    // overlap. A group of one job has no sql execution id.
    val groups = (0 until shape.jobsPerBatch).grouped(shape.jobsPerGroup).toIndexedSeq
    val islands = groups.flatMap(_.grouped(2))
    val inJobs = math.max(islands.size.toLong, math.round(brt * f))
    val spans = split(inJobs - islands.size, islands.size).map(_ + 1)
    val critical = math.round(inJobs * c)
    val islandCritical = {
      // proportional to span and never above it; the first island takes
      // the rounding remainder as far as its span allows
      val raw = spans.map(s => s * critical / inJobs)
      val short = critical - raw.sum
      raw.zipWithIndex.map { case (v, i) => if (i == 0) math.min(v + short, spans(0)) else v }
    }

    var cursor = base
    var jobs = IndexedSeq.empty[Job]
    val sqlIds = groups.map(g => if (g.size > 1) { nextSqlExecution += 1; Some(nextSqlExecution) } else None)
    var groupOf = Map.empty[Int, Int]
    for ((g, gi) <- groups.zipWithIndex; j <- g) groupOf += j -> gi
    for ((members, i) <- islands.zipWithIndex) {
      val span = spans(i)
      val top = islandCritical(i)
      val intervals =
        if (members.size == 1) IndexedSeq((cursor, cursor + span))
        else {
          // first job ends early by e, second starts late by d (<= span - e),
          // so the pair overlaps or touches and the island spans exactly `span`
          val e = between(0, span / 2)
          val d = between(0, span - e)
          IndexedSeq((cursor, cursor + span - e), (cursor + d, cursor + span))
        }
      val topIdx = rng.nextInt(members.size)
      for ((jobIdx, k) <- members.zipWithIndex) {
        val ct = if (k == topIdx) top else between(0, top)
        val (s, e) = intervals(k)
        jobs :+= job(sqlIds(groupOf(jobIdx)), s, e, ct)
      }
      cursor += span + between(2, 4)
    }

    val qi = nextBatchId(q)
    nextBatchId(q) += 1
    val inJobsTotal = spans.sum
    val criticalTotal = islandCritical.sum
    val expectedBrt = runningTime(numInputRows, rowsPerSecond)
    val ct = if (expectedBrt == 0) 0L else expectedBrt - inJobsTotal + criticalTotal
    Batch(query, qi, numInputRows, rowsPerSecond, jobs, base, cursor,
      Expected(expectedBrt, ct, stateOf(numInputRows, expectedBrt, ct, sla)))
  }

  /** A job spanning [start, end] whose stages' longest tasks sum to `ct`. */
  private def job(sqlId: Option[Long], start: Long, end: Long, ct: Long): Job = {
    val n = shape.stagesPerJob
    val maxima = split(ct, n)
    val ids = (0 until n).map(_ => { nextStage += 1; nextStage })
    val len = end - start
    val stages = (0 until n).map { j =>
      val parents = (if (j >= 1) Seq(ids(j - 1)) else Nil) ++ (if (j >= 2) Seq(ids(j - 2)) else Nil)
      val tasks = Array.tabulate(shape.tasksPerStage)(t =>
        if (t == 0) maxima(j) else between(0, maxima(j)))
      Stage(ids(j), parents, tasks, start + len * j / n, start + len * (j + 1) / n)
    }
    nextJob += 1
    Job(nextJob, sqlId, start, end, stages)
  }

  /** Globally unique task ids for posting. */
  def taskId(): Long = { nextTask += 1; nextTask }
}
