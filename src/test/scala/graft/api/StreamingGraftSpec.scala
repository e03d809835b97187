package graft.api

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.config.GraftConfig
import graft.model.CriticalPathResult
import org.apache.spark.graft.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener

/** Reflection-loaded by the reporter SPI in the aggregate-report test. */
object CapturingReporter {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
class CapturingReporter extends graft.report.EventsReporter {
  override def init(options: Map[String, String], queryId: String): Unit = ()
  override def sendEvent(json: String): Unit = CapturingReporter.events.add(json)
}

/** Counts how often the facade closes its reporter. */
object CountingReporter {
  val closes = new AtomicInteger()
}
class CountingReporter extends graft.report.EventsReporter {
  override def init(options: Map[String, String], queryId: String): Unit = ()
  override def sendEvent(json: String): Unit = ()
  override def close(): Unit = CountingReporter.closes.incrementAndGet()
}

/** End-to-end: a real Structured Streaming query on a real SparkSession with
  * the facade attached; the live listeners must capture telemetry and
  * analyzeNow() must classify the batches. */
class StreamingGraftSpec extends SparkSpec {

  test("config parses reference-keyed options case-insensitively and validates") {
    val c = GraftConfig(Map(
      "streamingLens.analysisIntervalMinutes" -> "2",
      "STREAMINGLENS.EXPECTEDMICROBATCHSLAMILLIS" -> "9000",
      "streamingLens.reporter.discountFactor" -> "0.9"))
    assert(c.analysisIntervalMinutes === 2)
    assert(c.expectedMicroBatchSLAMillis === 9000L)
    assert(c.discountFactor === 0.9)
    intercept[IllegalArgumentException] {
      GraftConfig(Map("streamingLens.criticalPathLowerThreshold" -> "1.5"))
    }
    intercept[IllegalArgumentException] {
      GraftConfig(Map("streamingLens.maxRetries" -> "notanumber"))
    }
  }

  test("live listeners capture a real streaming query; analyzeNow classifies it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val graft = new StreamingGraft(spark, Map(
      "streamingLens.expectedMicroBatchSLAMillis" -> "600000",
      "streamingLens.shouldLogResults" -> "false"))
    try {
      val mem = MemoryStream[Int]
      val query = mem.toDS().map(_ * 2)
        .writeStream.format("memory").queryName("graft_e2e")
        .outputMode("append").start()
      try {
        mem.addData(1 to 1000: _*)
        query.processAllAvailable()
        mem.addData(1001 to 2000: _*)
        query.processAllAvailable()
      } finally query.stop()
      // the stopped query posted all its events; deliver them to the bridges
      GraftBus.waitUntilEmpty(spark.sparkContext)
      val results = graft.analyzeNow().collect()
      assert(results.nonEmpty, "no batches analyzed - listeners captured nothing")
      assert(results.forall(_.queryId.nonEmpty))
      assert(results.forall(r =>
        graft.config.expectedMicroBatchSLAMillis == r.expectedMicroBatchSLA))
      // tiny local batches => far under a 10-minute SLA
      assert(results.forall(r =>
        r.streamingQueryState == "OVERPROVISIONED" ||
          r.streamingQueryState == "NONEWBATCHES"))
    } finally graft.stop()
  }

  test("updateExpectedMicroBatchSLA rejects non-positive values") {
    val graft = StreamingGraft.getOrCreate(spark)
    try {
      intercept[IllegalArgumentException] {
        graft.updateExpectedMicroBatchSLA("q", 0L)
      }
      graft.updateExpectedMicroBatchSLA("q", 5000L) // accepted
    } finally StreamingGraft.reset(spark)
  }

  test("analyzeIfDue throttles by the configured interval") {
    val graft = new StreamingGraft(spark, Map(
      "streamingLens.shouldLogResults" -> "false",
      "streamingLens.analysisIntervalMinutes" -> "5"))
    try {
      val t0 = 10L * 60000L
      assert(graft.analyzeIfDue(t0).isDefined)        // first call runs
      assert(graft.analyzeIfDue(t0 + 60000L).isEmpty) // 1 min later: throttled
      assert(graft.analyzeIfDue(t0 + 5 * 60000L).isDefined) // interval elapsed
    } finally graft.stop()
  }

  test("periodic aggregate report: discounted state through the reporter SPI; bounded results buffer") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    CapturingReporter.events.clear()
    val g = new StreamingGraft(spark, Map(
      "streamingLens.shouldLogResults" -> "false",
      "streamingLens.expectedMicroBatchSLAMillis" -> "600000",
      "streamingLens.maxResultsRetention" -> "4",
      "streamingLens.reporter.intervalMinutes" -> "60",
      "streamingLens.reporter.className" -> classOf[CapturingReporter].getName))
    try {
      val mem = MemoryStream[Int]
      val query = mem.toDS().map(_ + 1)
        .writeStream.format("memory").queryName("graft_agg_report")
        .outputMode("append").start()
      try {
        mem.addData(1 to 500: _*)
        query.processAllAvailable()
        mem.addData(501 to 1000: _*)
        query.processAllAvailable()
      } finally query.stop()
      GraftBus.waitUntilEmpty(spark.sparkContext)
      val results = g.analyzeNow().collect()
      assert(results.nonEmpty, "no batches analyzed")
      // repeated analyses re-buffer the same batches: the ring must cap AND
      // hold at most one row per (queryId, batchId) so the discounted report
      // never double-weights a batch
      g.analyzeNow(); g.analyzeNow()
      assert(g.recentResults.size <= 4, s"buffer ${g.recentResults.size} > cap")
      val keys = g.recentResults.map(r => (r.queryId, r.batchId))
      assert(keys.distinct.size === keys.size, s"duplicate batches in buffer: $keys")
      // first report is due, runs, and carries a recommendation per query
      val t0 = 100L * 60000L
      val agg = g.reportIfDue(t0)
      assert(agg.isDefined)
      val rows = agg.get.collect()
      assert(rows.nonEmpty, "aggregate report empty despite analyzed batches")
      assert(rows.forall(_.recommendation.nonEmpty))
      assert(rows.forall(r => r.score > 0))
      // the reporter SPI received the aggregate events (per-batch events from
      // analyzeNow also flow through it; aggregates are tagged)
      val sent = CapturingReporter.events.toArray(Array.empty[String])
      assert(sent.exists(_.contains("-aggregate")), s"no aggregate event in ${sent.length} sent")
      // within the interval: throttled; batches already reported stay reported
      assert(g.reportIfDue(t0 + 60000L).isEmpty)
      val again = g.reportIfDue(t0 + 61L * 60000L)
      assert(again.isDefined)
      assert(again.get.collect().isEmpty, "re-reported batches already covered")
    } finally g.stop()
  }

  test("a timed-out analysis returns the single ERROR row") {
    val release = new CountDownLatch(1)
    val g = new StreamingGraft(spark, Map(
      "streamingLens.maxAnalysisTimeSeconds" -> "1",
      "streamingLens.shouldLogResults" -> "false")) {
      // a driver-side analysis that takes 100 s if left alone
      override protected def runGuardedAnalysis(): Seq[CriticalPathResult] = {
        release.await(100, TimeUnit.SECONDS)
        Seq.empty
      }
    }
    try {
      val t0 = System.nanoTime()
      val out = g.analyzeGuarded().collect()
      val guardedSecs = (System.nanoTime() - t0) / 1e9
      assert(out.length === 1 && out(0).streamingQueryState === "ERROR",
        s"expected the single ERROR row, got ${out.toSeq}")
      // generous bound: the guard returns ~1s after its timeout, but a
      // loaded machine can delay the Await wake-up — what matters is that
      // it returns in a small fraction of the 100s the analysis would run
      assert(guardedSecs < 30, s"guard blocked ${guardedSecs}s past its 1s timeout")
    } finally {
      release.countDown()
      g.stop()
    }
  }

  /** A facade whose guarded analysis always throws. */
  private def failingGraft(options: Map[String, String]): StreamingGraft =
    new StreamingGraft(spark, options + ("streamingLens.shouldLogResults" -> "false")) {
      override protected def runGuardedAnalysis(): Seq[CriticalPathResult] =
        throw new IllegalStateException("deliberate analysis failure")
    }

  test("analyzeIfDue returns the ERROR row on every failing due tick") {
    val g = failingGraft(Map(
      "streamingLens.maxRetries" -> "10",
      "streamingLens.analysisIntervalMinutes" -> "5"))
    try {
      val t0 = 10L * 60000L
      Seq(t0, t0 + 5 * 60000L).foreach { t =>
        val out = g.analyzeIfDue(t).map(_.collect().toSeq)
        assert(out.map(_.map(_.streamingQueryState)) === Some(Seq("ERROR")), s"tick at $t")
      }
    } finally g.stop()
  }

  test("stop after a self-shutdown closes the reporter once") {
    CountingReporter.closes.set(0)
    val g = failingGraft(Map(
      "streamingLens.maxRetries" -> "1",
      "streamingLens.reporter.className" -> classOf[CountingReporter].getName))
    assert(g.analyzeGuarded().collect().map(_.streamingQueryState).toSeq === Seq("ERROR"))
    assert(CountingReporter.closes.get === 1, "maxRetries 1: the failure shuts the facade down")
    g.stop()
    assert(CountingReporter.closes.get === 1)
  }

  test("the facade plans no Spark SQL and launches no job") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    CapturingReporter.events.clear()
    val g = new StreamingGraft(spark, Map(
      "streamingLens.shouldLogResults" -> "false",
      "streamingLens.expectedMicroBatchSLAMillis" -> "600000",
      "streamingLens.reporter.className" -> classOf[CapturingReporter].getName))
    val executions = new AtomicInteger()
    val jobs = new AtomicInteger()
    val sqlListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    try {
      val mem = MemoryStream[Int]
      val query = mem.toDS().map(_ + 1)
        .writeStream.format("memory").queryName("graft_no_sql")
        .outputMode("append").start()
      try {
        mem.addData(1 to 500: _*)
        query.processAllAvailable()
        mem.addData(501 to 1000: _*)
        query.processAllAvailable()
      } finally query.stop()
      GraftBus.waitUntilEmpty(spark.sparkContext)
      spark.listenerManager.register(sqlListener)
      spark.sparkContext.addSparkListener(jobListener)
      try {
        g.analyzeNow()
        g.analyzeIfDue()
        g.analyzeGuarded()
        g.reportNow()
        g.reportIfDue()
        GraftBus.waitUntilEmpty(spark.sparkContext)
      } finally {
        spark.listenerManager.unregister(sqlListener)
        spark.sparkContext.removeSparkListener(jobListener)
      }
      assert(executions.get === 0, "Spark SQL executions inside the facade")
      assert(jobs.get === 0, "Spark jobs inside the facade")
      // the calls above did the work: result and aggregate events were sent
      val sent = CapturingReporter.events.asScala.toSeq
      assert(sent.exists(_.contains("\"displayText\":\"Batch ")), s"no result event in $sent")
      assert(sent.exists(_.contains("-aggregate")), s"no aggregate event in $sent")
    } finally g.stop()
  }

  test("full loop: live query + analysis ticker accumulating classified results") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val g = new StreamingGraft(spark, Map(
      "streamingLens.shouldLogResults" -> "false",
      "streamingLens.expectedMicroBatchSLAMillis" -> "600000"))
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val ticker = _root_.graft.streaming.StreamingOps.analysisTicker(spark, 1) { () =>
      g.analyzeGuarded().collect().foreach(r =>
        collected.add((r.queryId, s"${r.batchId}:${r.streamingQueryState}")))
    }
    // The ticker is a streaming query too, so its own (empty, NONEWBATCHES)
    // batches are analyzed beside the live query's; every other row, ERROR
    // rows included, counts.
    def observed = collected.asScala.toSeq.filterNot(_._1 == ticker.id.toString).map(_._2)
    try {
      val mem = MemoryStream[Int]
      // data before start: the first trigger runs a batch rather than
      // posting an idle (zero-row) progress for batch 0
      mem.addData(1 to 2000: _*)
      val q = mem.toDS().map(_ * 2).writeStream.format("memory")
        .queryName("full_loop").outputMode("append").start()
      try {
        q.processAllAvailable()
        var waited = 0
        while (observed.isEmpty && waited < 30000) { Thread.sleep(500); waited += 500 }
      } finally q.stop()
      assert(observed.nonEmpty, "ticker never produced an analysis result")
      assert(observed.head.endsWith("OVERPROVISIONED"))
    } finally {
      ticker.stop()
      g.stop()
    }
  }
}
