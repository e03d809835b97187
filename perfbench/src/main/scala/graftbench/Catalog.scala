package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.BusShim

import graft.SparkEntry
import graft.analyzer.{CriticalPath, SpanBuilder}
import graft.ingest.ListenerBridge
import graft.queries.ExtQueries

/** Persisted RDD block bytes, current and peak. */
private class StorageListener extends SparkListener {
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile var current = 0L
  @volatile var peak = 0L
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) synchronized {
      val bytes = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val old = Option(blocks.put(i.blockId.name, bytes)).getOrElse(0L)
      current += bytes - old
      peak = math.max(peak, current)
    }
  }
  def resetPeak(): Unit = synchronized { peak = current }
}

/** Task-level costs of the timed keys (traced run only): jobs launched under
  * the key local property, so set-up and the critical-path analysis between
  * keys are not counted. */
private class TaskListener extends SparkListener {
  @volatile var firstJobStart = Long.MaxValue
  var tasks = 0L; var taskMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var gcMs = 0L
  val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty(Catalog.KeyProperty) != null)) {
      firstJobStart = math.min(firstJobStart, e.time)
      e.stageIds.foreach(stageTasks.putIfAbsent(_, ArrayBuffer.empty[Long]))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (stageTasks.containsKey(e.stageId)) synchronized {
    tasks += 1
    val d = Option(e.taskInfo).map(_.duration).getOrElse(0L)
    taskMs += d
    stageTasks.get(e.stageId) += d
    Option(e.taskMetrics).foreach { m =>
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
  }
}

/** `catalog-core`: a fixed, ordered subset of the query catalog, once per
  * repetition. It never touches the lens, so it is the no-change control
  * for lens work (and the lens workloads are the control for catalog
  * work). Each repetition drops the shared frames, warms every key once at
  * the small scale (the set-up), then forces each key at the timed scale
  * with a `noop` write, shared-frame producers before their consumers. */
object Catalog {
  /** One key per operator family that fits the run budget; x132 builds the
    * shared lexical postings frame that x127 then reads. */
  val Keys: Seq[String] = Seq(
    "q09_tpch_q1", "q19_json", "x71_label_centroid_sim", "x132_bm25_prf", "x127_bm25_topk")
  val KeyProperty = "graftbench.key"

  private def force(spark: SparkSession, key: String, dir: String): Unit =
    SparkEntry.queries(key)(spark, dir).write.format("noop").mode("overwrite").save()

  /** The warm-up writes each key's small-scale output for the oracle check. */
  private def warm(spark: SparkSession, key: String, dir: String, outDir: String): Unit =
    SparkEntry.queries(key)(spark, dir).write.mode("overwrite").parquet(s"$outDir/$key")

  /** Repetitions at least: `setup_s` is a median over them. */
  private val MinReps = 2

  def run(spark: SparkSession, dataDir: String, warmDir: String, outDir: String,
          seconds: Double, traced: Boolean, trace: Trace): Result = {
    val shim = new BusShim(spark)
    val storage = new StorageListener
    spark.sparkContext.addSparkListener(storage)
    val setups = ArrayBuffer.empty[Double]
    val totals = ArrayBuffer.empty[(Double, Boolean)]
    val latency = ArrayBuffer.empty[Double]
    val lag = ArrayBuffer.empty[Double]
    val peaks = ArrayBuffer.empty[Double]
    val wall = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val critical = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    var failed = 0L
    var attempted = 0L
    var tasks: Option[TaskListener] = None
    var bridge: Option[ListenerBridge.SchedulerBridge] = None
    val perPass = ArrayBuffer.empty[Map[String, Double]]
    lazy val lensSpark = spark.newSession()
    val dirName = new java.io.File(dataDir).getName

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // In a traced run the first half is untraced, for the overhead figure.
    var rep = 0
    while (rep < MinReps || elapsed < seconds) {
      val tracing = traced && (elapsed >= seconds / 2 && rep >= 1)
      if (tracing && tasks.isEmpty) {
        val t = new TaskListener
        val b = new ListenerBridge.SchedulerBridge()
        spark.sparkContext.addSparkListener(t)
        spark.sparkContext.addSparkListener(b)
        tasks = Some(t); bridge = Some(b)
      }
      val s0 = System.nanoTime()
      ExtQueries.clearSharedFrames()
      Keys.foreach(k => try warm(spark, k, warmDir, outDir) catch { case e: Exception =>
        System.err.println(s"[perfbench] warm-up of $k failed: $e") })
      setups += (System.nanoTime() - s0) / 1e9
      System.err.println(f"[perfbench] set-up ${setups.last}%.2f s")
      shim.waitUntilEmpty()
      storage.resetPeak()
      val builtBefore = ExtQueries.sharedFrameBuildSecs
      var preJob = 0.0
      var passS = 0.0
      for (k <- Keys) {
        attempted += 1
        tasks.foreach(_.firstJobStart = Long.MaxValue)
        bridge.foreach(_.evictBefore(Long.MaxValue))
        val keyStartMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        if (tracing) spark.sparkContext.setLocalProperty(KeyProperty, k)
        val ok = try trace.span(s"catalog.$k") { force(spark, k, dataDir); true }
        catch { case e: Exception => System.err.println(s"[perfbench] $k failed: $e"); false }
        finally spark.sparkContext.setLocalProperty(KeyProperty, null)
        val t1 = System.nanoTime()
        if (!ok) failed += 1
        // a pass's clock counts key time only, not the traced run's
        // bookkeeping between keys
        passS += (t1 - t0) / 1e9
        latency += (t1 - t0) / 1e6
        lag += passS * 1e3
        wall.getOrElseUpdate(k, ArrayBuffer.empty) += (t1 - t0) / 1e9
        System.err.println(f"[perfbench] $k ${(t1 - t0) / 1e9}%.2f s")
        if (tracing) {
          shim.waitUntilEmpty()
          tasks.foreach(t => if (t.firstJobStart != Long.MaxValue)
            preJob += (t.firstJobStart - keyStartMs) / 1e3)
          bridge.foreach(b => critical.getOrElseUpdate(k, ArrayBuffer.empty) +=
            criticalSeconds(lensSpark, b))
        }
      }
      totals += ((passS, tracing))
      shim.waitUntilEmpty()
      peaks += storage.peak / 1048576.0
      if (tracing) {
        val built = ExtQueries.sharedFrameBuildSecs.filter { case (tag, s) =>
          tag.startsWith(dirName + ":") && !builtBefore.get(tag).contains(s) }
        perPass += Map("catalog.pre_job_s" -> preJob, "catalog.frame_build_s" -> built.values.sum)
      }
      rep += 1
    }

    val oracle = SparkEntry.oracleSql
    // every key, with its oracle SQL or null (rows-only check)
    val oracleJson = Keys.map(k => s"${Json.str(k)}:${oracle.get(k).map(Json.str).getOrElse("null")}")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "oracle_sql.json"), oracleJson)

    spark.sparkContext.removeSparkListener(storage)
    tasks.foreach(spark.sparkContext.removeSparkListener)
    bridge.foreach(spark.sparkContext.removeSparkListener)
    System.err.println(f"[perfbench] ${totals.size} catalog passes: " +
      totals.map(t => f"${t._1}%.2f").mkString(", ") + " s")

    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "latency_p50_ms" -> Stats.median(latency.toSeq), "latency_tail_ms" -> Stats.tail(latency.toSeq),
      "lag_p50_ms" -> Stats.median(lag.toSeq), "lag_tail_ms" -> Stats.tail(lag.toSeq))
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val t = tasks.get
        val skew = t.stageTasks.values.asScala.filter(_.size > 1).map { ds =>
          val m = Stats.median(ds.map(_.toDouble).toSeq)
          if (m > 0) ds.max / m else 1.0
        }.foldLeft(1.0)(math.max)
        val passes = math.max(1, perPass.size).toDouble
        val tracedTotals = totals.filter(_._2).map(_._1).toSeq
        val untracedTotals = totals.filterNot(_._2).map(_._1).toSeq
        Keys.flatMap(k => Seq(
          s"catalog.$k.wall_s" -> Stats.median(wall(k).toSeq),
          s"catalog.$k.critical_s" -> Stats.median(critical.getOrElse(k, ArrayBuffer.empty).toSeq))).toMap ++
        Map(
          "catalog.pre_job_s" -> Stats.median(perPass.map(_("catalog.pre_job_s")).toSeq),
          "catalog.frame_build_s" -> Stats.median(perPass.map(_("catalog.frame_build_s")).toSeq),
          "catalog.tasks" -> t.tasks / passes,
          "catalog.task_s" -> t.taskMs / 1e3 / passes,
          "catalog.shuffle_mb" -> t.shuffleBytes / 1048576.0 / passes,
          "catalog.spill_mb" -> t.spillBytes / 1048576.0 / passes,
          "catalog.gc_s" -> t.gcMs / 1e3 / passes,
          "catalog.skew_max" -> skew,
          "catalog.total_s" -> Stats.median(totals.map(_._1).toSeq),
          "catalog.storage_peak_mb" -> Stats.median(peaks.toSeq),
          "trace.overhead_ms" -> (Stats.median(tracedTotals) - Stats.median(untracedTotals)) * 1e3,
          "samples" -> latency.size.toDouble)
      }
    Result(attempted, failed, e2e, layers)
  }

  /** A key's critical time from the engine's own pipeline: its scheduler
    * events, captured by `ListenerBridge.SchedulerBridge`, through
    * `SpanBuilder` and `CriticalPath`; jobs that overlap form one island,
    * and islands add up. */
  private def criticalSeconds(ls: SparkSession, b: ListenerBridge.SchedulerBridge): Double = {
    val events = b.snapshot(ls).collect()
    b.evictBefore(Long.MaxValue)
    import ls.implicits._
    val ev = ls.createDataset(events.toSeq)
    val jobs = SpanBuilder.jobSpans(ev).collect().sortBy(_.startTime)
    val ct = CriticalPath.perJob(SpanBuilder.stageSpans(ev)).collect().toMap
    var total = 0L
    var islandEnd = Long.MinValue
    var islandMax = 0L
    jobs.foreach { j =>
      val c = ct.getOrElse(j.jobId, 0L)
      if (j.startTime > islandEnd) { total += islandMax; islandMax = c }
      else islandMax = math.max(islandMax, c)
      islandEnd = math.max(islandEnd, j.endTime)
    }
    (total + islandMax) / 1e3
  }
}
