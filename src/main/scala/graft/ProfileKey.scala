package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-job/stage profiling harness for the optimization rounds: runs one
  * catalog key against a data dir and prints, per Spark job, wall time,
  * stage count, task count and total task time — so "where does this
  * 4-second key spend its time" is answerable without the UI (disabled
  * in bench runs). Usage:
  *   runMain graft.ProfileKey <sfDir> <key> [repeat]
  */
object ProfileKey {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileKey <sfDir> <key> [repeat]")
    val sfDir = args(0); val key = args(1)
    val repeat = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stageCounts = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskCounts = new java.util.concurrent.atomic.AtomicLong(0L)
    val taskTime = new java.util.concurrent.atomic.AtomicLong(0L)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (System.nanoTime(),
          Option(j.properties).map(_.getProperty("spark.job.description", ""))
            .getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, desc) =>
          lines.add(f"job ${j.jobId}%3d  ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stageCounts.incrementAndGet()
        taskCounts.addAndGet(s.stageInfo.numTasks)
      }
    })
    val fn = SparkEntry.queries(key)
    for (i <- 1 to repeat) {
      lines.clear(); stageCounts.set(0); taskCounts.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.GraftBus.waitUntilEmpty(spark.sparkContext)
      println(f"=== run $i: $key wall=$wall%.3f s jobs=${lines.size} stages=${stageCounts.get} tasks=${taskCounts.get}")
      lines.forEach(l => println("  " + l))
    }
    spark.stop()
  }
}
