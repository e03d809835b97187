package graft.report

import java.io.StringWriter
import java.util.Locale

import scala.math.BigDecimal.RoundingMode

import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, udf}

import graft.model.{AggregateStateResult, CriticalPathResult}
import graft.ops.Classify

/** Rolling health reporting — the reference's hourly discounted aggregation
  * + recommendation text + JSON event rendering
  * (ref `helper/StreamingLensReportingHelper.scala:80-207`). Like the
  * reference, it runs on the driver over the few result rows the facade
  * already holds: plain Scala, no Spark plan.
  */
object Reporting {

  /** Exponentially-discounted health score per query over recent batch
    * states: newest batch weight 1, then `discount`, `discount²`, …
    * (ref `StreamingLensReportingHelper.scala:180-197`). NONEWBATCHES
    * (ordinal 0) batches and batches already reported are excluded
    * (ref `:181-182`). Returns queryId → (score, batches scored). */
  def discountedScore(results: Seq[CriticalPathResult],
                      discount: Double = 0.95,
                      lastReportedBatch: Long = -1L): Map[String, (Double, Int)] =
    results.filter(r => r.stateOrdinal != 0 && r.batchId > lastReportedBatch)
      .groupBy(_.queryId).map { case (q, rs) =>
        val weights = rs.indices.map(math.pow(discount, _))
        val ordinals = rs.sortBy(-_.batchId).map(_.stateOrdinal)
        q -> (ordinals.zip(weights).map { case (o, w) => o * w }.sum / weights.sum, rs.size)
      }

  /** Recommendation text per aggregate state, specialized by source kind
    * like the reference's Kafka/File/Kinesis dispatch
    * (ref `StreamingLensReportingHelper.scala:103-175`); texts are our own. */
  def recommendation(state: String, sourcesDesc: String): String = {
    val src = sourcesDesc.toLowerCase(Locale.ROOT)
    val sourceHint =
      if (src.contains("kafka")) " For Kafka sources, lower the per-trigger offset cap to shrink batches."
      else if (src.contains("file")) " For file sources, lower the per-trigger file cap to shrink batches."
      else if (src.contains("kinesis")) " For Kinesis sources, lower the per-shard fetch rate to shrink batches."
      else ""
    state match {
      case "NONEWBATCHES" => "No data has arrived recently; verify the source is producing."
      case "OVERPROVISIONED" =>
        "Batches finish well under the SLA; consider fewer/smaller executors or a longer trigger interval to cut cost."
      case "OPTIMUM" => "Pipeline is healthy; no action needed."
      case "UNDERPROVISIONED" =>
        "Batches exceed the healthy SLA fraction but the critical path fits; add executors to increase parallelism." +
          sourceHint
      case _ =>
        "Even infinite parallelism cannot meet the SLA; reduce per-record work, raise the SLA, or shrink batches." +
          sourceHint
    }
  }

  /** Aggregate state + recommendation per query, ordered by queryId
    * (ref `StreamingLensReportingHelper.scala:103-141`); `sourcesByQuery`
    * maps a queryId to its sources description. */
  def aggregate(results: Seq[CriticalPathResult],
                sourcesByQuery: Map[String, String],
                discount: Double = 0.95): Seq[AggregateStateResult] =
    discountedScore(results, discount).toSeq.sortBy(_._1).map { case (q, (score, _)) =>
      val state = Classify.aggregateState(score)
      AggregateStateResult(q, score, state,
        recommendation(state, sourcesByQuery.getOrElse(q, "")))
    }

  /** Pretty duration, the reference's `pd()`:
    * millis → "NNs NNNms" (ref `QueryInsightsManager.scala:228-232`).
    * `%02d` pads short values but never truncates long ones. */
  def pd(ms: Long): String = "%02ds %03dms".formatLocal(Locale.ROOT, ms / 1000, ms % 1000)

  private val jsonFactory = new JsonFactory()

  /** The event envelope (ref `StreamingLensReportingHelper.scala:80-92`),
    * written like Spark's `to_json`: compact, null fields omitted. */
  private def event(eventId: String, name: String, runId: String,
                    eventTimeMillis: Long, state: String, displayText: String): String = {
    val out = new StringWriter()
    val g = jsonFactory.createGenerator(out)
    def str(k: String, v: String): Unit = if (v != null) g.writeStringField(k, v)
    g.writeStartObject()
    str("eventId", eventId)
    str("name", name)
    str("runId", runId)
    g.writeNumberField("eventTimeMillis", eventTimeMillis)
    str("state", state)
    str("displayText", displayText)
    g.writeEndObject()
    g.close()
    out.toString
  }

  /** JSON event for one analysis result. */
  def resultEvent(r: CriticalPathResult, queryName: String, runId: String,
                  eventTimeMillis: Long): String =
    event(s"${r.queryId}-${r.batchId}", queryName, runId, eventTimeMillis,
      r.streamingQueryState,
      s"Batch ${r.batchId}: running ${pd(r.batchRunningTime)}, " +
        s"critical ${pd(r.criticalTime)}, SLA ${pd(r.expectedMicroBatchSLA)}")

  /** JSON event for one aggregate report row; the score is rounded HALF_UP
    * to 2 places, as Spark's `round` does. */
  def aggregateEvent(a: AggregateStateResult, queryName: String, runId: String,
                     eventTimeMillis: Long): String = {
    val score = BigDecimal(a.score).setScale(2, RoundingMode.HALF_UP).toDouble
    event(s"${a.queryId}-aggregate", queryName, runId, eventTimeMillis, a.state,
      s"Aggregate state ${a.state} (score $score): ${a.recommendation}")
  }

  /** [[resultEvent]] over a Dataset of results, one `event` column. */
  def renderJson(results: Dataset[CriticalPathResult], queryName: String,
                 runId: String, analysisTimeMs: Column): DataFrame = {
    val render = udf((q: String, b: Long, sla: Long, brt: Long, ct: Long, state: String, t: Long) =>
      resultEvent(CriticalPathResult(q, b, sla, brt, ct, state, 0), queryName, runId, t))
    results.toDF().select(render(col("queryId"), col("batchId"), col("expectedMicroBatchSLA"),
      col("batchRunningTime"), col("criticalTime"), col("streamingQueryState"),
      analysisTimeMs).as("event"))
  }

  /** Driver-log pretty block for one aggregate report
    * (ref `StreamingLensReportingHelper.scala:199-207`); texts our own. */
  def aggregateLogBlock(a: AggregateStateResult): String =
    s"""|StreamingLens aggregate - query ${a.queryId}
        |  Aggregate State:  ${a.state} (score ${"%.2f".format(a.score)})
        |  Recommendation:   ${a.recommendation}""".stripMargin

  /** Driver-log pretty block for one analysis
    * (ref `QueryInsightsManager.scala:206-232`). */
  def logBlock(r: CriticalPathResult): String =
    s"""|StreamingLens report - query ${r.queryId} batch ${r.batchId}
        |  Expected Micro Batch SLA: ${pd(r.expectedMicroBatchSLA)}
        |  Batch Running Time:       ${pd(r.batchRunningTime)}
        |  Critical Time:            ${pd(r.criticalTime)}
        |  Streaming Query State:    ${r.streamingQueryState}""".stripMargin
}
