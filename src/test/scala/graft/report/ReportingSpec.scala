package graft.report

import graft.SparkSpec
import graft.model.{AggregateStateResult, CriticalPathResult}
import org.apache.spark.sql.functions._

class ReportingSpec extends SparkSpec {

  private def res(b: Long, state: String, ord: Int): CriticalPathResult =
    CriticalPathResult("q", b, 1000, 500, 400, state, ord)

  test("discounted-history: closed form over known states") {
    // batches 1..3 with ordinals 1, 2, 4 (newest = batch 3, ordinal 4)
    val results = Seq(
      res(1, "OVERPROVISIONED", 1),
      res(2, "OPTIMUM", 2),
      res(3, "UNHEALTHY", 4))
    val d = 0.95
    val expected = (4 * 1.0 + 2 * d + 1 * d * d) / (1.0 + d + d * d)
    val (got, _) = Reporting.discountedScore(results, d)("q")
    assert(math.abs(got - expected) < 1e-9)
  }

  test("NONEWBATCHES batches and already-reported batches are excluded") {
    val results = Seq(
      res(1, "UNHEALTHY", 4),        // excluded: batchId <= lastReported
      res(2, "NONEWBATCHES", 0),     // excluded: ordinal 0
      res(3, "OPTIMUM", 2))
    val got = Reporting.discountedScore(results, 0.95, lastReportedBatch = 1L)
    assert(got === Map("q" -> (2.0, 1)))
  }

  test("aggregate state + source-specific recommendation") {
    val results = Seq(res(1, "UNDERPROVISIONED", 3), res(2, "UNDERPROVISIONED", 3))
    val agg = Reporting.aggregate(results, Map("q" -> "KafkaV2[Subscribe[topic]]")).head
    assert(agg.score === 3.0)
    assert(agg.state === "UNDERPROVISIONED")
    assert(agg.recommendation.contains("Kafka"))
  }

  test("pd renders the reference duration format") {
    // criticalTime = brt - inJobs + criticalPath has no floor: -5 ms occurs
    val got = Seq(2094L, 13L, 61007L, 120000L, -5L).map(Reporting.pd)
    assert(got === Seq("02s 094ms", "00s 013ms", "61s 007ms", "120s 000ms", "00s -05ms"))
  }

  // Golden events: captured from the Spark `to_json` renderer this layer
  // replaced. Escapes `"`, `\` and control characters; leaves `/` and
  // non-ASCII as they are.
  private val oddId = "q\"\\/\n\u00e9\u4e2d\u0001"
  private val oddIdJson = "q\\\"\\\\/\\n\u00e9\u4e2d\\u0001"

  test("resultEvent golden strings: escaping and long durations") {
    assert(Reporting.resultEvent(
      CriticalPathResult(oddId, 7, 1000, 500, 400, "OPTIMUM", 2), "graft", "run", 123L) ===
      s"""{"eventId":"$oddIdJson-7","name":"graft","runId":"run","eventTimeMillis":123,""" +
        """"state":"OPTIMUM","displayText":"Batch 7: running 00s 500ms, critical 00s 400ms, SLA 01s 000ms"}""")
    assert(Reporting.resultEvent(
      CriticalPathResult("q", 8, 120000, 120000, 61007, "UNHEALTHY", 4), "graft", "run", 123L) ===
      """{"eventId":"q-8","name":"graft","runId":"run","eventTimeMillis":123,""" +
        """"state":"UNHEALTHY","displayText":"Batch 8: running 120s 000ms, critical 61s 007ms, SLA 120s 000ms"}""")
    assert(Reporting.resultEvent(
      CriticalPathResult("q", 9, 1000, 13, -5, "OVERPROVISIONED", 1), "graft", "run", 123L) ===
      """{"eventId":"q-9","name":"graft","runId":"run","eventTimeMillis":123,""" +
        """"state":"OVERPROVISIONED","displayText":"Batch 9: running 00s 013ms, critical 00s -05ms, SLA 01s 000ms"}""")
  }

  test("aggregateEvent golden strings: escaping and HALF_UP score rounding") {
    def ev(a: AggregateStateResult) = Reporting.aggregateEvent(a, "graft", "aggregate", 123L)
    assert(ev(AggregateStateResult(oddId, 2.675, "UNDERPROVISIONED", "rec \"x\"\n")) ===
      s"""{"eventId":"$oddIdJson-aggregate","name":"graft","runId":"aggregate","eventTimeMillis":123,""" +
        """"state":"UNDERPROVISIONED","displayText":"Aggregate state UNDERPROVISIONED (score 2.68): rec \"x\"\n"}""")
    assert(ev(AggregateStateResult("q", 3.0, "UNDERPROVISIONED", "r")) ===
      """{"eventId":"q-aggregate","name":"graft","runId":"aggregate","eventTimeMillis":123,""" +
        """"state":"UNDERPROVISIONED","displayText":"Aggregate state UNDERPROVISIONED (score 3.0): r"}""")
    assert(ev(AggregateStateResult("q", 1.23456, "OVERPROVISIONED", "r")) ===
      """{"eventId":"q-aggregate","name":"graft","runId":"aggregate","eventTimeMillis":123,""" +
        """"state":"OVERPROVISIONED","displayText":"Aggregate state OVERPROVISIONED (score 1.23): r"}""")
  }

  test("renderJson emits one compact event per result") {
    import spark.implicits._
    val js = Reporting.renderJson(Seq(res(7, "OPTIMUM", 2)).toDS(), "myquery",
      "run-1", lit(123L)).head().getString(0)
    assert(js.contains("\"eventId\":\"q-7\""))
    assert(js.contains("\"state\":\"OPTIMUM\""))
    assert(js.contains("\"eventTimeMillis\":123"))
    assert(js.contains("00s 500ms"))
    assert(js === Reporting.resultEvent(res(7, "OPTIMUM", 2), "myquery", "run-1", 123L))
  }

  test("logBlock formats the reference driver-log shape") {
    val block = Reporting.logBlock(res(7, "OPTIMUM", 2))
    assert(block.contains("batch 7"))
    assert(block.contains("00s 500ms"))
    assert(block.contains("OPTIMUM"))
  }
}
