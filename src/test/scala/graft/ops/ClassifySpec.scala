package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Truth table for the SLA state classifier incl. the 0.3/0.7 boundary
  * values (ref `analyzer/StreamingCriticalPathAnalyzer.scala:60-87`). */
class ClassifySpec extends SparkSpec {

  private def classify(brt: Double, ct: Double, sla: Double = 1000.0): String = {
    import spark.implicits._
    Seq((brt, ct, sla)).toDF("brt", "ct", "sla")
      .select(Classify.slaState(col("brt"), col("ct"), col("sla")).as("s"))
      .head().getString(0)
  }

  test("truth table incl. exact threshold boundaries") {
    // brt <= 0.3*sla => OVERPROVISIONED (boundary inclusive)
    assert(classify(299, 299) === "OVERPROVISIONED")
    assert(classify(300, 300) === "OVERPROVISIONED")
    // 0.3*sla < brt <= 0.7*sla => OPTIMUM (upper boundary inclusive)
    assert(classify(301, 301) === "OPTIMUM")
    assert(classify(700, 700) === "OPTIMUM")
    // brt > 0.7*sla, ct <= 0.7*sla => UNDERPROVISIONED
    assert(classify(701, 700) === "UNDERPROVISIONED")
    assert(classify(5000, 1) === "UNDERPROVISIONED")
    // brt > 0.7*sla, ct > 0.7*sla => UNHEALTHY
    assert(classify(701, 701) === "UNHEALTHY")
    assert(classify(5000, 5000) === "UNHEALTHY")
  }

  test("classifier is total (no MatchError analog) even for degenerate input") {
    assert(classify(0, 0) === "OVERPROVISIONED")
    assert(classify(-5, -5) === "OVERPROVISIONED") // clamps into first band
  }

  test("aggregate state bands incl. edges 1.5/2.5/3.5 and the (0,1) gap") {
    val got = Seq(0.0, 0.5, 1.0, 1.5, 1.6, 2.5, 2.6, 3.5, 3.6, 4.0)
      .map(Classify.aggregateState)
    assert(got === Seq(
      "NONEWBATCHES",
      "OVERPROVISIONED", // (0,1) gap mapped to the closest band (total fn)
      "OVERPROVISIONED", "OVERPROVISIONED",
      "OPTIMUM", "OPTIMUM",
      "UNDERPROVISIONED", "UNDERPROVISIONED",
      "UNHEALTHY", "UNHEALTHY"))
  }

  test("state ordinals carry the reference encoding") {
    assert(Classify.stateOrdinals("NONEWBATCHES") === 0)
    assert(Classify.stateOrdinals("OVERPROVISIONED") === 1)
    assert(Classify.stateOrdinals("OPTIMUM") === 2)
    assert(Classify.stateOrdinals("UNDERPROVISIONED") === 3)
    assert(Classify.stateOrdinals("UNHEALTHY") === 4)
    assert(Classify.stateOrdinals("ERROR") === -1)
  }
}
