package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Threshold classifiers, generalizing the reference's SLA state machine
  * (qubole/streaminglens `analyzer/StreamingCriticalPathAnalyzer.scala:60-87`
  * and `common/StreamingState.scala:21-30`).
  */
object Classify {

  /** Streaming states with the reference's semantic ordinals
    * (`common/StreamingState.scala:21-30`) — the ordinal feeds the
    * discounted average and the metrics gauge. */
  val stateOrdinals: Map[String, Int] = Map(
    "ERROR" -> -1,
    "NONEWBATCHES" -> 0,
    "OVERPROVISIONED" -> 1,
    "OPTIMUM" -> 2,
    "UNDERPROVISIONED" -> 3,
    "UNHEALTHY" -> 4)

  /** 4-way SLA classifier over batch running time `brt` and critical time
    * `ct` vs `sla` (thresholds per the reference's defaults,
    * `config/StreamingLensConfig.scala:31-38`):
    *
    *   - brt ≤ 0.3·sla                     → OVERPROVISIONED
    *   - 0.3·sla < brt ≤ 0.7·sla           → OPTIMUM
    *   - brt > 0.7·sla ∧ ct ≤ 0.7·sla      → UNDERPROVISIONED
    *   - brt > 0.7·sla ∧ ct > 0.7·sla      → UNHEALTHY
    *
    * Unlike the reference's non-exhaustive `match` (which could throw
    * `MatchError`, see SURVEY.md §2.1-G), the `when` chain here is total.
    */
  def slaState(brt: Column, ct: Column, sla: Column,
               lowFrac: Double = 0.3, highFrac: Double = 0.7): Column =
    when(brt <= sla * lowFrac, "OVERPROVISIONED")
      .when(brt <= sla * highFrac, "OPTIMUM")
      .when(ct <= sla * highFrac, "UNDERPROVISIONED")
      .otherwise("UNHEALTHY")

  /** 5-band aggregate-state classifier over a discounted score
    * (`helper/StreamingLensReportingHelper.scala:103-141`), made total: the
    * reference's `(0,1)` gap maps to OVERPROVISIONED here (closest band). */
  def aggregateState(score: Double): String =
    if (score == 0.0) "NONEWBATCHES"
    else if (score <= 1.5) "OVERPROVISIONED"
    else if (score <= 2.5) "OPTIMUM"
    else if (score <= 3.5) "UNDERPROVISIONED"
    else "UNHEALTHY"
}
